"""Sinks: ordered single-file CSV/parquet writers (SURVEY.md §7 step 7).

The reference's product contract is ONE downloadable CSV named
``{file_name}_final.csv`` (test.py:248-253). Distributed writes produce a
directory of part files, so the single-file edge is: sort -> coalesce(1)
-> write -> rename the part file. ``coalesce(1)`` funnels the final
(already small, post-aggregation/post-sort) result through one task —
acceptable for a result artifact; internal intermediates should use
``write_parquet`` (distributed, partitioned) instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_single_csv(df: DataFrame, dest_path: str, header: bool = True) -> str:
    """Write ``df`` as exactly one CSV file at ``dest_path`` on ANY Hadoop
    filesystem (local paths, file:/, s3a://, hdfs://): stage a coalesced
    directory, locate the single part file through the FileSystem API,
    rename it onto the final key, delete the staging dir. On S3 the
    rename is a server-side copy+delete of ONE small object — the
    product contract is a single downloadable CSV (reference put_object,
    test.py:248-253), and a bare ``.csv(dir)`` write would leave a
    part-file DIRECTORY at the advertised key (NoSuchKey on download).
    """
    spark = df.sparkSession
    staging = dest_path + "._staging"
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", str(header).lower())
        # bare empty field (",\n") like the reference's csv.writer, not "\"\""
        .option("emptyValue", "")
        .csv(staging)
    )
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    staging_p = jvm.org.apache.hadoop.fs.Path(staging)
    dest_p = jvm.org.apache.hadoop.fs.Path(dest_path)
    fs = staging_p.getFileSystem(hconf)
    part = None
    for st in fs.listStatus(staging_p):
        name = st.getPath().getName()
        if name.startswith("part-"):
            part = st.getPath()
            break
    if part is None:
        raise FileNotFoundError(f"no part file under {staging}")
    if fs.getScheme() == "file":
        # the local FS's checksum sidecar would follow the rename and
        # leave a hidden .crc beside the one output file
        fs.delete(fs.getChecksumFile(part), False)
    if fs.exists(dest_p):
        fs.delete(dest_p, False)
    # Hadoop FileSystem.rename signals failure by RETURNING FALSE, not
    # raising — swallowing it would delete the staging dir and report
    # success while nothing exists at the advertised key (NoSuchKey on
    # download, the exact symptom this helper exists to prevent).
    if not fs.rename(part, dest_p):
        raise IOError(f"rename {part} -> {dest_path} failed")
    fs.delete(staging_p, True)
    return dest_path


def write_parquet(
    df: DataFrame, dest_dir: str, partition_by: list[str] | None = None
) -> str:
    """Distributed parquet sink — the scale path for intermediates."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dest_dir)
    return dest_dir


def compact_parquet(
    spark, src_dir: str, dest_dir: str, target_file_mb: int = 128
) -> str:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_file_mb`` each.

    Streaming sinks and per-batch MV snapshots accrete many small files;
    at 100 TB small files dominate job setup (one task + one NN/listing
    round-trip each) and wreck scan throughput. File count is sized from
    the ACTUAL on-disk bytes (not row counts), and the rewrite is a
    plain repartition — no shuffle key, so it's a round-robin exchange
    that also rebalances skewed input files. On a real deployment this
    runs per-partition-directory (compact yesterday's partition, swap
    atomically like streaming/incremental.py snapshots).
    """
    import math

    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_dir)
        for f in files
        if f.endswith(".parquet") or f.startswith("part-")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    df.repartition(n_files).write.mode("overwrite").parquet(dest_dir)
    return dest_dir


def write_range_clustered(
    df: DataFrame, dest_dir: str, cluster_cols: list[str], n_files: int
) -> str:
    """Range-clustered sorted parquet: co-locate key ranges per file and
    sort within, so every file's footer min/max statistics on
    ``cluster_cols[0]`` are disjoint (asserted in tests/test_scale.py).

    This is the layout that makes selective scans cheap at 100 TB: a
    range or point predicate on the cluster key prunes to the few files
    whose [min, max] intersect it — before any task launches — and
    row-group statistics prune further inside each file. The write costs
    one range-partitioned shuffle (Spark samples the key distribution,
    so skewed keys still split evenly across files); reads repay it on
    every query. The same layout feeds sort-merge joins without a
    re-sort when both sides cluster on the join key.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(dest_dir)
    )
    return dest_dir


# ------------------------------------------- atomic versioned publish

LATEST_POINTER = "_LATEST"


def publish_versioned(
    df: DataFrame, root: str, keep_versions: int = 3
) -> str:
    """Publish a DataFrame as the next immutable corpus version and
    atomically flip the `_LATEST` pointer to it.

    Layout: ``root/v=N/`` per version (never rewritten once published)
    plus a one-line ``root/_LATEST`` pointer file. The write happens
    entirely into the new version directory; only after it completes is
    the pointer replaced via write-temp + ``os.replace`` (atomic on
    POSIX, and the object-store equivalent is a conditional pointer
    swap). Readers that resolved the pointer before the flip keep
    reading a complete, immutable old version — a crash mid-write
    leaves a dangling unreferenced directory, never a half-visible
    corpus. This is the snapshot-isolation contract table formats
    (Iceberg/Delta) provide, reduced to its filesystem core: at 100 TB
    you use those formats; this is the dependency-free equivalent for
    plain-parquet deployments.

    Old versions beyond ``keep_versions`` are deleted only AFTER the
    pointer moves, so concurrent readers of recently-superseded
    versions get a grace window (bounded by publish cadence).
    """
    import os
    import shutil

    os.makedirs(root, exist_ok=True)
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    n = (versions[-1] + 1) if versions else 1
    target = os.path.join(root, f"v={n}")
    df.write.mode("overwrite").parquet(target)
    tmp = os.path.join(root, f".{LATEST_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write(f"v={n}\n")
    os.replace(tmp, os.path.join(root, LATEST_POINTER))
    for old in versions[: max(0, len(versions) - (keep_versions - 1))]:
        shutil.rmtree(os.path.join(root, f"v={old}"), ignore_errors=True)
    return target


def read_latest(spark, root: str) -> DataFrame:
    """Resolve the `_LATEST` pointer and scan that immutable version."""
    import os

    with open(os.path.join(root, LATEST_POINTER)) as f:
        version = f.read().strip()
    return spark.read.parquet(os.path.join(root, version))
