"""Environment-robustness guards (TESTDATA.md post-mortem rules).

r02's driver-red queries passed the local harness because the harness
pinned what the driver does not (session timezone) and shared what the
driver may not (engine builds' rounding conventions). These tests make
the robustness RULES permanent:

1. no registered query outputs a session-zone TIMESTAMP column (the
   rendering of those depends on the session/host zone pair) — NTZ,
   DATE, STRING, numeric only; the three pre-rule driver-green queries
   are frozen exceptions;
2. the timekit helpers are bit-stable under a session-zone flip
   (the split-TZ environment that exposed q91/q134);
3. INTERNAL time math on NTZ columns never routes through the
   session-zone-promoting functions (cast("timestamp"),
   date_trunc, unix_timestamp, unix_micros, to_timestamp): constant
   offsets cancel in differences, but a session-zone DST transition
   INSIDE a gap/bucket/frame distorts the arithmetic on data the
   fixture can't exhibit — a source-level grep makes the timekit
   discipline permanent (r03).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

# driver-green before the no-LTZ rule existed; frozen (changing their
# output type would invalidate recorded CORRECTNESS rows)
_LTZ_FROZEN = {"q80_retention", "q104_hypertable_rollup", "q108_interpolate_gaps"}

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry_frames(spark):
    """Every registered query's frame at sf0.001, built once for both
    whole-registry checks below.

    fn() is not free — iterative/streaming queries execute their
    driver-side loops during construction (BPE merges, stream drains,
    IVF training) — but every query's OUTPUT schema, the thing these
    guards check, only exists on the constructed frame."""
    from batch_processing_new_spark import registry

    return {
        name: spec.fn(spark, SF_DIR)
        for name, spec in registry.all_specs().items()
    }


def test_no_new_query_outputs_session_zone_timestamp(registry_frames):
    offenders = {}
    for name, df in registry_frames.items():
        if name in _LTZ_FROZEN:
            continue
        ltz = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampType)
        ]
        if ltz:
            offenders[name] = ltz
    assert not offenders, (
        f"session-zone TIMESTAMP output columns (TZ-sensitive rendering; "
        f"use functions/timekit.py or cast to timestamp_ntz/date/string): "
        f"{offenders}"
    )


def test_no_nullable_bigint_exceeds_hash_digit_precision(registry_frames):
    """A NULLABLE integer column whose values exceed 9 significant
    digits hashes differently across materialization paths: pandas
    promotes nullable int64 to float64, so the cell renders "%.9g"
    scientific ("2.12511503e+10") on one path and as the full digit
    string ("21251150270") on another — whether the driver agrees with
    the local harness then depends on ITS pandas/fetch internals, the
    exact false-green class r02 exposed. q122's gap_us was the one
    such column (now DOUBLE on both sides); this keeps the registry
    free of the class. Non-null int columns are safe (pandas keeps
    int64 -> full digit string everywhere)."""
    offenders = []
    for name, df in registry_frames.items():
        intcols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.LongType, T.IntegerType))
        ]
        if not intcols:
            continue
        aggs = []
        for c in intcols:
            aggs.append(
                F.max(F.abs(F.col(c).cast("long"))).alias(f"mx_{c}")
            )
            aggs.append(
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias(f"nn_{c}")
            )
        r = df.agg(*aggs).collect()[0]
        for c in intcols:
            if (r[f"nn_{c}"] or 0) > 0 and (r[f"mx_{c}"] or 0) >= 10**9:
                offenders.append(f"{name}.{c}")
    assert not offenders, (
        "nullable int columns with >9-significant-digit values — the "
        "pandas float-promotion hash hazard; ship as DOUBLE or "
        "guarantee non-null: " + ", ".join(offenders)
    )


@pytest.fixture()
def ny_session_tz(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", prev)


def test_timekit_is_session_zone_independent(ny_session_tz):
    """Every timekit helper must produce the SAME values under a
    non-UTC session zone as the naive/UTC math says — the split
    session-vs-host environment that flipped date_trunc-based
    queries."""
    from batch_processing_new_spark.functions import timekit as tk

    spark = ny_session_tz
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-15 14:30:45.123456' AS ts"
    )
    r = df.select(
        tk.epoch_seconds(F.col("ts")).alias("es"),
        tk.epoch_micros(F.col("ts")).alias("eus"),
        tk.day_ntz(F.col("ts")).alias("day"),
        tk.day_index(tk.epoch_seconds(F.col("ts"))).alias("didx"),
        tk.day_from_index(
            tk.day_index(tk.epoch_seconds(F.col("ts")))
        ).alias("day2"),
    ).collect()[0]
    assert r.es == 1705329045  # naive-as-UTC epoch, no zone shift
    assert r.eus == 1705329045123456
    assert str(r.day) == "2024-01-15 00:00:00"
    assert r.didx == 1705329045 // 86400
    assert r.day == r.day2

    # the anti-pattern really is zone-dependent (proves the split
    # environment this guard simulates is the dangerous one)
    ltz = df.select(F.date_trunc("day", "ts").alias("d")).schema["d"]
    assert isinstance(ltz.dataType, T.TimestampType)


# (file, line-pattern) pairs allowed to use session-zone-promoting
# time functions, each with the reason it is exempt:
# - q80/q104/q108 bodies: frozen driver-green outputs (rule 1's frozen
#   set) — their internal date_trunc IS their recorded output contract;
# - streaming/stream_queries.py: pins spark.sql.session.timeZone=UTC
#   itself before any cast (watermarks need TIMESTAMP);
# - sources/kafka_shim.py: the Kafka wire format's timestamp column is
#   a simulation-internal field, never a query output (q85 outputs the
#   parsed NTZ ts);
# - functions/timekit.py docstrings mention the banned names.
_TZ_PROMOTING = (
    'cast("timestamp")',
    "F.date_trunc(",
    "F.unix_timestamp(",
    "F.unix_micros(",
    "F.unix_seconds(",
    "F.to_timestamp(",
)
_TZ_EXEMPT_FILES = {
    "streaming/stream_queries.py",
    "sources/kafka_shim.py",
    "functions/timekit.py",
}
_TZ_FROZEN_SPANS = {
    # operators/analytics.py functions that ARE the frozen queries
    "operators/analytics.py": (
        "def q80_retention",
        "def q104_hypertable_rollup",
        "def q108_interpolate_gaps",
    ),
}


def _strip_comment(line: str) -> str:
    """Drop a trailing # comment WITHOUT treating a # inside a string
    literal as one (a naive split would stop scanning the rest of the
    line — a banned call after a quoted '#' would slip through)."""
    quote: str | None = None
    for i, ch in enumerate(line):
        if quote:
            if ch == quote and line[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == "#":
            return line[:i]
    return line


def test_no_session_zone_time_math_outside_allowlist():
    """Grep the package for session-zone-promoting time functions: any
    hit outside the documented exemptions is a latent DST-transition
    divergence (the class fixed across q21/q43/q63/q66/q68/q71/q121/
    q122/q129 in r03) — use functions/timekit.py instead."""
    import os

    import batch_processing_new_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    offenders: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel in _TZ_EXEMPT_FILES:
                continue
            with open(path) as fh:
                src = fh.read()
            # excise the frozen query functions: from their def to the
            # next TOP-LEVEL statement of any kind (not just the next
            # def/@query — module-level code between queries must stay
            # scanned, only the frozen function body is exempt)
            import re as _re

            for marker in _TZ_FROZEN_SPANS.get(rel, ()):
                start = src.find(marker)
                if start == -1:
                    continue
                # body ends at the first subsequent line that starts in
                # column 0 (any top-level statement, decorator, or
                # assignment — NOT just def/@query)
                m = _re.search(r"\n(?=\S)", src[start:])
                end = start + m.start() + 1 if m else len(src)
                src = src[:start] + src[end:]
            for i, line in enumerate(src.splitlines(), start=1):
                code = _strip_comment(line)  # comments may NAME the ban
                if any(p in code for p in _TZ_PROMOTING):
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "session-zone-promoting time math outside the allowlist "
        "(use functions/timekit.py):\n" + "\n".join(offenders)
    )
