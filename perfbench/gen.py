"""Seeded input generators.

``write_tables`` writes the ten analytics tables (the schema the query
registry reads; row counts of the sf0.01 shape) as one parquet file each.
``write_enrich_csv`` writes the reference-shaped enrichment CSV. The same
seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values on the 2-decimal grid, as the fixture tables hold."""
    cents = rng.integers(round(lo * 100), round(hi * 100), n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lengths = rng.integers(lo, hi, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    n = ROWS["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = ROWS["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    n = ROWS["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = ROWS["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
            "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = ROWS["events"]
    # ascending timestamps over 30 days, microsecond precision
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = ROWS["documents"]
    texts = _texts(rng, n)
    # 5% near-duplicates: an earlier document with one word appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": labels.astype(i32)}
    )
    schemas = {"embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )}
    return {
        name: pa.Table.from_pandas(df, schema=schemas.get(name), preserve_index=False)
        for name, df in out.items()
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def enrich_rows(seed: int, n: int) -> pd.DataFrame:
    """The enrichment input: document-like text plus a seeded suffix, so
    every prompt is distinct; ``id`` is the 0-based file position."""
    rng = np.random.default_rng(seed + 1)
    suffix = rng.permutation(10 * n)[:n]
    texts = [f"{t} #{s}" for t, s in zip(_texts(rng, n), suffix)]
    return pd.DataFrame(
        {
            "id": np.arange(n),
            "text": texts,
            "category": rng.choice(SEGMENTS, n),
            "amount": _money(rng, 0.0, 1000.0, n),
        }
    )


def write_enrich_csv(seed: int, n: int, path: str) -> pd.DataFrame:
    df = enrich_rows(seed, n)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_csv(path, index=False)
    return df
