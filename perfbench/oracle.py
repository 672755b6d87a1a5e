"""Output checks against the registry's DuckDB oracles.

A query result is compared by value hash with its registry oracle, in
the canonical row form of the repository's verify runner
(``tests/run_verify.py``: columns sorted by name, floats as ``%.9g``,
NULL/NaN as ``NULL``). ``q37_minhash_lsh_pairs`` has no oracle, because
its banding is approximate; it is checked against every pair at
shingle-Jaccard >= 0.5, computed exactly in DuckDB, instead.
"""

from __future__ import annotations

import hashlib
import os
import sys

LSH_QUERY = "q37_minhash_lsh_pairs"
LSH_THRESHOLD = 0.5
# the recall invariant tests/test_dedup.py asserts for the banding: at
# least 90% of the pairs at Jaccard >= 0.8 become candidates
LSH_STRONG, LSH_RECALL = 0.8, 0.9


def _verify_canon():
    """``canon_rows`` of the verify runner. That module puts a fixed
    repository path first on ``sys.path`` when imported, so the engine
    beside perfbench/ is imported first and ``sys.path`` is restored."""
    import batch_processing_new_spark.sources.readers  # noqa: F401

    saved = sys.path[:]
    try:
        from tests.run_verify import canon_rows
    finally:
        sys.path[:] = saved
    return canon_rows


canon_rows = _verify_canon()


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result set."""
    h = hashlib.sha256("|".join(sorted(c.lower() for c in columns)).encode())
    for line in canon_rows(columns, rows):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def _exact_pairs_sql() -> str:
    """(id_a, id_b, jaccard, j) for every document pair at shingle-Jaccard
    >= LSH_THRESHOLD, over the shingles the q183 oracle replays. Only
    pairs that share a shingle are joined; each list is distinct, so
    the union is |A| + |B| - |A & B|."""
    from batch_processing_new_spark.operators.dedup import _SHINGLES_SQL

    return f"""
WITH sh AS (
    SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents WHERE text IS NOT NULL
),
el AS (SELECT doc_id, len(s) AS n, unnest(s) AS x FROM sh),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)) AS j
    FROM el a JOIN el b ON a.x = b.x AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, round(j, 6) AS jaccard, j FROM pairs WHERE j >= {LSH_THRESHOLD}
"""


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        from batch_processing_new_spark.sources.readers import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, name: str, sql: str | None, columns: list[str], rows: list) -> str | None:
        """None when the Spark result matches, else a one-line reason."""
        if sql is None:
            if name == LSH_QUERY:
                return self._check_lsh(columns, rows)
            return "no oracle and no check for this query"
        rel = self.con.sql(sql)
        expect = rel.fetchall()
        if len(expect) != len(rows):
            return f"rows: spark={len(rows)} oracle={len(expect)}"
        if value_hash(columns, rows) != value_hash(rel.columns, expect):
            return "value hash differs from the oracle"
        return None

    def _check_lsh(self, columns: list[str], rows: list) -> str | None:
        """LSH pairs: every pair emitted once, each a true pair with its
        exact rounded Jaccard, and the banding's recall on strong pairs."""
        if sorted(columns) != ["id_a", "id_b", "jaccard"]:
            return f"columns {columns}"
        truth = self.con.sql(_exact_pairs_sql()).fetchall()
        want = set(canon_rows(["id_a", "id_b", "jaccard"], [t[:3] for t in truth]))
        got = canon_rows(columns, rows)
        if len(set(got)) != len(got):
            return "a pair is emitted twice"
        wrong = [r for r in got if r not in want]
        if wrong:
            return f"{len(wrong)} pairs not at exact Jaccard >= {LSH_THRESHOLD}, first {wrong[0]}"
        strong = {(a, b) for a, b, _, j in truth if j >= LSH_STRONG}
        if not strong:
            return "the fixture holds no near-duplicate pairs"
        found = strong & {(r[columns.index("id_a")], r[columns.index("id_b")]) for r in rows}
        if len(found) < LSH_RECALL * len(strong):
            return f"recall {len(found)}/{len(strong)} on pairs at Jaccard >= {LSH_STRONG}"
        return None

    def close(self) -> None:
        self.con.close()
