"""Enrichment-pipeline edge cases (SURVEY §2A ops 3/12/13/14): empty
input, limit boundaries, and output-file shape at the extremes."""

from __future__ import annotations

import csv

from batch_processing_new_spark.operators.enrich import EnrichConfig
from batch_processing_new_spark.plans.pipeline import (
    PipelineSpec,
    run_enrichment_pipeline,
)


def _spec(url: str, max_rows: int) -> PipelineSpec:
    return PipelineSpec(
        file_url=url,
        column_index=1,
        max_rows=max_rows,
        system_prompt="classify",
        enrich=EnrichConfig(transport="mock"),
    )


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "text", "amount"])
        w.writerows(rows)
    return str(path)


def test_empty_input_yields_header_only_output(spark, tmp_path):
    src = _write_csv(tmp_path / "empty.csv", [])
    res = run_enrichment_pipeline(
        spark, _spec(src, 10), str(tmp_path / "out")
    )
    assert res.row_count == 0
    assert res.error_count == 0 and res.error_indexes == []
    with open(res.output_path) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert lines == ["id,text,Response"] or lines == ["id,text,amount,Response"]


def test_max_rows_zero_is_all_passthrough(spark, tmp_path):
    src = _write_csv(tmp_path / "p.csv", [[i, f"t{i}", i * 1.5] for i in range(7)])
    res = run_enrichment_pipeline(spark, _spec(src, 0), str(tmp_path / "out"))
    assert res.row_count == 7
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 7
    # nothing enriched: every Response empty, order preserved
    assert all(r["Response"] == "" for r in rows)
    assert [r["id"] for r in rows] == [str(i) for i in range(7)]


def test_max_rows_beyond_input_enriches_everything(spark, tmp_path):
    src = _write_csv(tmp_path / "a.csv", [[i, f"t{i}", i] for i in range(5)])
    res = run_enrichment_pipeline(
        spark, _spec(src, 10_000), str(tmp_path / "out")
    )
    assert res.row_count == 5
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert all(r["Response"].startswith("resp::") for r in rows)
    assert [r["id"] for r in rows] == [str(i) for i in range(5)]


def test_single_enriched_row_boundary(spark, tmp_path):
    src = _write_csv(tmp_path / "b.csv", [[i, f"t{i}", i] for i in range(4)])
    res = run_enrichment_pipeline(spark, _spec(src, 1), str(tmp_path / "out"))
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert rows[0]["Response"].startswith("resp::")
    assert all(r["Response"] == "" for r in rows[1:])


def test_concurrent_pipelines_report_their_own_counts(spark, tmp_path):
    """Two pipelines running at once on one session (as the HTTP service
    does) each get their own row count and error indexes."""
    import threading

    jobs = {
        "a": (40, 25, {"t3", "t17", "t24", "t30"}),  # t30 is tail: no error
        "b": (23, 23, {"t0", "t22"}),
    }
    expected = {"a": (40, [4, 18, 25]), "b": (23, [1, 23])}
    results, errors = {}, []

    def run(name, n_rows, max_rows, fails):
        try:
            src = _write_csv(
                tmp_path / f"{name}.csv", [[i, f"t{i}", i] for i in range(n_rows)]
            )
            spec = _spec(src, max_rows)
            spec.enrich = EnrichConfig(
                transport="mock", mock_fail_inputs=frozenset(fails), retries=1
            )
            results[name] = run_enrichment_pipeline(
                spark, spec, str(tmp_path / f"out_{name}")
            )
        except Exception as exc:  # noqa: BLE001 - re-raised via the assert below
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(name, *job)) for name, job in jobs.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert errors == []
    for name, (rows, idx) in expected.items():
        assert results[name].row_count == rows
        assert results[name].error_indexes == idx
        assert results[name].error_count == len(idx)
