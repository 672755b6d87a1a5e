"""Workloads that drive the enrichment pipeline.

``enrich_batch``: one driver thread runs one job at a time through
``plans.pipeline.run_enrichment_pipeline`` over a seeded CSV. The mock
transport sleeps ``LATENCY_S`` per call and fails a seeded 0.5% of the
head inputs terminally, so jobs are bound by call latency and exercise
the retry and sentinel paths. Every job's output file and error report
are checked after the job, outside its timing.

``enrich_service``: two client threads send ``POST /process_csv`` jobs
back to back to a fresh ``service.EnrichmentServer`` (closed loop, cold
start included); job sizes are drawn from the seed. See NOTES.md for why
it is not among the benchmark's listed workloads.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import statistics
import threading
import time
import urllib.error
import urllib.request

import pandas as pd

from perfbench import gen, spans, stats

N_ROWS = 8_000
MAX_ROWS = 6_400  # leaves a 1,600-row passthrough tail
LATENCY_S = 0.02
FAIL_SHARE = 0.005
RETRIES = 3
BASE_DELAY = 0.01
SYSTEM_PROMPT = "Classify the sentiment of the input."
SETUP_REPS = 3
WARMUP_MAX_ROWS = 800  # the cold job warms the same code on a shorter head


def _enrich_config(fail_inputs: frozenset[str]):
    from batch_processing_new_spark.operators.enrich import EnrichConfig

    return EnrichConfig(
        system_prompt=SYSTEM_PROMPT,
        retries=RETRIES,
        base_delay=BASE_DELAY,
        mock_latency=LATENCY_S,
        mock_fail_inputs=fail_inputs,
    )


def expected_responses(texts, max_rows: int, fail_inputs) -> list[str]:
    """The Response column the reference contract demands, row by row."""
    from batch_processing_new_spark.operators.enrich import (
        SENTINEL,
        build_prompt,
        mock_response,
    )

    out = []
    for i, t in enumerate(texts):
        if i >= max_rows:
            out.append("")
        elif t in fail_inputs:
            out.append(SENTINEL)
        else:
            out.append(mock_response(build_prompt(SYSTEM_PROMPT, t)))
    return out


def check_output(path: str, source: pd.DataFrame, expected: list[str]) -> str | None:
    """None when the output CSV keeps every input row, in input order,
    with the expected Response; else a one-line reason."""
    got = pd.read_csv(path, dtype=str, keep_default_na=False)
    if list(got.columns) != list(source.columns) + ["Response"]:
        return f"columns {list(got.columns)}"
    if len(got) != len(source):
        return f"rows {len(got)} != {len(source)}"
    if got["id"].tolist() != [str(i) for i in source["id"]]:
        return "input row order not kept"
    bad = [i for i, (a, b) in enumerate(zip(got["Response"], expected)) if a != b]
    if bad:
        return f"{len(bad)} wrong Response values, first at row {bad[0]}"
    return None


def _fail_inputs(seed: int, texts: list[str]) -> frozenset[str]:
    rng = random.Random(seed)
    k = max(1, round(FAIL_SHARE * MAX_ROWS))
    return frozenset(texts[i] for i in rng.sample(range(MAX_ROWS), k))


def run_batch(run) -> dict:
    spark = run.start_session()
    from batch_processing_new_spark.plans import pipeline

    # the repeatable part of set-up: generating the CSV
    gen_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        csv_path = os.path.join(run.tmp, f"input-{rep}", "input.csv")
        source = gen.write_enrich_csv(run.seed, N_ROWS, csv_path)
        gen_times.append(time.perf_counter() - t0)
    texts = source["text"].tolist()
    fails = _fail_inputs(run.seed, texts)
    counter = itertools.count()

    def job(tracer, max_rows: int = MAX_ROWS) -> float | None:
        k = next(counter)
        spec = pipeline.PipelineSpec(
            file_url=csv_path,
            column_index=1,
            max_rows=max_rows,
            system_prompt=SYSTEM_PROMPT,
            file_name=f"job{k}",
            enrich=_enrich_config(fails),
        )
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            with tracer.span("pipeline.run"):
                res = pipeline.run_enrichment_pipeline(
                    spark, spec, os.path.join(run.tmp, "out")
                )
            wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — count it, keep going
            run.op_failed(f"job{k}", exc)
            return None
        tracer.harvest()
        expected = expected_responses(texts, max_rows, fails)
        problem = check_output(res.output_path, source, expected)
        if problem is None and res.row_count != N_ROWS:
            problem = f"row_count {res.row_count}"
        want_errors = [i + 1 for i, t in enumerate(texts[:max_rows]) if t in fails]
        if problem is None and res.error_indexes != want_errors:
            problem = f"error_indexes {res.error_indexes[:5]}... != scripted set"
        os.remove(res.output_path)
        return wall if run.check(f"job{k}", problem) else None

    def loop(tracer) -> list[float]:
        """Jobs back to back until ``run.seconds`` have gone by."""
        walls, t_end = [], time.perf_counter() + run.seconds
        while not run.jvm_dead and time.perf_counter() < t_end:
            wall = job(tracer)
            if wall is not None:
                walls.append(wall)
        return walls

    null = spans.NullTracer()
    t0 = time.perf_counter()
    job(null, WARMUP_MAX_ROWS)  # cold: JIT, Python workers, package shipping
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + statistics.median(gen_times) + warm_s

    walls = loop(null)
    p50 = stats.median(walls)
    run.info["setup"] = {"session_s": run.session_s, "generate_s": gen_times, "warmup_s": warm_s}
    run.info["enrich_batch"] = {
        "jobs": len(walls),
        "job_s": walls,
        "enrich_rows_per_s": MAX_ROWS / p50 if p50 else None,
        "failed_share": run.failed / max(run.attempted, 1),
        "rows": N_ROWS,
        "max_rows": MAX_ROWS,
        "mock_latency_s": LATENCY_S,
        "scripted_failures": len(fails),
    }
    metrics = {"setup_s": setup_s, "op_total_s": p50}
    if not run.trace or run.jvm_dead:
        return metrics

    from batch_processing_new_spark.operators import enrich as enrich_mod
    from batch_processing_new_spark.sinks import writers
    from batch_processing_new_spark.sources import readers

    tracer = spans.Tracer(spark.sparkContext)
    tracer.wrap(readers.read_csv, "readers.read_csv")
    tracer.wrap(readers.with_ingest_row_id, "readers.row_id")
    tracer.wrap(enrich_mod.enrich, "enrich.plan")
    tracer.wrap(writers.write_single_csv, "writers.write_single_csv")
    tracer.wrap_attr(type(spark.range(0)), "localCheckpoint", "spark.local_checkpoint")
    try:
        traced_walls = loop(tracer)
    finally:
        tracer.unwrap()
    n = max(len(traced_walls), 1)
    layers = spans.layer_totals(tracer.spans)
    roots = [s for s in tracer.spans if s.parent is None]
    wall = sum(r.dur for r in roots)

    def per(name: str, key: str = "time") -> float:
        return layers.get(name, {}).get(key, 0) / n

    job_union = sum(
        spans.union_length([iv for x in spans.subtree(tracer.spans, r) for iv in x.job_intervals])
        for r in roots
    )
    out = {
        "session.start_s": run.session_s,
        "readers.read_csv_s": per("readers.read_csv"),
        "readers.row_id_s": per("readers.row_id"),
        "writers.write_single_csv_s": per("writers.write_single_csv"),
        "pipeline.run_s": per("pipeline.run"),
        "pipeline.report_s": per("pipeline.run", "self"),
        "spark.local_checkpoints": per("spark.local_checkpoint", "calls"),
        "spark.exec_s": job_union / n,
        "trace.overhead_s": (stats.median(traced_walls) or 0) - (p50 or 0),
        "trace.attributed_share": sum(
            v["self"] for k, v in layers.items() if k != "pipeline.run"
        ) / wall,
    }
    out.update(spans.spark_layer(spans.stage_totals(tracer.spans), n, wall / n, run.cores))
    out.update(traced_enrich(run, csv_path, fails))
    run.info["traced"] = {"jobs": len(traced_walls), "spans": len(tracer.spans), "layers": layers}
    return out


def traced_enrich(run, csv_path: str, fails: frozenset[str]) -> dict:
    """One enrich(..., with_result_struct=True) over the job's head rows
    into the noop sink; exact counts come from an Observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from batch_processing_new_spark.operators.enrich import SENTINEL, enrich
    from batch_processing_new_spark.sources.readers import read_csv, with_ingest_row_id

    spark = run.spark
    run.attempted += 1
    head = with_ingest_row_id(read_csv(spark, csv_path)).where(F.col("_row_id") < MAX_ROWS)
    obs = Observation("perfbench_enrich")
    res = enrich(head, "text", _enrich_config(fails), with_result_struct=True).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("_enrich_attempts").alias("attempts"),
        F.sum((F.col("Response") == SENTINEL).cast("int")).alias("sentinel"),
        F.percentile_approx("_enrich_latency_ms", [0.5, 0.99], 10_000).alias("pct"),
    )
    t0 = time.perf_counter()
    res.write.format("noop").mode("overwrite").save()
    run_s = time.perf_counter() - t0
    m = obs.get
    parts = head._jdf.rdd().getNumPartitions()
    want = (MAX_ROWS, MAX_ROWS + (RETRIES - 1) * len(fails), len(fails))
    got = (m["rows"], m["attempts"], m["sentinel"])
    run.check("traced enrich counts", None if got == want else f"{got} != {want}")
    return {
        "enrich.rows": m["rows"],
        "enrich.attempts": m["attempts"],
        "enrich.retries": m["attempts"] - m["rows"],
        "enrich.sentinel_rows": m["sentinel"],
        "enrich.input_partitions": parts,
        "enrich.run_s": run_s,
        "enrich.call_p50_ms": m["pct"][0],
        "enrich.call_p99_ms": m["pct"][1],
        # calls in flight on average: each attempt holds a slot for the
        # mock's fixed latency (the struct's latency_ms also counts the
        # wait for a slot, so it measures row latency, not call time)
        "enrich.inflight_mean": m["attempts"] * LATENCY_S / run_s,
    }


# -- enrich_service ----------------------------------------------------------
CLIENTS = 2
JOB_ROWS = (200, 4_000)


def run_service(run) -> dict:
    spark = run.start_session()
    from batch_processing_new_spark import service

    pipeline_s: list[float] = []
    if run.trace:
        inner = service.run_enrichment_pipeline

        def timed_pipeline(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                pipeline_s.append(time.perf_counter() - t0)

        service.run_enrichment_pipeline = timed_pipeline

    t0 = time.perf_counter()
    srv = service.EnrichmentServer(spark, os.path.join(run.tmp, "out"))
    srv.start()
    setup_s = run.session_s + time.perf_counter() - t0
    url = f"http://127.0.0.1:{srv.port}/process_csv"
    results: list[tuple[float, bool]] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + run.seconds

    def client(c: int) -> None:
        rng = random.Random(run.seed * 1000 + c)
        k = 0
        while time.perf_counter() < deadline:
            rows = rng.randint(*JOB_ROWS)
            path = os.path.join(run.tmp, f"c{c}", f"job{k}.csv")
            gen.write_enrich_csv(run.seed * 1000 + c * 100 + k, rows, path)
            body = {
                "s3_file_url": path, "column_index": 1, "max_rows": rows * 3 // 4,
                "system_prompt": SYSTEM_PROMPT, "model": "mock-model",
                "temperature": 0.0, "tokens": 16, "file_name": f"c{c}-job{k}",
                "request_id": f"c{c}-{k}", "version_id": "perfbench",
            }
            req = urllib.request.Request(
                url, data=json.dumps(body).encode(), headers={"Content-Type": "application/json"}
            )
            t_send = time.perf_counter()
            try:
                with urllib.request.urlopen(req, timeout=170) as resp:
                    code, reply = resp.status, json.loads(resp.read())
            except urllib.error.HTTPError as exc:
                code, reply = exc.code, {"error": exc.read()[:300].decode(errors="replace")}
            except OSError as exc:
                code, reply = 0, {"error": str(exc)}
            wall = time.perf_counter() - t_send
            ok = code == 200
            with lock:
                run.attempted += 1
                if ok:
                    problem = None
                    if reply.get("row_count") != rows or reply.get("error_count") != 0:
                        problem = f"reply {reply.get('row_count')} rows, {reply.get('error_count')} errors"
                    elif len(pd.read_csv(reply["file_url"], usecols=[0])) != rows:
                        problem = "output file row count"
                    ok = run.check(body["request_id"], problem)
                else:
                    run.failed += 1
                    run.errors.append(f"{body['request_id']}: HTTP {code}: {reply.get('error', '')[:300]}")
                results.append((wall, ok))
            k += 1

    t_loop = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    loop_s = time.perf_counter() - t_loop
    srv.stop()
    if run.trace:
        service.run_enrichment_pipeline = inner
    if not run.jvm_alive():
        run.jvm_dead = True

    lat = [w if ok else math.inf for w, ok in results]
    p50 = stats.median(lat)
    p50 = None if p50 == math.inf else p50  # no request succeeded
    run.info["enrich_service"] = {
        "requests": len(results),
        "request_p50_s": p50,
        # a failed request misses every latency limit: it sorts as inf
        "request_tail_s": stats.tail(lat),
        "jobs_per_s": sum(ok for _, ok in results) / loop_s,
        "failed_share": run.failed / max(run.attempted, 1),
    }
    metrics = {"setup_s": setup_s, "op_total_s": p50}
    if run.trace:
        metrics["service.overhead_s"] = (
            (sum(w for w, _ in results) - sum(pipeline_s)) / len(results) if results else None
        )
        metrics["session.start_s"] = run.session_s
    return metrics
