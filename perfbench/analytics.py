"""Workload ``analytics_sf0.01``: registry queries in a closed loop.

One driver thread runs one query at a time (QUERIES below), each pass in
an order drawn from the seed, over tables generated from the seed at the
sf0.01 shape (lineitem 60,000 rows). Each timed run builds the plan
fresh (``spec.fn``) and materializes every column through the noop
sink. The untimed warm-up pass collects each result instead and checks
it against the registry's DuckDB oracle.
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import time

from perfbench import gen, spans, stats
from perfbench.oracle import Oracle

# Seven of bench.py's fifteen HEADLINE queries, one per operator family
# that the ROADMAP items move, plus q102 (the costliest path). More
# queries, q113's k-means above all (10-13 s cold), leave too few timed
# samples per query within a run (see NOTES.md).
QUERIES = [
    "q01_pricing_summary",  # scan + groupBy-agg
    "q10_window_topk_per_group",  # window
    "q20_order_lineitem_join",  # fact-fact shuffle join
    "q30_enrich_map",  # the Python-map core operator (mock)
    "q37_minhash_lsh_pairs",  # MinHash-LSH near-dup, pinned chains
    "q112_seeded_shuffle_shard",  # global hash-order sort + sharding
    "q102_copurchase_pagerank",  # iterative PageRank, one pin per round
]
SETUP_REPS = 3
# the traced pass's spans around engine calls (the others are the
# benchmark's own: query, registry.construct, spark.exec)
ENGINE_LAYERS = {"readers.load_table", "readers.fan_out", "spark.local_checkpoint"}


class Loop:
    """Closed loop over seeded passes of QUERIES."""

    def __init__(self, run, specs, sf_dir: str) -> None:
        self.run, self.specs, self.sf_dir = run, specs, sf_dir
        self.rng = random.Random(run.seed)

    def one(self, name: str, tracer, untimed_collect: bool = False):
        """Run one query; returns (wall_s, rows or None)."""
        spark = self.run.spark
        fn = self.specs[name].fn
        rows = None
        t0 = time.perf_counter()
        with tracer.span("query"):
            with tracer.span("registry.construct"):
                df = fn(spark, self.sf_dir)
            with tracer.span("spark.exec"):
                if untimed_collect:
                    rows = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        tracer.harvest()
        return wall, rows

    def passes(self, seconds: float | None, tracer, on_result=None) -> tuple[dict, int]:
        """One whole pass, then more queries in seeded passes until
        ``seconds`` have gone by (none when ``seconds`` is None), so every
        query has a sample; ``on_result`` receives each collected result
        instead of timing the noop sink.
        Returns (samples per query, queries attempted)."""
        one_pass = seconds is None
        samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        n, t_end = 0, time.perf_counter() + (seconds or 0)
        while not self.run.jvm_dead:
            order = QUERIES[:]
            self.rng.shuffle(order)
            for i, name in enumerate(order):
                if n >= len(QUERIES) and time.perf_counter() >= t_end:
                    return samples, n
                self.run.attempted += 1
                n += 1
                try:
                    wall, rows = self.one(name, tracer, untimed_collect=on_result is not None)
                except Exception as exc:  # noqa: BLE001 — count it, keep going
                    self.run.op_failed(name, exc)
                    if self.run.jvm_dead:
                        # every query left in this pass counts as failed
                        rest = len(order) - i - 1
                        self.run.attempted += rest
                        self.run.failed += rest
                        break
                    continue
                samples[name].append(wall)
                if on_result is not None:
                    on_result(name, rows)
                settle(self.run.spark)
            if one_pass:
                break
        return samples, n


def settle(spark) -> None:
    """Free the last query's handles and its localCheckpoint blocks
    between queries, outside the timing: left to the JVM's own GC, the
    ContextCleaner removes them in the middle of a later query and adds
    1.5-3 s to whichever query it lands on (see bench.py)."""
    gc.collect()
    spark._jvm.System.gc()


def _summary(samples: dict[str, list[float]]) -> dict:
    medians = {q: statistics.median(v) for q, v in samples.items() if v}
    flat = [x for v in samples.values() for x in v]
    return {
        "medians": medians,
        "total": sum(medians.values()) if len(medians) == len(QUERIES) else None,
        "p50": stats.median(flat),
        "tail": stats.tail(flat),
    }


def canary(spark) -> float:
    """A shortened bench.py parallelism canary: a CPU-bound codegen'd
    hash chain over spark.range, partitions = 2 x cores; median of 3."""
    n_part = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, 64_000_000, 1, n_part).selectExpr(
        "xxhash64(xxhash64(xxhash64(xxhash64(id)))) AS h"
    )
    df.write.format("noop").mode("overwrite").save()  # untimed JIT warm-up
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(run) -> dict:
    spark = run.start_session()
    from batch_processing_new_spark.registry import all_specs
    from batch_processing_new_spark.sources import readers

    specs = all_specs()
    missing = [q for q in QUERIES if q not in specs]
    if missing:
        raise KeyError(f"queries missing from the registry: {missing}")

    # the repeatable part of set-up: generating the tables
    gen_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = gen.write_tables(run.seed, os.path.join(run.tmp, f"tables-{rep}"))
        gen_times.append(time.perf_counter() - t0)

    # warm-up pass (JIT, codegen, Python workers); results checked untimed
    loop = Loop(run, specs, sf_dir)
    oracle = Oracle(sf_dir)
    check_s = 0.0
    result_rows = {}

    def check(name, result):
        nonlocal check_s
        t0 = time.perf_counter()
        columns, rows = result
        result_rows[name] = len(rows)
        run.check(name, oracle.check(name, specs[name].oracle, columns, rows))
        check_s += time.perf_counter() - t0

    null = spans.NullTracer()
    t0 = time.perf_counter()
    warm, _ = loop.passes(None, null, on_result=check)
    oracle.close()
    warm_s = time.perf_counter() - t0 - check_s
    setup_s = run.session_s + statistics.median(gen_times) + warm_s

    samples, n_ops = loop.passes(run.seconds, null)
    base = _summary(samples)
    run.info["setup"] = {
        "session_s": run.session_s,
        "generate_s": gen_times,
        "warmup_s": warm_s,
        "warmup_queries": {q: v[0] for q, v in warm.items() if v},
        "oracle_check_s": check_s,
        "result_rows": result_rows,
    }
    run.info["analytics"] = {
        "queries_run": n_ops,
        "query_total_s": base["total"],
        "query_p50_s": base["p50"],
        "query_tail_s": base["tail"],
        "failed_share": run.failed / max(run.attempted, 1),
        "queries": base["medians"],
        "samples": samples,
    }
    metrics = {"setup_s": setup_s, "op_total_s": base["total"]}
    if not run.trace or run.jvm_dead:
        return metrics
    return traced(run, loop, base, readers)


def traced(run, loop: Loop, base: dict, readers) -> dict:
    """One whole traced pass; per-layer figures are per pass."""
    spark = run.spark
    tracer = spans.Tracer(spark.sparkContext)
    tracer.wrap(readers.load_table, "readers.load_table")
    tracer.wrap(readers.fan_out, "readers.fan_out")
    tracer.wrap_attr(type(spark.range(0)), "localCheckpoint", "spark.local_checkpoint")
    try:
        samples, _ = loop.passes(None, tracer)
    finally:
        tracer.unwrap()
    all_spans = tracer.spans
    layers = spans.layer_totals(all_spans)
    roots = [s for s in all_spans if s.parent is None]
    wall = sum(r.dur for r in roots)

    def jobs_below(top) -> float:
        return spans.union_length(
            [iv for x in spans.subtree(all_spans, top) for iv in x.job_intervals]
        )

    # construction minus the Spark jobs it launched eagerly
    construct = sum(
        s.dur - jobs_below(s) for s in all_spans if s.name == "registry.construct"
    )

    def layer(name: str, key: str = "time") -> float:
        return layers.get(name, {}).get(key, 0)

    out = {
        "session.start_s": run.session_s,
        "registry.construct_s": construct,
        "registry.construct_share": construct / wall,
        "readers.load_table_s": layer("readers.load_table"),
        "readers.load_table_calls": layer("readers.load_table", "calls"),
        "readers.fan_out_s": layer("readers.fan_out"),
        "readers.fan_out_calls": layer("readers.fan_out", "calls"),
        "spark.local_checkpoints": layer("spark.local_checkpoint", "calls"),
        "spark.exec_s": sum(jobs_below(r) for r in roots),
        "host.canary_s": canary(spark),
        "trace.overhead_s": (_summary(samples)["total"] or 0) - (base["total"] or 0),
        # engine layers and Spark jobs, not the benchmark's own spans
        "trace.attributed_share": sum(
            spans.covered(all_spans, r, ENGINE_LAYERS) for r in roots
        ) / wall,
    }
    out.update(spans.spark_layer(spans.stage_totals(all_spans), 1, wall, run.cores))
    for q in QUERIES:
        out[f"query.{q}_s"] = base["medians"].get(q)
    run.info["traced"] = {"spans": len(all_spans), "layers": layers}
    return out
