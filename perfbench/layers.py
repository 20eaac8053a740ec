"""The traced run: alternate untraced and traced blocks of the op
list, then turn the traced ops' spans and Spark counters into the
per-layer metrics (means per op unless the name says otherwise; the
set-up spans are medians over the run's set-ups)."""

from __future__ import annotations

import statistics
import time

# span recorded around a public call -> per-layer metric (ms per call)
SPAN_METRICS = {
    "dsl.parser.parse_script": "dsl.parser.parse_ms",
    "dsl.compiler.process_query": "dsl.compiler.compile_ms",
    "catalyst.executed_plan": "catalyst.plan_ms",
    "engine.execute": "engine.stmt_ms",
    "operators.correlate.stmt": "operators.correlate.stmt_ms",
    "engine.select": "engine.select_ms",
    "functions.dedup.lsh_jaccard": "functions.dedup.lsh_jaccard_ms",
}
SETUP_SPAN_METRICS = {
    "sources.ingest.write_postings": "sources.ingest.write_postings_ms",
    "sources.ingest.tsv_load": "sources.ingest.tsv_load_ms",
}
# Spark scheduler counts -> per-op metric, over one pass of the op list
# (each op's first traced run), so that they repeat exactly for a seed
COUNT_METRICS = {
    "jobs": "spark.jobs_per_op",
    "stages": "spark.stages_per_op",
    "numTasks": "spark.tasks_per_op",
}
# Spark counter (summed over the op's job group) -> per-op metric
SPARK_METRICS = {
    "job_wall_ms": ("spark.job_wall_ms", 1),
    "executorRunTime": ("spark.executor_run_ms", 1),
    "executorCpuTime": ("spark.executor_cpu_ms", 1e-6),
    "jvmGcTime": ("spark.jvm_gc_ms", 1),
    "inputBytes": ("spark.input_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
}
UNITS = {"_ms": "ms", "_bytes": "bytes"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_yield", "_per_result")):
        return "ratio"
    return "count"


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(ctx, wl, runner, seconds: float) -> dict:
    tr = ctx.tracer
    setup_ops = [r for r in tr.ops if r["op"] in ("build_index", "tsv_load")]
    untraced, traced, ops = [], [], []
    order = ((False, untraced), (True, traced))
    for n, i in enumerate(runner.schedule(seconds)):
        # the same block of ops untraced and traced, alternating which
        # runs first so that neither is always the earlier, less warm one
        for enabled, walls in order[::-1] if n % 2 else order:
            tr.enabled = enabled
            mark = len(tr.ops)
            t0 = time.perf_counter()
            runner.run_block(i)
            walls.append(time.perf_counter() - t0)
            if enabled:
                for k, rec in enumerate(tr.ops[mark:]):
                    rec["i"] = (i + k) % len(runner.ops)
                    ops.append(rec)
    tr.enabled = True
    one_pass = {}
    for r in ops:
        one_pass.setdefault(r["i"], r)

    out = {}
    for span, name in SPAN_METRICS.items():
        out[name] = _mean(r["spans"][span] for r in ops
                          if span in r["spans"])
    out["engine.driver_self_ms"] = _mean(
        r["spans"]["engine.execute"] - r["spark"]["job_wall_ms"]
        for r in ops if "engine.execute" in r["spans"])
    for key, name in COUNT_METRICS.items():
        out[name] = _mean(r["spark"][key] for r in one_pass.values())
    for key, (name, scale) in SPARK_METRICS.items():
        out[name] = _mean(r["spark"][key] * scale for r in ops)
    out["spark.spill_bytes"] = _mean(
        r["spark"]["memoryBytesSpilled"] + r["spark"]["diskBytesSpilled"]
        for r in ops)
    out["spark.input_rows_per_result"] = (
        sum(r["spark"]["inputRecords"] for r in ops)
        / max(1, sum(r.get("result_rows", 0) for r in ops)))
    out["spark.cached_blocks_left"] = max(
        r["spark"]["cached_blocks_left"] for r in ops)

    for span, name in SETUP_SPAN_METRICS.items():
        xs = [r["spans"][span] for r in setup_ops if span in r["spans"]]
        out[name] = statistics.median(xs) if xs else 0.0
    out["sources.ingest.files_written"] = wl.build_stats["files_written"]
    out["sources.ingest.output_bytes"] = wl.build_stats["output_bytes"]

    cands, verified = wl.pair_counts()
    out["functions.dedup.candidate_pairs"] = cands
    out["functions.dedup.verified_pairs"] = verified
    out["functions.dedup.pair_yield"] = verified / cands if cands else 0.0
    out["tracing.overhead_ratio"] = sum(traced) / sum(untraced)
    return {name: (float(v), unit_of(name)) for name, v in sorted(out.items())}
