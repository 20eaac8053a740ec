#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Phases mirror the reference's usage model (build tables once with
ca-load, query many times with ca-shell):

1. ``ingest``: derive the inverted index + summaries from documents and
   write them as Parquet (sorted by keyword -> row-group pruning on
   leaf lookups).  Also the 10M-posting encode micro-target from
   BASELINE.md.
2. queries: gate headliners against the parquet-backed catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from cantera_table_spark.engine import Engine  # noqa: E402
from cantera_table_spark.model import (  # noqa: E402
    Catalog, derive_documents, derive_label_postings, derive_postings,
)
from cantera_table_spark.session import get_spark  # noqa: E402
from cantera_table_spark import gate  # noqa: E402

BENCH_QUERIES = [
    # search algebra + statements
    "q01_and", "q02_or", "q06_theta_join", "q07_order_by",
    "q12_thresholds", "q13_topk_page", "q15_select_matrix",
    "corr01_feature_mining", "corr02_event_prediction",
    # relational analytics
    "tpch_q1_pricing", "tpch_q3_revenue", "tpch_q5_region_volume",
    # time series
    "ts01_daily_rollup", "ts04_asof_prior", "ts05_prediction_bands",
    "ev01_user_running",
    # training-data pipeline (dd06/dd07 are the LSH-pruned scale paths)
    "dd01_exact_dedup", "dd02_minhash", "dd04_simhash",
    "dd06_dedup_clusters", "dd07_lsh_jaccard", "dd09_decontaminate",
    "sim01_brute_topk", "tx01_text_stats", "tx04_fingerprint",
    "tx08_repetition", "tx09_pii_scrub", "ds01_stratified_sample",
    "mm01_decode_media", "mm04_thumbnail",
    # round 3 additions: corpus-wide line dedup, bigram-LM quality
    # scoring, greedy sequence packing, int8-quantized ANN
    "dd10_line_dedup", "tx10_lm_score", "ds03_pack_sequences",
    "sim07_quantized_topk", "ds04_shuffle_shards", "dd11_repeated_spans",
    "tx11_length_quantiles", "tx12_bpe_pairs", "ds05_packed_text",
    "tx13_chunking", "ir01_bm25", "ir02_rrf_hybrid", "ml01_logreg_quality",
    "ev03_funnel", "ev04_retention", "sim08_quantized_ivf",
    # round 4 additions: general as-of join, binned interval join,
    # incremental cross-batch dedup, domain-mixture sampling, PQ ANN,
    # semantic dedup, KMV sketch, rollup subtotals
    "ts09_asof_join", "ev05_interval_join", "dd14_incremental_dedup",
    "ds06_mixture_sample", "sim09_pq_topk", "dd15_semantic_dedup",
    "tx16_kmv_distinct", "ev07_rollup_day",
    "sim10_ivfpq_topk", "tx17_wordpiece", "tpch_q6_forecast",
    "ds07_sample_quantiles",
    "sim11_pq_trained", "tpch_q18_large_orders",
    # round 5 additions: from-scratch baseline JPEG (DCT+Huffman) and
    # Motion-JPEG AVI frame sampling built on it; round 6: the IPV1
    # toy I/P delta-frame codec (wrap-delta P-frames over the JPEG core)
    "mm08_decode_jpeg", "mm09_video_frames", "mm10_ipv_video",
    # dd12 (apply) re-runs dd06's whole pipeline + a join — gate-verified
    # at all SFs but excluded here to keep the heaviest phase single
]


# Warm-median mode: SPARK_GRAFT_BENCH_REPEATS=3 runs every phase N
# times and reports the per-phase MEDIAN (plus max-min spread), which
# excludes the cold codegen/JIT compile that BASELINE.md documents as
# the dominant cross-round noise on sub-second phases.  Default 1 run —
# the driver's single-pass contract and output shape are unchanged.
# SPARK_GRAFT_BENCH_ONLY=name1,name2 restricts the query phases (the
# build/micro phases always run — the catalog must exist): the
# isolated re-measure protocol for outlier phases, in one command.
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))
ONLY = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if s}
# fail LOUDLY on a mistyped phase name: a silently-empty ONLY filter
# still emits a valid-looking total under the same metric name, and
# the isolated re-measure protocol would record it (r11 review)
_unknown_only = ONLY - set(BENCH_QUERIES)
if _unknown_only:
    raise SystemExit(
        f"SPARK_GRAFT_BENCH_ONLY names not in BENCH_QUERIES: "
        f"{sorted(_unknown_only)}")


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("cantera-bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = "/tmp/cantera_bench"
    shutil.rmtree(work, ignore_errors=True)

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}

    def timed_phase(name: str, fn, cleanup=None) -> None:
        ts = []
        for _ in range(REPEATS):
            t0 = time.monotonic()
            fn()
            ts.append(time.monotonic() - t0)
            if cleanup is not None:
                cleanup()     # excluded from the measurement on purpose
        timings[name] = round(median(ts), 3)
        if REPEATS > 1:
            spreads[name] = round(max(ts) - min(ts), 3)

    # -- phase 1: ingest (build the index tables, reference ca-load) ----
    from cantera_table_spark.sources.ingest import write_postings
    n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    def ingest():
        postings = derive_postings(spark, sf_dir).unionByName(
            derive_label_postings(spark, sf_dir))
        # bucket-partitioned + (keyword, doc_id)-sorted: leaf lookups
        # prune to one bucket directory, row-group stats prune inside it
        write_postings(postings, f"{work}/postings", n_buckets=n_buckets)
        derive_documents(spark, sf_dir).write.mode("overwrite").parquet(
            f"{work}/documents")

    timed_phase("ingest", ingest)

    # -- 10M-posting encode/scan micro-target (BASELINE.md) -------------
    def encode_10m():
        ts10m = (spark.range(10_000_000)
                 .select((F.col("id") % 512).alias("key_id"),
                         (F.lit(1_262_304_000) +
                          F.col("id") * 86_400 % 500_000_000).alias("ts"),
                         (F.col("id") % 16_777_216).cast("double")
                         .alias("value")))
        ts10m.write.mode("overwrite").parquet(f"{work}/ts10m")

    def decode_10m():
        n = spark.read.parquet(f"{work}/ts10m").agg(
            F.count("*"), F.sum("value")).collect()[0][0]
        assert n == 10_000_000

    timed_phase("encode_10m", encode_10m)
    timed_phase("decode_10m", decode_10m)

    # -- phase 2: queries against the parquet-backed catalog ------------
    catalog = Catalog(
        summaries=[spark.read.parquet(f"{work}/documents")],
        indexes=[spark.read.parquet(f"{work}/postings")],
        postings_buckets=n_buckets,
    )
    def run_gate(name: str):
        # gate callables build their own derived catalog; for engine DSL
        # queries we redirect through the parquet-backed engine when
        # possible by monkeypatching _engine (same public surface).
        gate.queries()[name](spark, sf_dir) \
            .write.mode("overwrite").format("noop").save()

    def clear_caches():
        # phase hygiene: CORRELATE and dedup-clustering intentionally
        # persist intermediates for their own multi-branch plans; left
        # in place they pile up across phases (at 10x fixture growth
        # the leaked storage caused GC pressure that inflated every
        # LATER phase up to ~10x).  Nothing in this bench relies on
        # cross-phase caching — the catalog is parquet-backed — so
        # clear between phases (and between repeat runs); cleanup time
        # is excluded from the phase's own measurement on purpose.
        # Cache lifetimes belong to the gate scope (release_gate_caches);
        # clearCache is measurement hygiene on top: it also drops the
        # CORRELATE intermediates of the per-phase engines below, whose
        # own scopes nothing here releases.
        gate.release_gate_caches()
        spark.catalog.clearCache()
        # ContextCleaner's periodic GC defaults to 30 min — longer than
        # this whole run — so weakly-referenced broadcast / shuffle
        # blocks from completed phases are never reclaimed and late
        # phases inflate: ~4-5x in 3x-repeat sessions (tx17 7.1 s late
        # vs 1.2 s fresh), ~1.5x in single-pass runs (sim11 3.0 s vs
        # 2.0 s clean).  A driver-side GC nudge between phases drains
        # the cleaner's queue; its cost lands in cleanup, which is
        # excluded from phase timings on purpose.
        spark.sparkContext._jvm.System.gc()

    # Route gate DSL queries through the parquet-backed catalog.  A
    # FRESH Engine per call preserves gate._engine's contract (only the
    # catalog is memoized there): a single shared instance would leak
    # SET output_format/time_format state across phases if a
    # session-state gate ever joins BENCH_QUERIES (r11 review).
    gate._engine = \
        lambda s, d: Engine(catalog, unique_postings=True)  # noqa: SLF001

    for name in BENCH_QUERIES:
        if ONLY and name not in ONLY:
            continue
        timed_phase(name, lambda n=name: run_gate(n), cleanup=clear_caches)

    total = round(sum(v for k, v in timings.items()), 3)
    out = {
        "metric": "cantera_table_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if REPEATS > 1:
        out["repeats"] = REPEATS
        out["spread"] = spreads
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
