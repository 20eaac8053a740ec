"""Scaling measurement: run key operators at 1x and Nx data volume and
report the time ratio.  Near-linear ratios (<= ~N on a fixed-core box)
are the evidence that plans stay shuffle/broadcast-sane as data grows —
the local stand-in for the 100 TB posture.

Usage: python tools/scaling.py [factor[,factor2,...]] [case1,case2,...]
(default factor 16, all cases; a case filter also skips materializing
the unused scaled inputs; several comma-separated factors run
back-to-back in one session so per-doubling steps share a host window)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from cantera_table_spark.session import CacheScope, get_spark  # noqa: E402
from cantera_table_spark.model import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/cantera_scaling"


def sized_shuffle_partitions(factor: int, cpus: int) -> int:
    """SCALE.md sizing rule, applied automatically: initial shuffle
    partitions grow with the data volume so a post-shuffle partition
    stays bounded (~1-2M rows / <=128 MB), and AQE coalesces the small
    stages back down.  A real cluster sets this by default (initial
    partitions ~ 2-3x total cores, sized to the input); the fixed
    cores-sized local default was the 4096x ceiling — retention's
    superlinear step was 32 partitions each hash-aggregating ~13M rows
    and spilling, and the hand-run 256-partition A/B was 2.1x faster on
    the identical plan (BASELINE.md).  cpus*factor/512 reproduces that
    sizing (32 cores, 4096x -> 256) while leaving every factor <= 512
    at the historical cores-sized value, so old rows stay comparable."""
    return int(min(1024, max(cpus, cpus * factor // 512)))


def scaled(df, factor, id_cols):
    """Replicate `factor` shifted copies so ids stay distinct.

    crossJoin with a broadcast range, not a `factor`-branch union: the
    left-deep union tree costs O(factor) analysis and risks Catalyst
    stack depth at factor >= ~1024, while this is one plan node with
    identical output rows."""
    reps = F.broadcast(df.sparkSession.range(factor)
                       .withColumnRenamed("id", "__rep"))
    out = df.crossJoin(reps)
    for c in id_cols:
        out = out.withColumn(c, F.col(c) + F.col("__rep") * 10_000_000)
    return out.drop("__rep")


def timed(fn):
    t = time.monotonic()
    fn()
    return round(time.monotonic() - t, 2)


def main():
    # "8192" (historical) or "8192,16384": with several factors every
    # factor of a case runs back-to-back in THIS session, so the
    # per-doubling ratio is computed within one host window.  Measured
    # motivation (round 9): fresh-JVM invocations minutes apart swung
    # retention 8192x between 56.7 s and 186.3 s (IO/reclaim pressure
    # on the virtualized host), so a cross-invocation doubling factor
    # can misread window drift as superlinearity — the same lesson as
    # BASELINE.md's two-artifact bench protocol, applied here.
    factors = ([int(f) for f in sys.argv[1].split(",")]
               if len(sys.argv) > 1 else [16])
    case_filter = (set(sys.argv[2].split(","))
                   if len(sys.argv) > 2 else None)
    spark = get_spark("cantera-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)

    docs = load_table(spark, SF_DIR, "documents")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    events = load_table(spark, SF_DIR, "events")
    embeddings = load_table(spark, SF_DIR, "embeddings")

    source_tables = {"documents": (docs, ["doc_id"]),
                     "lineitem": (lineitem, ["l_orderkey"]),
                     "events": (events, ["event_id", "user_id"]),
                     "embeddings": (embeddings, ["vec_id"])}

    def tokenize_and_count(d):
        from cantera_table_spark.functions.text import tokens
        toks = d.select("doc_id",
                        F.explode(tokens(F.col("text"))).alias("keyword"))
        p = toks.groupBy("keyword", "doc_id").agg(
            F.count("*").cast("double").alias("score"))
        a = p.filter(F.col("keyword") == "spark")
        b = p.filter(F.col("keyword") == "fast").select("doc_id")
        a.join(b, "doc_id", "left_semi").write.format("noop") \
            .mode("overwrite").save()

    def minhash(d):
        from cantera_table_spark.functions.dedup import (
            minhash_signature_rows, shingle_arrays)
        minhash_signature_rows(shingle_arrays(d)).write.format("noop") \
            .mode("overwrite").save()

    def tpch_q1(l):
        (l.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count("*"))
         .write.format("noop").mode("overwrite").save())

    def rollup(e):
        (e.groupBy("event_type", F.date_trunc("day", "ts"))
         .agg(F.count("*"), F.sum("value"))
         .write.format("noop").mode("overwrite").save())

    def asof(e):
        from cantera_table_spark.functions.timeseries import asof_prior
        (asof_prior(e, F.col("event_type") == "purchase")
         .write.format("noop").mode("overwrite").save())

    def correlate(d):
        # CORRELATE core over the tokenized corpus: classes = docs
        # containing 'spark' vs 'slow'.  Scaling multiplies the score-tie
        # factor (term frequencies repeat), which is exactly what the
        # pre-window tie collapse in correlate_sets bounds.
        from cantera_table_spark.functions.text import tokens
        from cantera_table_spark.operators.correlate import correlate_sets
        toks = d.select("doc_id",
                        F.explode(tokens(F.col("text"))).alias("keyword"))
        p = toks.groupBy("keyword", "doc_id").agg(
            F.count("*").cast("double").alias("score"))
        a = p.filter(F.col("keyword") == "spark").select("doc_id", "score")
        b = p.filter(F.col("keyword") == "slow").select("doc_id", "score")
        with CacheScope() as caches:
            correlate_sets(p, a, b, caches=caches).write.format("noop") \
                .mode("overwrite").save()

    def line_dedup(d):
        from cantera_table_spark.functions.text import dedup_lines
        # give the corpus line structure: 3 lines/doc with a shared
        # footer, so the winners aggregation sees real duplication
        lined = d.select("doc_id", F.concat_ws(
            "\n", F.substring("text", 1, 60), F.lit("shared footer"),
            F.substring("text", 61, 60)).alias("text"))
        dedup_lines(lined).write.format("noop").mode("overwrite").save()

    def lm_score(d):
        from cantera_table_spark.functions.text import lm_quality_score
        lm_quality_score(d).write.format("noop").mode("overwrite").save()

    _pack_shards: dict[int, int] = {}

    def pack(d):
        from cantera_table_spark.functions.packing import pack_sequences
        # shard count grows with volume — the operator's parallelism
        # knob; a fixed shard count would serialize the bigger input.
        # Computed once per dataset (during the untimed warm-up call),
        # so the timed region contains only the packing job, not an
        # extra full-input count scan.
        n = _pack_shards.get(id(d))
        if n is None:
            n = max(32, d.count() // 2000)
            _pack_shards[id(d)] = n
        pack_sequences(d, capacity=200, n_shards=n).write \
            .format("noop").mode("overwrite").save()

    def shuffle(d):
        from cantera_table_spark.functions.packing import shuffle_shards
        shuffle_shards(d, 64).write.format("noop") \
            .mode("overwrite").save()

    def quantize(e):
        from cantera_table_spark.functions.similarity import (
            quantize_embeddings)
        quantize_embeddings(e).write.format("noop") \
            .mode("overwrite").save()

    _bm25_postings: dict[int, object] = {}

    def bm25(d):
        # score a MATERIALIZED postings table (the build-once
        # query-many model bm25_scores documents): its plan is a
        # diamond, and a live tokenize pipeline as input would be
        # re-evaluated once per branch — the measurement would then be
        # 3x tokenization, not BM25.  The one-time build is untimed
        # (it happens during the warm-up call), like the dataset
        # materialization itself.
        from cantera_table_spark.functions.retrieval import bm25_scores
        from cantera_table_spark.functions.text import tokens
        p = _bm25_postings.get(id(d))
        if p is None:
            toks = d.select("doc_id",
                            F.explode(tokens(F.col("text")))
                            .alias("keyword"))
            (toks.groupBy("keyword", "doc_id")
             .agg(F.count("*").cast("double").alias("score"))
             .write.mode("overwrite")
             .parquet(f"{WORK}/bm25_postings_{id(d)}"))
            p = spark.read.parquet(f"{WORK}/bm25_postings_{id(d)}")
            _bm25_postings[id(d)] = p
        bm25_scores(p).write.format("noop").mode("overwrite").save()

    def hybrid_retrieval(d):
        # ir03's composition over a scaled corpus: BM25 keyword
        # candidates cut to the r11 KW_CANDIDATES=1000 contract via
        # top_k (TakeOrderedAndProject) BEFORE the single-partition
        # rank, fused with a vector top-k.  'spark' appears in ~every
        # synthetic doc, so the kw match set grows with the factor —
        # exactly the hot-keyword case the bound exists for: the
        # timed growth must live in the bm25/top-k SCAN stages while
        # the rank+fuse stages stay 1000+100-row constant.  The
        # vector side reads the UNSCALED embeddings (constant work by
        # construction; its own scaling rows are the sim cases).
        from pyspark.sql import Window
        from cantera_table_spark.functions.retrieval import (bm25_scores,
                                                             rrf_fuse)
        from cantera_table_spark.functions.similarity import \
            brute_force_topk
        from cantera_table_spark.operators import set_algebra as sa
        p = _bm25_postings.get(id(d))
        if p is None:
            bm25(d)                       # materialize via the memo
            p = _bm25_postings[id(d)]
        kw = (sa.top_k(bm25_scores(p)
                       .filter(F.col("keyword") == "spark")
                       .select("doc_id",
                               F.col("bm25").alias("score")), 1000)
              .withColumn("rank", F.row_number().over(
                  Window.orderBy(F.col("score").desc(),
                                 F.col("doc_id").asc())))
              .select("doc_id", "rank"))
        emb = load_table(spark, SF_DIR, "embeddings")
        vec = (brute_force_topk(emb, emb.filter(F.col("vec_id") == 0),
                                k=100)
               .select(F.col("neighbor_id").alias("doc_id"), "rank"))
        rrf_fuse({"kw": kw, "vec": vec}).write.format("noop") \
            .mode("overwrite").save()

    def funnel_case(e):
        from cantera_table_spark.functions.timeseries import funnel
        funnel(e, ["view", "click", "purchase"]).write \
            .format("noop").mode("overwrite").save()

    def dedup_clusters(d):
        # the end-to-end dedup decision ON ITS SCALE PATH
        # (near_dup_clusters = exact-collapse -> MinHash/LSH/Jaccard/CC
        # on unique-text representatives -> expand).  The collapse
        # matters here by construction: scaled() clones every document
        # `factor` times, so an UNCOLLAPSED near-dup stack grows
        # factor^2 in within-bucket pairs and co-shingle join rows
        # (measured: it spilled >57 GB of shuffle and died at 64x even
        # with the hot-bucket star cap, because the Jaccard verify's
        # co-shingle join squares each shingle's document frequency) —
        # exactly the boilerplate-heavy shape of a real pretraining
        # corpus.  Collapsed, the near-dup stage is clone-invariant and
        # the factor-dependent work is one hash aggregation + one
        # expand join.
        from cantera_table_spark.functions.dedup import near_dup_clusters
        with CacheScope() as caches:
            near_dup_clusters(d, min_jaccard=0.12, max_bucket=32,
                              caches=caches) \
                .write.format("noop").mode("overwrite").save()

    def retention(e):
        from cantera_table_spark.functions.timeseries import (
            retention_cohorts)
        retention_cohorts(e).write.format("noop") \
            .mode("overwrite").save()

    def bands(e):
        from cantera_table_spark.functions.timeseries import with_bands
        (with_bands(e.select(F.col("event_type").alias("key"), "ts",
                             F.col("value").alias("value")))
         .write.format("noop").mode("overwrite").save())

    def bands_keyed(e):
        # the key-RICH form: series key = user_id, whose cardinality
        # grows with the factor (scaled() shifts it) — window-group
        # parallelism grows with the data, the documented contract for
        # this operator.  The `bands` case above keeps its 5 constant
        # event_type keys as the deliberate degenerate fixture (its
        # superlinear ratio measures the window-group bound the
        # quarantine guard exists for).
        from cantera_table_spark.functions.timeseries import with_bands
        (with_bands(e.select(F.col("user_id").alias("key"), "ts",
                             F.col("value").alias("value")))
         .write.format("noop").mode("overwrite").save())

    def asof_join_general(e):
        from cantera_table_spark.functions.timeseries import asof_join
        left = (e.filter(F.col("event_type") == "view")
                .select("user_id", "ts", "event_id"))
        right = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "value"))
        asof_join(left, right).write.format("noop") \
            .mode("overwrite").save()

    def interval_join_case(e):
        from cantera_table_spark.functions.timeseries import interval_join
        clicks = (e.filter(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"),
                          "user_id", "ts"))
        pur = (e.filter(F.col("event_type") == "purchase")
               .select(F.col("event_id").alias("purchase_id"), "user_id",
                       F.col("ts").alias("s"),
                       (F.col("ts") + F.expr("INTERVAL 1 HOUR"))
                       .alias("en")))
        interval_join(clicks, pur, ts_col="ts", start_col="s",
                      end_col="en", key_col="user_id") \
            .write.format("noop").mode("overwrite").save()

    def mixture(d):
        from cantera_table_spark.functions.sampling import mixture_sample
        mixture_sample(d, {"src0": 3.0, "src1": 1.0, "src2": 1.0},
                       total_tokens=20_000) \
            .write.format("noop").mode("overwrite").save()

    def pq_ann(em):
        from cantera_table_spark.functions.similarity import (
            pq_codebook, pq_encode, pq_topk)
        cb = pq_codebook(em, m=4, ksub=8)
        codes = pq_encode(em, cb, m=4)
        pq_topk(codes, cb, em.filter(F.col("vec_id") < 10), k=5, m=4) \
            .write.format("noop").mode("overwrite").save()

    def incremental(d):
        # scaled() clones every doc, so the batch side collapses against
        # the corpus in the exact screen; max_bucket bounds the clone-
        # flooded LSH buckets exactly as in dedup_clusters
        from cantera_table_spark.functions.dedup import incremental_dedup
        incremental_dedup(d.filter(F.col("doc_id") % 2 == 1),
                          d.filter(F.col("doc_id") % 2 == 0),
                          min_jaccard=0.12, max_bucket=32) \
            .write.format("noop").mode("overwrite").save()

    def wordpiece(d):
        from cantera_table_spark.functions.text import wordpiece_doc_stats
        vocab = [c for c in "abcdefghijklmnopqrstuvwxyz"] + [
            "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
            "the", "and", "ing", "ion", "tion", "ment"]
        wordpiece_doc_stats(d, vocab).write.format("noop") \
            .mode("overwrite").save()

    def kmv(d):
        from cantera_table_spark.functions.sketches import kmv_distinct
        from cantera_table_spark.functions.text import tokens
        toks = d.select("source",
                        F.explode(tokens(F.col("text"))).alias("tok"))
        kmv_distinct(toks, "tok", "source", k=64).write.format("noop") \
            .mode("overwrite").save()

    _stream_seq = [0]

    def _run_stream(out, tag):
        """Drive a streaming DataFrame through the noop sink with an
        availableNow trigger and a FRESH checkpoint per call — a reused
        checkpoint would mark the source files already-processed and
        the run would measure an empty batch."""
        _stream_seq[0] += 1
        ck = f"{WORK}/ckpt_{tag}_{_stream_seq[0]}"
        q = (out.writeStream.format("noop")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        shutil.rmtree(ck, ignore_errors=True)

    def _restream(df):
        """Re-open a materialized scaling input as a file-source stream
        (same parquet directory, batch-read schema)."""
        path = os.path.dirname(df.inputFiles()[0])
        return df.sparkSession.readStream.schema(df.schema).parquet(path)

    def stream_sessionize(e):
        # st04 shape at scale: applyInPandasWithState session fold.
        # user_id cardinality grows with the factor (scaled() shifts
        # user_id), so state parallelism grows WITH the data — the
        # always-on pipeline shape, not a fixed-key hot spot.
        from cantera_table_spark.streaming.sessionize import (
            sessionize_stream)
        src = _restream(e).select("user_id", "ts", "value")
        _run_stream(sessionize_stream(src, gap_seconds=1800), "sess")

    def stream_sessionize_native(e):
        # the JVM-native session_window A/B against the custom fold:
        # same gap-merge semantics, watermark-gated emission, zero
        # Arrow crossings (tests/test_streaming_ab.py pins the
        # semantics; this case measures the throughput difference).
        # State sizing is the honest cost of the native form: append
        # mode RETAINS every session the watermark has not passed, and
        # a single-batch availableNow replay emits nothing — state ==
        # all sessions.  Measured: the default HDFS-backed (on-heap)
        # store OOMs the 32g harness heap at 1024x, while the custom
        # fold (state = one open session per user, gap-closed sessions
        # emitted eagerly) completes.  RocksDB is the state store that
        # session-window class of state runs on in production (native
        # memory + disk, not heap) — applied by the operator itself on
        # a streaming frame (sessionize.py).
        from cantera_table_spark.streaming.sessionize import (
            _STATE_STORE_KEY, sessionize_stream_native)
        src = _restream(e).select("user_id", "ts", "value")
        # the operator applies the RocksDB provider itself (r9, lifted
        # out of this harness); the harness only restores the previous
        # conf so later measures see the session they started with
        prev = spark.conf.get(_STATE_STORE_KEY, None)
        try:
            _run_stream(sessionize_stream_native(src, gap_seconds=1800),
                        "sessnat")
        finally:
            if prev:
                spark.conf.set(_STATE_STORE_KEY, prev)
            else:
                spark.conf.unset(_STATE_STORE_KEY)

    def stream_rollup(e):
        # st02 shape at scale: watermarked event-time windowed agg —
        # state per (key, window), bounded by the watermark horizon
        from cantera_table_spark.streaming.ingest import windowed_rollup
        src = _restream(e).select(F.col("event_type").alias("key"),
                                  "ts", "value")
        _run_stream(windowed_rollup(src), "rollup")

    def stream_dedup(e):
        # st03 bounded-state shape at scale:
        # dropDuplicatesWithinWatermark on the content hash — state
        # bounded by the watermark horizon rather than the corpus
        from cantera_table_spark.streaming.ingest import (
            streaming_exact_dedup)
        src = _restream(e).select("event_type", "props", "ts")
        _run_stream(streaming_exact_dedup(
            src, hash_cols=("event_type", "props"), ts_col="ts",
            watermark="1 hour"), "dedup")

    def pq_train_case(em):
        # the Lloyd refinement itself (codebook training): one
        # assignment + per-dimension mean per iteration; the mean step
        # must stay map-side combinable (posexplode+avg), never a
        # per-code member-list buffer
        from cantera_table_spark.functions.similarity import pq_train
        pq_train(em, m=4, ksub=8, iters=1).write.format("noop") \
            .mode("overwrite").save()

    _semdedup_n: dict = {}

    def semdedup(em):
        # SemDeDup contract: cluster count scales with the corpus so
        # per-cluster membership (and the O(N^2/k) pair work) stays
        # bounded — n_clusters grows with the input here exactly as a
        # production config would.  The sizing count is memoized per
        # dataset so the timed region contains only the operator (the
        # pack_sequences timing lesson).
        from cantera_table_spark.functions.similarity import semantic_dedup
        n = _semdedup_n.get(id(em))
        if n is None:
            n = _semdedup_n[id(em)] = max(8, em.count() // 600)
        with CacheScope() as caches:
            semantic_dedup(em, threshold=0.35, n_clusters=n,
                           caches=caches) \
                .write.format("noop").mode("overwrite").save()

    def semdedup_hier(em):
        # same contract as semdedup (k grows with N) but on the ANN
        # assignment path: flat assignment is N*k cosines — itself
        # quadratic when k tracks N (the reason the flat 64x cell is
        # omitted by design) — hier is N*(sqrt(k) + nprobe*sqrt(k))
        import math
        from cantera_table_spark.functions.similarity import semantic_dedup
        n = _semdedup_n.get(id(em))
        if n is None:
            n = _semdedup_n[id(em)] = max(8, em.count() // 600)
        with CacheScope() as caches:
            semantic_dedup(em, threshold=0.35, n_clusters=n,
                           caches=caches, assign="hier", nprobe=2,
                           coarse_k=max(2, int(math.ceil(math.sqrt(n))))) \
                .write.format("noop").mode("overwrite").save()

    def assign_flat(em):
        # the assignment stage ALONE, k ∝ N (isolates the N*k cosine
        # cost from semantic_dedup's within-cluster pair stage)
        from cantera_table_spark.functions.similarity import (
            ivf_assign, seed_centroids)
        n = _semdedup_n.get(id(em))
        if n is None:
            n = _semdedup_n[id(em)] = max(8, em.count() // 600)
        ivf_assign(em, seed_centroids(em, n=n)).write.format("noop") \
            .mode("overwrite").save()

    def assign_hier(em):
        import math
        from cantera_table_spark.functions.similarity import (
            ivf_assign_hier, seed_centroids)
        n = _semdedup_n.get(id(em))
        if n is None:
            n = _semdedup_n[id(em)] = max(8, em.count() // 600)
        ivf_assign_hier(em, seed_centroids(em, n=n), nprobe=2,
                        coarse_k=max(2, int(math.ceil(math.sqrt(n))))) \
            .write.format("noop").mode("overwrite").save()

    def jpeg_codec(d):
        import pandas as pd
        from cantera_table_spark.gate import _spread
        from cantera_table_spark.functions.multimodal import (
            constant_block_frame, decode_images, encode_jpeg)

        def synth(it):
            for pdf in it:
                data = []
                for t in pdf["text"]:
                    raw = t.encode("utf-8") or b" "
                    vals = (raw * (4 // len(raw) + 1))[:4]
                    data.append(encode_jpeg(constant_block_frame(vals),
                                            16, 16, 90))
                yield pd.DataFrame({"media_id": pdf["doc_id"],
                                    "data": data})

        # widen a narrow source with the gates' own _spread: the 1x
        # materialization reads as one split, and an unwidened baseline
        # would measure partition starvation, not codec cost
        src = _spread(d.select("doc_id", "text"), d.sparkSession)
        media = src.mapInPandas(synth, "media_id long, data binary")
        decode_images(media).write.format("noop") \
            .mode("overwrite").save()

    def ipv_codec(d):
        # the delta-frame path: 3-frame I+P+P streams (closed-loop
        # encode = JPEG + decode per frame; decode = JPEG + wrap-delta
        # reconstruction) — the mm10 gate shape at scale
        import pandas as pd
        from cantera_table_spark.gate import _spread
        from cantera_table_spark.functions.multimodal import (
            constant_block_frame, encode_ipv, ipv_frame_stats)

        def synth(it):
            for pdf in it:
                data = []
                for t in pdf["text"]:
                    raw = t.encode("utf-8") or b" "
                    buf = (raw * (12 // len(raw) + 1))[:12]
                    frames = [constant_block_frame(buf[4 * f:4 * f + 4])
                              for f in range(3)]
                    data.append(encode_ipv(frames, 16, 16, gop=3))
                yield pd.DataFrame({"media_id": pdf["doc_id"],
                                    "data": data})

        src = _spread(d.select("doc_id", "text"), d.sparkSession)
        media = src.mapInPandas(synth, "media_id long, data binary")
        ipv_frame_stats(media).write.format("noop") \
            .mode("overwrite").save()

    cases = [
        ("index_build_and_query", "documents", tokenize_and_count),
        ("minhash_dedup", "documents", minhash),
        ("tpch_q1", "lineitem", tpch_q1),
        ("ts_rollup", "events", rollup),
        ("asof_join", "events", asof),
        ("correlate", "documents", correlate),
        ("line_dedup", "documents", line_dedup),
        ("lm_score", "documents", lm_score),
        ("pack_sequences", "documents", pack),
        ("shuffle_shards", "documents", shuffle),
        ("quantize_embeddings", "embeddings", quantize),
        ("bm25", "documents", bm25),
        ("hybrid_retrieval", "documents", hybrid_retrieval),
        ("funnel", "events", funnel_case),
        ("dedup_clusters", "documents", dedup_clusters),
        ("retention", "events", retention),
        ("bands", "events", bands),
        ("bands_keyed", "events", bands_keyed),
        ("asof_join_general", "events", asof_join_general),
        ("interval_join", "events", interval_join_case),
        ("mixture_sample", "documents", mixture),
        ("pq_ann", "embeddings", pq_ann),
        ("incremental_dedup", "documents", incremental),
        ("wordpiece", "documents", wordpiece),
        ("kmv_sketch", "documents", kmv),
        ("semantic_dedup", "embeddings", semdedup),
        ("semantic_dedup_hier", "embeddings", semdedup_hier),
        ("ivf_assign_flat", "embeddings", assign_flat),
        ("ivf_assign_hier", "embeddings", assign_hier),
        ("pq_train", "embeddings", pq_train_case),
        ("jpeg_codec", "documents", jpeg_codec),
        ("ipv_codec", "documents", ipv_codec),
        ("stream_sessionize", "events", stream_sessionize),
        ("stream_sessionize_native", "events", stream_sessionize_native),
        ("stream_rollup", "events", stream_rollup),
        ("stream_dedup", "events", stream_dedup),
    ]
    if case_filter:
        cases = [c for c in cases if c[0] in case_filter]
        missing = case_filter - {c[0] for c in cases}
        if missing:
            raise SystemExit(f"unknown cases: {sorted(missing)}")

    # materialize 1x and Nx inputs so scans are comparable parquet
    # reads — only the tables the selected cases actually use
    datasets = {}
    for name in sorted({ds for _, ds, _ in cases}):
        df, idc = source_tables[name]
        df.write.mode("overwrite").parquet(f"{WORK}/{name}_1x")
        # repartition the SMALL source before replication: the scaled
        # output then writes with full parallelism and never shuffles
        # (a post-crossJoin repartition funnels factor x rows through
        # however few input splits the source parquet has)
        for f in factors:
            (scaled(df.repartition(32), f, idc)
             .write.mode("overwrite").parquet(f"{WORK}/{name}_{f}x"))
        datasets[name] = (
            spark.read.parquet(f"{WORK}/{name}_1x"),
            {f: spark.read.parquet(f"{WORK}/{name}_{f}x")
             for f in factors})

    # the SCALE.md sizing rule, applied automatically: 1x runs keep the
    # historical cores-sized shuffle; Nx runs get factor-sized initial
    # partitions (AQE coalesces small stages back down).  Plans are
    # identical — only the exchange's initial partition count moves.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_parts = {f: sized_shuffle_partitions(f, cpus) for f in factors}

    def run_sized(fn, d, parts):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            fn(d)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))

    results = {}
    for name, ds, fn in cases:
        d1, dns = datasets[ds]
        run_sized(fn, d1, cpus)      # warm (plan compile, JIT) so the
        t1 = timed(lambda: run_sized(fn, d1, cpus))  # ratio compares
        row = {"t_1x": t1}                           # steady states
        for f in sorted(factors):
            dn = dns[f]
            run_sized(fn, dn, n_parts[f])
            tn = timed(lambda: run_sized(fn, dn, n_parts[f]))
            row[f"t_{f}x"] = tn
            row[f"ratio_{f}x"] = round(tn / max(t1, 1e-9), 1)
        fs = sorted(factors)
        for a, b in zip(fs, fs[1:]):
            # same-session per-step factor between adjacent factors —
            # the window-stable scaling signal
            row[f"step_{a}x_to_{b}x"] = round(
                row[f"t_{b}x"] / max(row[f"t_{a}x"], 1e-9), 2)
        results[name] = row
        print(name, row)

    print(json.dumps({"factors": sorted(factors),
                      "shuffle_partitions_nx": n_parts,
                      "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
