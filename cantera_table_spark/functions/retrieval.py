"""Retrieval scoring operators over the postings model: BM25 term
weighting and reciprocal-rank fusion for hybrid (keyword + vector)
search.  The reference engine sorts by externally-supplied scores
(README.md:5-8 "sort search results by arbitrary metrics"); these
operators COMPUTE the standard metrics a search deployment would feed
it, staying entirely in JVM column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(postings: DataFrame) -> DataFrame:
    """Okapi BM25 weights for a term-frequency postings table
    (keyword, doc_id, score=tf):

      idf(t)      = ln((N - df + 0.5) / (df + 0.5) + 1)
      bm25(t, d)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with k1 = BM25_K1, b = BM25_B, dl = document token count (sum of
    tf over the doc) and avgdl its corpus mean.

    Scale shape: dl is computed IN PLACE by a window sum over doc_id —
    one shuffle of the postings, no join.  The former agg-then-join
    formulation shuffled a one-row-per-DOCUMENT aggregate into a
    sort-merge join with the full postings once the corpus outgrew the
    broadcast threshold (measured superlinear at 16x volume); the
    window spends the same single doc_id shuffle and sorts the
    postings once, with spillable per-key buffers.  df stays an
    aggregation join: its table is VOCABULARY-sized (orders smaller
    than the corpus), so AQE broadcasts it.  N and avgdl ride a
    broadcast one-row aggregate.  Everything stays JVM-side.

    Feed this a MATERIALIZED postings table (the engine's build-once
    query-many model): the plan is a diamond (scoring + df + corpus
    branches over the same input), and a derived input pipeline is
    re-evaluated once per branch — measured 3x the cost when the
    postings were a live tokenize->explode->groupBy chain instead of
    a parquet scan.
    """
    clash = [c for c in postings.columns
             if c in ("__df", "__dl", "__N", "__avgdl")]
    if clash:
        # the reserved-name convention (ordering.global_row_number):
        # a caller __df makes the dfreq join ambiguous deep in the
        # plan, a caller __dl is silently replaced by withColumn
        raise ValueError(
            f"input columns collide with bm25 internals: {clash}")
    w_doc = Window.partitionBy("doc_id")
    dfreq = postings.groupBy("keyword").agg(F.count("*").alias("__df"))
    corpus = (postings.groupBy("doc_id")
              .agg(F.sum("score").alias("__dl"))
              .agg(F.count("*").cast("double").alias("__N"),
                   F.avg("__dl").alias("__avgdl")))
    tf = F.col("score")
    idf = F.log((F.col("__N") - F.col("__df") + 0.5) /
                (F.col("__df") + 0.5) + 1)
    norm = tf + BM25_K1 * (1 - BM25_B +
                           BM25_B * F.col("__dl") / F.col("__avgdl"))
    return (postings
            .withColumn("__dl", F.sum("score").over(w_doc))
            .join(dfreq, "keyword")
            .crossJoin(F.broadcast(corpus))
            .select("keyword", "doc_id",
                    F.round(idf * tf * (BM25_K1 + 1) / norm, 6)
                    .alias("bm25")))


def rrf_fuse(ranked: dict[str, DataFrame], k: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of named ranked
    lists — the standard hybrid-search combiner for keyword + vector
    retrieval.  Each input DataFrame carries (doc_id, rank) with rank
    1-based; the fused score is sum over lists of 1/(k + rank), and
    the output is re-ranked by (rrf desc, id asc).

    The union is one pass; the fuse is a single map-side-combinable
    aggregation; the final ranking is a window over the fused set
    (bounded by the union of candidate lists, not the corpus).
    """
    tagged = None
    for name, df in ranked.items():
        # NULL ids from every list would collapse into one phantom
        # fused group that sorts FIRST under id-asc ties and shifts
        # every real fused_rank (r11 review — the sampling NULL-id
        # poison class); a candidate without identity fuses nothing
        part = (df.filter(F.col("doc_id").isNotNull())
                .select(F.col("doc_id"),
                        (1.0 / (F.lit(float(k)) + F.col("rank")))
                        .alias("__contrib")))
        tagged = part if tagged is None else tagged.unionByName(part)
    if tagged is None:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = (tagged.groupBy("doc_id")
             .agg(F.round(F.sum("__contrib"), 6).alias("rrf"),
                  F.count("*").alias("n_lists")))
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return fused.withColumn("fused_rank", F.row_number().over(w))
