"""CORRELATE — supervised feature mining (reference correlate.cc).

``CORRELATE QUERY (a), (b)`` finds the index keywords most predictive of
membership in set A vs set B:

1. A = ProcessQuery(query_a, use_max=False); B = ProcessQuery(query_b)
   minus A (correlate.cc:495-500).
2. prior_logit = log((|A|+1)/(|B|+1)); min-support limits = 5 % of each
   set (correlate.cc:506-518).
3. Per keyword: boolean features (all scores zero) score their mere
   presence; continuous features search the single best split point by
   |logit gain| over the cumulative class distribution
   (ProcessSeries, correlate.cc:197-358), then re-count on the chosen
   sub-range(s).
4. Contingency counting dedups docs and keeps keywords with
   match_A >= limit_A or match_B >= limit_B and |log_odds| >= log(.55/.45)
   (ProcessRange, correlate.cc:84-147).

Spark-first: the reference loops keywords over a thread pool; here the
whole mining step is one pass over a per-(keyword, score) class
histogram (ties collapse there exactly like the reference's ``agg``
array), partitioned by keyword once.  Every per-keyword value — the
feature kind, the support counts, the cumulative split scan and the
split argmax — is a Window over that one partitioning, and the re-count
of the chosen range(s) is read off the winning row's prefix sums.
"""

from __future__ import annotations

import math
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cantera_table_spark.dsl import ast as _ast
from cantera_table_spark.session import CacheScope

LOGIT_CUTOFF = math.log(0.55 / 0.45)   # correlate.cc:141-142
# The output filter compares the ROUNDED 3-decimal log-odds (the output
# contract's precision) against the rounded cutoff, a deliberate
# micro-divergence from correlate.cc's unrounded comparison: the raw
# cutoff is a transcendental, so an input whose true log-odds equals it
# exactly is decided by the last ulp of whichever libm evaluated it
# (JVM Math.log vs glibc), and the two engines legitimately disagree.
# Comparing exact 3-decimal doubles removes the knife edge — both
# engines (and the DuckDB gate oracles) decide the boundary
# identically; the only remaining float hazard is the rounding itself,
# which the property-test guard rejects.  Semantics shift only for
# |log_odds| in [0.2005, ln(11/9)) — a 1.7e-4-wide band below the
# reference's cutoff that now emits.
LOGIT_CUTOFF_R3 = math.floor(LOGIT_CUTOFF * 1000.0 + 0.5) / 1000.0  # 0.201
MIN_GAIN = math.log(1.05)              # correlate.cc:346


def correlate_sets(postings: DataFrame, set_a: DataFrame, set_b: DataFrame,
                   *, caches: CacheScope,
                   unique_docs: bool = False) -> DataFrame:
    """Core pipeline given resolved doc sets.

    postings: (keyword, doc_id, score) — the feature space.
    set_a / set_b: (doc_id, score) — deduped result sets; B is made
    disjoint from A here.
    caches: the CacheScope every DataFrame cached here is persisted
    through; the caller releases it after consuming the result
    (Engine.release_caches does this).  Required: the class table is
    cached before the empty-class check, so even an empty result
    leaves a cache to release.
    unique_docs: promise that ``postings`` has at most one row per
    (keyword, doc_id) — true for an Engine with ``unique_postings``
    (and preserved by the timestamp filters, which group per doc).
    Matching docs then equal matching rows, so the contingency counts
    are read off the split search's prefix sums.

    Returns (log_odds, match_count_a, match_count_b, keyword, min_score,
    max_score) with null min/max for unbounded ends.

    Shape: the class table (doc_id, cls) — A tagged 1, B tagged -1,
    ``max`` per doc so A wins — is cached and counted in one action.
    The postings join it once and cross the network ONCE, into the
    per-(keyword, score) histogram, whose size is the number of
    DISTINCT score values per keyword.  One keyword partitioning of
    the histogram then carries every per-keyword step as a Window: the
    kind and support sums, the reference's min-support keyword
    prefilter (correlate.cc:541-543; output-identical, because a
    keyword with fewer postings than min(limit_a, limit_b) can never
    reach either limit in the final filter), the cumulative split
    search and its argmax.  With ``unique_docs`` ProcessRange's
    re-count needs no second pass: the winning row's cumulative sums
    are the left range (-inf, mid], its totals minus them the right
    range [next, +inf), and its totals the whole range.  Only the
    exact-doc count without that promise re-reads the (persisted) raw
    class rows, collapsed to one row per (keyword, doc).
    """
    # one row per doc; a doc in both sets counts for A only
    # (correlate.cc:498-500: B minus A)
    classes = caches.persist(
        set_a.select("doc_id", F.lit(1).alias("cls"))
        .unionByName(set_b.select("doc_id", F.lit(-1).alias("cls")))
        .groupBy("doc_id").agg(F.max("cls").alias("cls")))
    n_a, n_b = classes.agg(F.count(F.when(F.col("cls") == 1, 1)),
                           F.count(F.when(F.col("cls") == -1, 1))).first()
    if n_a == 0 or n_b == 0:
        # Reference short-circuit (correlate.cc:501: ``if
        # (offsets_A.empty() || offsets_B.empty()) return;`` — B
        # checked AFTER the disjoint subtraction, as here): an empty
        # class emits NOTHING.  The +1-smoothed math would be
        # well-defined with n=0 and features concentrated in the
        # non-empty class would clear the cutoff (count_b=0 rows),
        # but the reference deliberately declines to rank against an
        # empty contrast class, and parity wins (r11 review finding —
        # the earlier comment here argued the math without citing the
        # reference's early return; ref_model mirrors this return).
        return set_a.sparkSession.createDataFrame(
            [], "log_odds double, match_count_a long, "
                "match_count_b long, keyword string, "
                "min_score double, max_score double")
    prior_logit = math.log((n_a + 1.0) / (n_b + 1.0))
    limit_a = max(n_a // 20, 1)
    limit_b = max(n_b // 20, 1)
    min_limit = min(limit_a, limit_b)

    # Class membership per posting row: +1 in A, -1 in B, null otherwise
    # (disjoint, correlate.cc:246-265).
    k = (postings.join(classes, "doc_id", "left")
         .select("keyword", "doc_id", "score", "cls"))
    # the exact-doc contingency count below re-consumes the raw
    # class-joined rows; without the persist that branch re-runs the
    # postings scan + class join.  CANTERA_CORRELATE_PERSIST names the
    # StorageLevel, or NONE to recompute instead (the at-100 TB choice
    # when the postings working set exceeds cluster cache and a
    # columnar rescan is cheaper than disk-spilled blocks; SCALE.md)
    level = os.environ.get("CANTERA_CORRELATE_PERSIST",
                           "MEMORY_AND_DISK").upper()
    if not unique_docs and level != "NONE":
        k = caches.persist(k, getattr(StorageLevel, level))

    # THE one postings-scale shuffle: per-(keyword, distinct score)
    # class histogram.  Collapses ties exactly like the reference's
    # ``agg`` array (correlate.cc:282-300); map-side combinable, so a
    # score repeated a billion times combines per input partition.
    h = (k.groupBy("keyword", "score")
         .agg(F.count(F.when(F.col("cls") == 1, 1)).alias("__n_a"),
              F.count(F.when(F.col("cls") == -1, 1)).alias("__n_b"),
              F.count(F.col("cls")).alias("__n_ab"),
              F.count("*").alias("__n_all")))

    # --- one pass by keyword ------------------------------------------
    # boolean feature <=> every score is zero (correlate.cc:211-217);
    # __n_rows is the min-support keyword prefilter.  Boolean keywords
    # keep their single (zero-score) row; continuous ones keep only
    # their CLASS score values, and only with enough class rows
    # (correlate.cc:271: classes.empty() || < min_limit -> return),
    # which implies n_rows >= min_limit.
    w_kw = Window.partitionBy("keyword")
    w_ord = w_kw.orderBy("score")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per_score = (h
                 .withColumn("__continuous",
                             F.max(F.abs(F.col("score"))).over(w_kw) > 0.0)
                 .withColumn("__n_classes", F.sum("__n_ab").over(w_kw))
                 .withColumn("__n_rows", F.sum("__n_all").over(w_kw))
                 .filter(F.when(F.col("__continuous"),
                                (F.col("__n_classes") >= min_limit) &
                                (F.col("__n_ab") >= 1))
                         .otherwise(F.col("__n_rows") >= min_limit)))
    cum = per_score.select(
        "keyword", "score",
        *[F.sum(f"__n_{c}").over(w).alias(f"{p}_{c}")
          for c in ("a", "b", "ab") for p, w in (("cum", w_cum),
                                                  ("tot", w_kw))],
        *[F.sum(F.when(F.col("score").isNull(), F.col(f"__n_{c}"))
                .otherwise(0)).over(w_kw).alias(f"__null_{c}")
          for c in ("a", "b")],
        F.lead("score").over(w_ord).alias("__next"),
        F.row_number().over(w_ord).alias("__pos"),
        F.count("*").over(w_kw).alias("__npos"))

    def abs_logit(ca, cab):
        # log(P/(1-P)) with P=(ca+1)/(cab+2) simplifies to the form below;
        # the simplified form is used on both engines so floats agree.
        return F.abs(F.log((ca + 1.0) / (cab - ca + 1.0)) -
                     F.lit(prior_logit))

    left_ok = (F.col("cum_a") >= limit_a) | (F.col("cum_b") >= limit_b)
    right_ok = ((F.col("tot_a") - F.col("cum_a") >= limit_a) |
                (F.col("tot_b") - F.col("cum_b") >= limit_b))
    gain = F.greatest(
        F.when(left_ok, abs_logit(F.col("cum_a"), F.col("cum_ab")))
        .otherwise(F.lit(0.0)),
        F.when(right_ok, abs_logit(F.col("tot_a") - F.col("cum_a"),
                                   F.col("tot_ab") - F.col("cum_ab")))
        .otherwise(F.lit(0.0)))
    best = (cum.withColumn("__gain", gain)
            .withColumn("__rk", F.row_number().over(
                w_kw.orderBy(F.col("__gain").desc(), F.col("score").asc())))
            .filter(F.col("__rk") == 1))

    # --- ProcessRange: contingency counts per (keyword, range) --------
    # a useful split emits (-inf, mid] and [next, +inf)
    # (correlate.cc:344-356); a boolean keyword (one row) or a
    # continuous one without a useful split emits the whole range.
    # Counts are the prefix sums at mid and their complements: every
    # class score above mid is >= next, and class-less score values
    # add nothing to either side.  A null score sorts first but lies in
    # no bounded range (``score <= mid`` is null), so the left range
    # drops the null row's counts.
    use_split = ((F.col("__pos") > 1) & (F.col("__pos") < F.col("__npos")) &
                 (F.col("__gain") >= MIN_GAIN))
    null = F.lit(None).cast("double")

    def rng(lo, hi, a, b):
        return F.struct(lo.alias("lo"), hi.alias("hi"),
                        a.alias("match_count_a"), b.alias("match_count_b"))

    whole = rng(null, null, F.col("tot_a"), F.col("tot_b"))
    split = [rng(null, F.col("score"), F.col("cum_a") - F.col("__null_a"),
                 F.col("cum_b") - F.col("__null_b")),
             rng(F.col("__next"), null, F.col("tot_a") - F.col("cum_a"),
                 F.col("tot_b") - F.col("cum_b"))]
    counted = (best.select("keyword", F.explode(
        F.when(use_split, F.array(*split)).otherwise(F.array(whole))))
        .select("keyword", "col.*"))
    if not unique_docs:
        # exact doc dedup without unique postings: collapse the raw
        # class rows to ONE row per (keyword, doc_id) carrying the
        # doc's class (cls joins on doc_id alone, so it is constant
        # within the group) and its score envelope — a map-side
        # combinable aggregate, so ties collapse before the shuffle.
        # A doc then has a posting inside a range iff the range
        # overlaps [min_s, max_s]: exact because every range above is
        # one-sided or unbounded — a two-sided range would need
        # per-score data and must not reuse this test.
        kd = (k.filter(F.col("cls").isNotNull())
              .groupBy("keyword", "doc_id")
              .agg(F.first("cls").alias("cls"),
                   F.min("score").alias("__min_s"),
                   F.max("score").alias("__max_s")))
        overlaps = ((F.col("lo").isNull() |
                     (F.col("__max_s") >= F.col("lo"))) &
                    (F.col("hi").isNull() |
                     (F.col("__min_s") <= F.col("hi"))))
        counted = (kd.join(counted.select("keyword", "lo", "hi"), "keyword")
                   .filter(overlaps)
                   .groupBy("keyword", "lo", "hi")
                   .agg(F.count(F.when(F.col("cls") == 1, 1))
                        .alias("match_count_a"),
                        F.count(F.when(F.col("cls") == -1, 1))
                        .alias("match_count_b")))

    out = (counted
           .filter((F.col("match_count_a") >= limit_a) |
                   (F.col("match_count_b") >= limit_b))
           .withColumn("log_odds",
                       F.round(F.log((F.col("match_count_a") + 1.0) /
                                     (F.col("match_count_b") + 1.0)) -
                               F.lit(prior_logit), 3))
           .filter(F.abs(F.col("log_odds")) >= F.lit(LOGIT_CUTOFF_R3))
           .select("log_odds",
                   "match_count_a", "match_count_b", "keyword",
                   F.col("lo").alias("min_score"),
                   F.col("hi").alias("max_score")))
    return out


def filter_by_timestamp_sets(keys: DataFrame, set_a: DataFrame,
                             set_b: DataFrame) -> DataFrame:
    """FilterByTimestamp(keys, A, B) (correlate.cc:400-462): for docs in
    A (preferred) or B, keep one row per doc when the doc's earliest key
    timestamp precedes its earliest set timestamp; score becomes the age
    delta.  Docs in neither set are dropped.  The output has one row per
    (keyword, doc_id)."""
    kmin = keys.groupBy("keyword", "doc_id").agg(
        F.min("score").alias("k_score"))
    amin = set_a.groupBy("doc_id").agg(F.min("score").alias("a_score"))
    bmin = set_b.groupBy("doc_id").agg(F.min("score").alias("b_score"))
    j = (kmin.join(amin, "doc_id", "left").join(bmin, "doc_id", "left")
         .withColumn("ref_score", F.coalesce("a_score", "b_score"))
         .filter(F.col("ref_score").isNotNull())
         .filter(F.col("k_score") < F.col("ref_score")))
    return j.select("keyword", "doc_id",
                    (F.col("ref_score") - F.col("k_score")).alias("score"))


def filter_by_timestamp_now(keys: DataFrame, set_a: DataFrame,
                            now_days: float) -> DataFrame:
    """FilterByTimestamp(keys, adj, now) (correlate.cc:360-398): docs in
    the set keep one age-delta row; docs outside keep every row scored
    ``now - score`` — but only docs *below the set's last offset*: the
    reference merge loop exits when the adj cursor is exhausted and
    erases every remaining key row, so unmatched docs beyond max(adj
    doc_id) are dropped.  Transcribed faithfully, quirk included."""
    amin = set_a.groupBy("doc_id").agg(F.min("score").alias("a_score"))
    kmin = keys.groupBy("keyword", "doc_id").agg(
        F.min("score").alias("k_score"))
    matched = (kmin.join(amin, "doc_id")
               .filter(F.col("k_score") < F.col("a_score"))
               .select("keyword", "doc_id",
                       (F.col("a_score") - F.col("k_score")).alias("score")))
    max_a = amin.agg(F.max("doc_id").alias("__max_a"))
    unmatched = (keys.join(amin.select("doc_id"), "doc_id", "left_anti")
                 .crossJoin(F.broadcast(max_a))
                 .filter(F.col("doc_id") < F.col("__max_a"))
                 .select("keyword", "doc_id",
                         (F.lit(now_days) - F.col("score")).alias("score")))
    return matched.unionByName(unmatched)


def primary_keyword(q) -> str:
    """PrimaryKeywordForQuery (correlate.cc:464-471), faithfully: a
    Leaf returns its identifier; ANY other node commits to its lhs
    subtree UNCONDITIONALLY when one exists — even when that subtree
    bottoms out in a non-Leaf terminal (``KEY=x``) and yields '' —
    then rhs, then ''.  The previous any-subtree fallback kept
    searching rhs after an empty lhs, so ``CORRELATE (KEY=x AND
    ts:date), (b)`` wrongly inherited rhs's timestamped kind and
    silently switched on event-prediction filtering (r11 review
    finding)."""
    if isinstance(q, _ast.Leaf):
        return q.identifier
    lhs = getattr(q, "lhs", None)
    if lhs is not None:
        return primary_keyword(lhs)
    rhs = getattr(q, "rhs", None)
    if rhs is not None:
        return primary_keyword(rhs)
    return ""


def correlate(engine, query_a, query_b) -> DataFrame:
    """Statement entry: resolve the two queries through the engine's
    compiler, apply timestamped-feature filtering when query A's primary
    keyword is timestamped (correlate.cc:486-491, 560-566), and run the
    pipeline over the whole index."""
    import time as _time

    comp = engine._compiler()
    set_a = comp.process_query(query_a, use_max=False)
    set_b = comp.process_query(query_b, use_max=False)

    cat = engine.catalog
    postings = cat.index().select("keyword", "doc_id", "score")
    a_ts = cat.is_timestamped(primary_keyword(query_a))
    b_ts = cat.is_timestamped(primary_keyword(query_b))
    if a_ts:
        # Event prediction discards ephemeral keywords entirely — their
        # values change daily so they leak the future (correlate.cc:536).
        postings = postings.filter(~cat.kind_match_col("ephemeral"))
        ts_match = cat.kind_match_col("timestamped")
        ts_keys = postings.filter(ts_match)
        # negating the same deterministic predicate splits the index
        # without the distinct + anti-join shuffle an id-set join costs
        plain = postings.filter(~ts_match)
        if b_ts:
            ts_filtered = filter_by_timestamp_sets(ts_keys, set_a, set_b)
        else:
            ts_filtered = filter_by_timestamp_now(
                ts_keys, set_a, _time.time() / 86400.0)
        postings = plain.unionByName(ts_filtered)
    return correlate_sets(postings, set_a, set_b,
                          caches=engine.caches,
                          unique_docs=engine.unique_postings)
