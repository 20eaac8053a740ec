"""Score-carrying set algebra over result relations.

A *result* is a DataFrame with columns ``(doc_id LONG, score DOUBLE)``,
possibly containing several rows per doc_id (the reference flows
duplicate offsets through its operators and resolves them only at the
end: query.cc:624-628).

Duplicate semantics are transcribed from the reference's merge loops:

- AND (IntersectOffsets, query.cc:96-125): keeps *all* lhs rows whose
  offset appears in rhs, keeps lhs scores -> left SEMI join.
- SUBTRACT (SubtractOffsets, query.cc:358-392): drops all lhs rows whose
  offset appears in rhs -> left ANTI join.
- OR (UnionOffsets, query.cc:68-94): sorted merge; for each offset
  present on both sides, each rhs element displaces one lhs element.
  With k lhs rows and m rhs rows at an offset, min(k, m) lhs rows are
  dropped (the first in run order) and all rhs rows kept.
- theta GT/LT (Join template, query.cc:139-164): element-wise pairing
  within an offset run (both cursors advance together), keep lhs element
  when filter(l.score, r.score) holds.
- ORDER BY (query.cc:519-547): the merge advances BOTH cursors on a
  match, so duplicate runs pair element-wise by rank (lhs[i] takes
  rhs[i]'s score); lhs elements beyond the rhs run, and lhs-only
  offsets, get -inf.

The reference's intra-offset run order is physical storage order.  A
distributed engine has no such order, so this module fixes the canonical
intra-offset order to **score ascending** (the same convention the
reference itself uses when it needs a deterministic order:
select.cc:40-44 sorts field postings by (offset, score)).  For inputs
with at most one row per (doc_id) — the common case, and guaranteed for
postings built by our ingest which aggregates per (keyword, doc_id) —
every operator reduces to a plain join and the windows are skipped via
``unique=True``.

Scale notes: semi/anti joins broadcast automatically when the rhs doc-id
set is small (AQE); dedup is a partial-aggregatable groupBy (map-side
combine); top-k compiles to TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope

_DOC = "doc_id"
_SCORE = "score"
NEG_INF = float("-inf")


def _run_rank(df: DataFrame) -> DataFrame:
    """Rank rows within an offset run by the canonical order."""
    w = Window.partitionBy(_DOC).orderBy(F.col(_SCORE).asc())
    return df.withColumn("__rn", F.row_number().over(w))


def intersect_and(lhs: DataFrame, rhs: DataFrame,
                  unique: bool = False) -> DataFrame:
    """``a AND b`` — left semi join (query.cc:96-125, 429-438).

    Semi joins ignore rhs duplicates, so the explicit distinct only
    exists to shrink the broadcast side; with ``unique`` inputs it is
    skipped (saves the rhs pre-shuffle entirely).
    """
    rhs_docs = rhs.select(_DOC) if unique else rhs.select(_DOC).distinct()
    return lhs.join(rhs_docs, _DOC, "left_semi")


def subtract(lhs: DataFrame, rhs: DataFrame,
             unique: bool = False) -> DataFrame:
    """``a - b`` / ``a AND NOT b`` — left anti join (query.cc:358-392)."""
    rhs_docs = rhs.select(_DOC) if unique else rhs.select(_DOC).distinct()
    return lhs.join(rhs_docs, _DOC, "left_anti")


def union_or(lhs: DataFrame, rhs: DataFrame, unique: bool = False
             ) -> DataFrame:
    """``a OR b`` — rhs-precedence union (query.cc:68-94).

    For each offset on both sides, min(k, m) lhs rows are displaced by
    the rhs rows.  With ``unique`` inputs this is anti-join + union-all.
    """
    if unique:
        kept = lhs.join(rhs.select(_DOC), _DOC, "left_anti")
        return kept.unionByName(rhs.select(_DOC, _SCORE))
    m = rhs.groupBy(_DOC).agg(F.count("*").alias("__m"))
    kept = (
        _run_rank(lhs)
        .join(m, _DOC, "left")
        .filter(F.col("__rn") > F.coalesce(F.col("__m"), F.lit(0)))
        .select(_DOC, _SCORE)
    )
    return kept.unionByName(rhs.select(_DOC, _SCORE))


def score_filter(df: DataFrame, op: str, value: float,
                 value2: float | None = None) -> DataFrame:
    """Literal score predicates F1-F4 (query.cc:451-517)."""
    c = F.col(_SCORE)
    if op == "eq":
        cond = c == value
    elif op == "gt":
        cond = c > value
    elif op == "ge":
        cond = c >= value
    elif op == "lt":
        cond = c < value
    elif op == "le":
        cond = c <= value
    elif op == "range":
        lo, hi = sorted((value, value2))  # reference swaps bounds
        cond = (c >= lo) & (c <= hi)
    else:
        raise ValueError(f"unknown score op {op}")
    return df.filter(cond)


def theta_join(lhs: DataFrame, rhs: DataFrame, op: str,
               unique: bool = False) -> DataFrame:
    """``a > b`` / ``a < b`` — element-wise paired merge join keeping lhs
    rows where the score comparison holds (query.cc:139-164, 459-505)."""
    if op not in ("gt", "lt"):
        raise ValueError(f"unsupported theta op {op}")
    if unique:
        left, right = lhs, rhs.select(_DOC, F.col(_SCORE).alias("__rs"))
        joined = left.join(right, _DOC)
    else:
        left = _run_rank(lhs)
        right = _run_rank(rhs).select(
            _DOC, "__rn", F.col(_SCORE).alias("__rs"))
        joined = left.join(right, [_DOC, "__rn"])
    cond = (F.col(_SCORE) > F.col("__rs") if op == "gt"
            else F.col(_SCORE) < F.col("__rs"))
    return joined.filter(cond).select(_DOC, _SCORE)


def order_by(lhs: DataFrame, rhs: DataFrame, unique: bool = False
             ) -> DataFrame:
    """``a ORDER BY b`` — re-score from rhs, -inf fill (query.cc:519-547).

    The reference merge advances both cursors on a match, so duplicate
    runs pair element-wise by rank; lhs elements beyond the rhs run get
    -inf.
    """
    if unique:
        r1 = rhs.select(_DOC, F.col(_SCORE).alias("__rs"))
        joined = lhs.join(r1, _DOC, "left")
    else:
        left = _run_rank(lhs)
        r1 = _run_rank(rhs).select(_DOC, "__rn", F.col(_SCORE).alias("__rs"))
        joined = left.join(r1, [_DOC, "__rn"], "left")
    return joined.select(
        _DOC, F.coalesce(F.col("__rs"), F.lit(NEG_INF)).alias(_SCORE))


def negate(df: DataFrame) -> DataFrame:
    """``~a`` (query.cc:609-611)."""
    return df.withColumn(_SCORE, -F.col(_SCORE))


def dedup(df: DataFrame, use_max: bool = True) -> DataFrame:
    """RemoveDuplicates (query.cc:137-156): one row per offset keeping the
    max (QUERY) or min (SELECT / CORRELATE) score."""
    agg = F.max(_SCORE) if use_max else F.min(_SCORE)
    return df.groupBy(_DOC).agg(agg.alias(_SCORE))


SAMPLE_SEED = 1234


def sample(df: DataFrame, n: int) -> DataFrame:
    """RANDOM_SAMPLE(q, n) (query.cc:549-568).

    The reference uses a fixed-seed mt19937_64 reservoir over its vector;
    a distributed engine has no stable element order, so we take the n
    smallest values of a deterministic per-doc hash (Knuth
    multiplicative, seeded with SAMPLE_SEED, the reference's fixed
    seed).  Deterministic, but a *different* sample than the reference
    — documented divergence (SURVEY.md §2.5 T3).
    """
    # (doc_id * K + seed) mod 2^32, computed WITHOUT the int64 multiply
    # overflowing: a plain doc_id * K throws ARITHMETIC_OVERFLOW under
    # Spark's default ANSI mode once doc_id >= 2^63/K ≈ 3.47e9 — i.e.
    # any corpus past ~3.5B documents crashes every RANDOM_SAMPLE (r9
    # review finding).  Split the low 32 bits (only they matter mod
    # 2^32) into 16-bit halves so every intermediate stays < 2^48:
    #   (d*K) mod 2^32 = (lo16*K + ((hi16*K) mod 2^16)*2^16) mod 2^32
    # Value-identical to the old formula for every doc_id (the fuzz
    # model and oracle gates pin the sampled sets unchanged).
    k = F.lit(2654435761)
    lo16 = F.col(_DOC).bitwiseAND(F.lit(65535))
    hi16 = F.shiftright(F.col(_DOC), 16).bitwiseAND(F.lit(65535))
    rank = F.pmod(lo16 * k + F.pmod(hi16 * k, F.lit(65536)) * F.lit(65536)
                  + F.lit(SAMPLE_SEED), F.lit(4294967296))
    # score joins the tiebreak so duplicate rows of one doc at the limit
    # boundary cut deterministically too
    return (df.orderBy(rank.asc(), F.col(_DOC).asc(),
                       F.col(_SCORE).asc()).limit(n)
            .select(_DOC, _SCORE))


def threshold_filter(result: DataFrame, key_postings: DataFrame,
                     values: list[float]) -> DataFrame:
    """THRESHOLDS v,... FOR KEY k (query.cc:749-793): keep result docs
    whose k-score is in [min(values), max(values)); *replace* score with
    the k-score.  Emits one row per matching k-posting."""
    lo, hi = min(values), max(values)
    kp = key_postings.filter(
        (F.col(_SCORE) >= lo) & (F.col(_SCORE) < hi))
    return kp.select(_DOC, _SCORE).join(result.select(_DOC), _DOC,
                                        "left_semi")


def top_k(df: DataFrame, limit: int, offset: int = 0,
          caches: CacheScope | None = None) -> DataFrame:
    """Top-k page by score desc (query.cc:795-807).

    limit < 0 means "all" (reference fetchClause default -1).  Ties are
    broken by doc_id ascending for determinism (the reference's
    partial_sort is unstable — documented divergence).  A finite limit
    compiles to one TakeOrderedAndProject(limit, offset) that drops the
    OFFSET rows from the already-limited page.  An unlimited page with
    an OFFSET checkpoints its numbering input in ``caches``, which the
    caller releases once the page is consumed.
    """
    ordered = df.orderBy(F.col(_SCORE).desc(), F.col(_DOC).asc())
    if limit is None or limit < 0:
        if offset:
            if caches is None:
                raise ValueError("an unlimited OFFSET page needs caches")
            return _drop_first_n(df, offset, caches)
        return ordered
    page = ordered.limit(offset + limit)
    if offset:
        page = page.offset(offset)
    return page.select(_DOC, _SCORE)


def _drop_first_n(df: DataFrame, n: int,
                  caches: CacheScope) -> DataFrame:
    """Drop the first ``n`` rows in (score desc, doc asc) order without a
    single-task global window (the limit=-1 + OFFSET page) — see
    operators.ordering.global_row_number for the mechanism."""
    from cantera_table_spark.operators.ordering import global_row_number
    # caches: a QUERY result is downstream of the postings groupBy,
    # whose output order is nondeterministic — the numbering must not
    # depend on ReuseExchange collapsing the count/row branches (see
    # ordering.global_row_number's HARD INVARIANT).  The checkpoint
    # cost lands only on the rare unlimited-with-OFFSET page.
    numbered = global_row_number(df, F.col(_SCORE).desc(),
                                 F.col(_DOC).asc(), caches=caches)
    return (numbered.filter(F.col("__rn") > n)
            .orderBy(F.col(_SCORE).desc(), F.col(_DOC).asc())
            .select(_DOC, _SCORE))
