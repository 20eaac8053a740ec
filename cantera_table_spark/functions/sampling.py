"""Deterministic sampling / data-mixing operators for training-data
pipelines: stratified quota sampling by an arbitrary strata column
(language, source domain, quality bucket).

Determinism contract: the sample is the `quota` rows per stratum with
the smallest md5 hash of a salted id string.  Hash order behaves like a
uniform random permutation but is identical across runs, engines and
partitionings — the DuckDB oracle replays it bit-for-bit (md5 hex
compares identically as a string in both engines), and re-running the
pipeline after adding documents only ever swaps rows whose hashes cross
the cutoff, never reshuffles the whole sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_SALT = "samp:"


def sample_hash(id_col: Column, salt: str = SAMPLE_SALT) -> Column:
    """Portable per-row sample key: md5 hex of the salted id string.
    DuckDB equivalent: md5('<salt>' || id::VARCHAR).  The salt
    parameterization is shared with packing.shuffle_shards so the
    bit-for-bit cross-engine contract lives in exactly one expression."""
    return F.md5(F.concat(F.lit(salt), id_col.cast("string")))


def sample_u(id_col: Column) -> Column:
    """The sample key as a uniform double in [0, 1): the md5 hex key's
    first 8 hex chars / 2^32."""
    return (F.conv(F.substring(sample_hash(id_col), 1, 8), 16, 10)
            .cast("double") / F.lit(float(1 << 32)))


def stratified_sample(df: DataFrame, strata_col: str, quota: int) -> DataFrame:
    """Per-stratum quota sample: the `quota` rows of each stratum with
    the smallest sample hash, with their 1-based `sample_rank`.

    ``quota`` is an int (uniform) or a dict ``{stratum: quota}`` — the
    data-mixing form, where each source/language gets its own budget
    (strata absent from the dict contribute nothing).  The dict path
    keeps the literal `rank <= max(quota)` filter so Spark's
    window-group-limit optimization still applies (see below), then
    refines per stratum against the broadcast quota table.

    Scale design.  The plan is not the naive
    whole-stratum-through-one-sort window: because the rank filter is
    `row_number() <= quota`, Spark's InferWindowGroupLimit inserts a
    PARTIAL per-input-partition top-k before the stratum exchange
    (pinned in tests/test_plan_shapes.py), so shuffle volume is
    O(input_partitions * strata * quota), not O(corpus).
    """
    quotas = quota if isinstance(quota, dict) else None
    if quotas is not None and not quotas:
        raise ValueError("quota dict is empty: no stratum is budgeted")
    qmax = max(quotas.values()) if quotas else quota
    h = sample_hash(F.col("doc_id")).alias("__h")
    # NULL ids have NULL hashes, which sort FIRST under the asc window
    # order — they deterministically WON sample slots, displacing real
    # documents, with arbitrary ties among themselves (r11 review,
    # empirically confirmed).  A row without identity cannot have a
    # reproducible sample key; drop it like funnel/asof drop NULL keys.
    pre = (df.filter(F.col("doc_id").isNotNull())
           .select(F.col(strata_col), F.col("doc_id"), h))
    if quotas is not None:
        from pyspark.sql import types as T
        # schema follows the input's strata type (language strings,
        # int quality buckets, ...) instead of assuming string
        qdf = df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in quotas.items()],
            T.StructType([df.schema[strata_col],
                          T.StructField("__q", T.IntegerType())]))
        # semi-effect: strata without a quota drop out here
        pre = pre.join(F.broadcast(qdf), strata_col)
    w = (Window.partitionBy(strata_col)
         .orderBy(F.col("__h").asc(), F.col("doc_id").asc()))
    out = (pre.withColumn("sample_rank", F.row_number().over(w))
           .filter(F.col("sample_rank") <= F.lit(int(qmax))))
    if quotas is not None:
        out = out.filter(F.col("sample_rank") <= F.col("__q")).drop("__q")
    return out.drop("__h")


def mixture_sample(df: DataFrame, weights: dict,
                   total_tokens: int) -> DataFrame:
    """Domain-mixture resampling to a TOKEN budget: each stratum
    (a ``source`` domain) gets ``total_tokens *
    w/sum(w)`` tokens, filled greedily in the deterministic md5-hash
    order shared with :func:`stratified_sample` — a document is
    admitted iff the tokens of the hash-earlier documents of its
    stratum are still under the stratum quota (the last admitted doc
    may overshoot by part of itself; strata without a weight drop).
    This is the static data-mixing step of pretraining pipelines
    (fixed per-domain token budgets); re-running after a crawl only
    moves docs whose hashes cross the cutoff.

    Plan shape: the naive formulation is an exclusive running sum over
    each FULL stratum — one sequential window scan per stratum, the
    classic single-partition bottleneck at 100 TB.  Here the cumsum
    runs at two granularities:

    1. docs bucket by their hash's first byte (256 buckets); per
       (stratum, bucket) token totals are one map-side-combinable
       aggregation (#strata * 256 rows), and the exclusive bucket-start
       offsets are a window over THAT tiny table;
    2. buckets starting past quota reject wholesale — the corpus mass
       beyond the quota never reaches a window; surviving rows (all
       under-quota buckets, ~the admitted sample) run ONE within-bucket
       exclusive cumsum seeded with the bucket-start offset, and
       full buckets (ending strictly under quota) admit regardless of
       it.  The window partitions by (stratum, bucket), so each sort is
       bucket-sized and parallel, and the whole corpus pipeline
       (tokenize + md5, the dominant per-row cost) is consumed ONCE —
       the earlier two-branch union re-scanned it per branch (the
       one-consumption rule, SCALE.md).

    It returns the naive formulation's rows exactly (the hash orders by
    (first-byte bucket, rest) exactly like the flat hash string;
    equivalence pinned in tests).  Returns (source, doc_id, n_tokens).
    """
    from pyspark.sql import types as T
    w_sum = float(sum(weights.values()))
    if not weights or w_sum <= 0:
        raise ValueError(
            f"weights must be non-empty with a positive sum: {weights}")
    quotas = {s: int(total_tokens * w / w_sum) for s, w in weights.items()}
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(k, int(v)) for k, v in quotas.items()],
        T.StructType([df.schema["source"],
                      T.StructField("__q", T.LongType())]))
    from cantera_table_spark.functions.text import tokens
    n_tok = F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
    # NULL ids: no identity -> no reproducible hash position; their
    # NULL hash sorted first and consumed quota ahead of every real
    # document (r11 review; same rule as stratified_sample)
    base = (df.filter(F.col("doc_id").isNotNull())
            .select(F.col("source"), F.col("doc_id"),
                    n_tok.cast("long").alias("n_tokens"),
                    sample_hash(F.col("doc_id")).alias("__h"))
            .join(F.broadcast(qdf), "source"))
    b = base.withColumn("__b", F.substring("__h", 1, 2))
    coarse_tbl = (b.groupBy("source", "__b")
                  .agg(F.sum("n_tokens").alias("__bt")))
    wb = (Window.partitionBy("source").orderBy(F.col("__b").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    starts = coarse_tbl.withColumn(
        "__bs", F.coalesce(F.sum("__bt").over(wb), F.lit(0)))
    j = b.join(F.broadcast(starts), ["source", "__b"])
    # full-bucket admission must be STRICT: a zero-token doc sitting
    # at a bucket end that lands exactly on the quota has exclusive
    # cumsum == quota, which the naive rule (cum < quota) rejects —
    # buckets ending exactly at the quota fall to the exact per-row
    # refinement term instead
    wf = (Window.partitionBy("source", "__b")
          .orderBy(F.col("__h").asc(), F.col("doc_id").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    cum = (F.col("__bs") +
           F.coalesce(F.sum("n_tokens").over(wf), F.lit(0)))
    return (j.filter(F.col("__bs") < F.col("__q"))
            .withColumn("__cum", cum)
            .filter((F.col("__bs") + F.col("__bt") < F.col("__q")) |
                    (F.col("__cum") < F.col("__q")))
            .select("source", "doc_id", "n_tokens"))


def hash_split(df: DataFrame, fractions: dict) -> DataFrame:
    """Deterministic train/val/test assignment: the sample-hash
    uniform u(id) buckets each row into the named fractions (dict of
    name -> weight, normalized; insertion order fixes the cumulative
    interval layout).  Stable under corpus growth — a document's split
    NEVER changes when other documents are added or removed (the
    property random splits lack, and the reason eval contamination
    audits want hash splits).  Pure map, no shuffle.
    """
    total = float(sum(fractions.values()))
    if not fractions or total <= 0:
        raise ValueError(
            f"fractions must be non-empty with a positive sum: {fractions}")
    # a NULL id yields u = NULL: every `u < x` is NULL-false, so the
    # row silently lands in the LAST split — for the canonical
    # train/val/test layout that is the eval split, an eval-
    # contamination vector (r11 review).  No identity, no split.
    df = df.filter(F.col("doc_id").isNotNull())
    u = sample_u(F.col("doc_id"))
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = u < F.lit(acc)
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)
