"""Distributed global row numbering — the shared kernel behind
offset paging (set_algebra.top_k) and ingest id assignment
(sources.ingest.read_tsv_summaries).

A global ``row_number`` over an unpartitioned window is a single-task
sort of the whole input; this module computes the same numbering with
bounded parallelism:

1. range-repartition on the sort key (rows globally ordered across
   partitions),
2. per-partition ``row_number`` (parallel window, partitioned by the
   physical partition id),
3. add each partition's start offset, computed as a cumulative sum over
   the per-partition count table — whose size is the partition count,
   not the data — and broadcast back.

The count branch and the row branch reference the same range exchange;
Spark's ReuseExchange collapses them to one physical shuffle, so both
see identical partition boundaries (asserted in
tests/test_set_algebra.py).

HARD INVARIANT: without ``caches`` the numbering is only correct while
that ReusedExchange holds — if the two branches ever re-executed the
exchange separately over a nondeterministically-ordered input (e.g.
the output of an aggregation), range sampling could pick different
boundaries per branch and the numbering would be silently wrong.  The
plan-shape test pins the reuse; callers whose input is downstream of
an aggregation or other nondeterministic op pass a ``CacheScope`` as
``caches``: the partitioned input is local-checkpointed there, so both
branches read one materialization regardless of plan shape, and the
caller releases it once the result is consumed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope


def global_row_number(df: DataFrame, *order: Column,
                      col_name: str = "__rn",
                      caches: CacheScope | None = None) -> DataFrame:
    """Append 1-based global row numbers in ``order`` without a
    single-task sort.  Rows with equal keys number arbitrarily but
    stably within the run (they land in one range partition).

    With ``caches`` the range-partitioned input is local-checkpointed
    in that scope before the count/row branches split, trading one
    executor-storage copy for independence from ReuseExchange (see
    module docstring)."""
    reserved = {"__gpid", "__cnt", "__start", col_name}
    clash = [c for c in df.columns if c in reserved]
    if clash:
        # a caller __gpid would be silently overwritten and dropped; a
        # caller __start/__cnt makes the starts join ambiguous
        raise ValueError(
            f"input columns collide with ordering internals: {clash}")
    parts = (df.repartitionByRange(*order)
             .withColumn("__gpid", F.spark_partition_id()))
    if caches is not None:
        parts = caches.checkpoint(parts)
    counts = parts.groupBy("__gpid").agg(F.count("*").alias("__cnt"))
    wcum = (Window.orderBy("__gpid")
            .rowsBetween(Window.unboundedPreceding, -1))
    starts = counts.select(
        "__gpid",
        F.coalesce(F.sum("__cnt").over(wcum), F.lit(0)).alias("__start"))
    wloc = Window.partitionBy("__gpid").orderBy(*order)
    return (parts.join(F.broadcast(starts), "__gpid")
            .withColumn(col_name,
                        F.row_number().over(wloc) + F.col("__start"))
            .drop("__gpid", "__start"))
