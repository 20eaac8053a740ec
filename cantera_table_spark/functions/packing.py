"""Sequence packing for training-batch assembly.

A pretraining dataloader wants fixed-size token buffers; packing short
documents together (instead of padding each to the context length)
recovers most of the wasted compute.  This module assigns every
document to a (shard, bin) so that each bin's token total stays within
a capacity, using the classic greedy sequential packer: walk the
shard's documents in a deterministic order and open a new bin whenever
the next document would overflow the current one.

Scale shape: packing is embarrassingly parallel ACROSS shards and
inherently sequential WITHIN a shard — so the operator hash-shards the
corpus and runs the linear scan per shard via ``applyInPandas`` (Arrow
batches, no per-row Python).  Shard count is the parallelism knob: at
100 TB you size shards so one shard's (doc_id, n_tokens) listing fits
one task comfortably (it is two longs per document — a billion docs
per shard is ~16 GB; thousands of shards keep it in the tens of MB).
The scan itself never materializes document text — only the id and the
token count move through the shuffle.

The deterministic spec (mirrored by the DuckDB oracle's recursive CTE):
shard = doc_id % n_shards; within a shard, documents are visited in
doc_id order; a document goes into the current bin when fill + n <=
capacity, else it opens bin+1 with fill = n.  Documents longer than
the capacity therefore occupy a bin alone (real pipelines would split
them upstream; flagged with ``oversize``).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cantera_table_spark.functions.text import tokens

PACK_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("shard", T.LongType()),
    T.StructField("bin", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("oversize", T.BooleanType()),
])


def pack_sequences(df: DataFrame, capacity: int,
                   n_shards: int = 4) -> DataFrame:
    """Greedy sequential bin packing of documents into token-capacity
    bins, sharded for parallelism.

    Returns (doc_id, shard, bin, n_tokens, oversize); bin numbering is
    local to the shard and starts at 0.
    """
    cap = int(capacity)
    # NULL text counts as zero tokens (occupies no bin capacity) —
    # size(NULL) is NULL, which would reach the Arrow fold as None.
    # NULL ids are REJECTED loudly in the kernel: one null in a shard
    # makes Arrow hand the fold a float64 doc_id column, silently
    # rounding ids >= 2^53 and corrupting the bin sort order (the
    # kmv_distinct Arrow-coercion class, r11 review).
    sized = df.select(
        F.col("doc_id"),
        (F.col("doc_id") % n_shards).alias("shard"),
        F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
        .cast("long").alias("n_tokens"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["doc_id"].isna().any():
            raise ValueError(
                "pack_sequences: NULL doc_id in shard (ids must be "
                "non-null — Arrow would coerce the id column to "
                "float64 and round ids >= 2^53)")
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if bins and fill + n > cap:
                cur += 1
                fill = 0
            fill += n
            bins.append(cur)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["oversize"] = pdf["n_tokens"] > cap
        return pdf[["doc_id", "shard", "bin", "n_tokens", "oversize"]]

    return (sized.groupBy("shard").applyInPandas(pack, PACK_SCHEMA))


SHUFFLE_SALT = "shuf:"


def shuffle_shards(df: DataFrame, n_shards: int) -> DataFrame:
    """Deterministic global corpus shuffle + round-robin shard
    assignment — the training-order stage that feeds a dataloader:
    every epoch-0 consumer must see the same pseudo-random document
    order, and each output shard must be an unbiased 1/n_shards sample
    of the corpus.

    Order key = md5 of the salted id (the same portable permutation
    trick as sampling.sample_hash — identical across runs, engines and
    partitionings); rank = distributed global row number (range
    repartition + per-partition numbering + broadcast start offsets —
    no single-task sort, operators.ordering.global_row_number); shard =
    (rank - 1) % n_shards, so shards interleave the shuffled order and
    stay equal-size to within one document.

    Returns (doc_id, shuffle_rank, shard).  Downstream a writer
    would ``.repartition('shard').write.partitionBy('shard')`` — kept
    out of this operator so the assignment stays a pure, testable
    function.  The numbering relies on ReuseExchange (ordering.py's
    HARD INVARIANT).
    """
    from cantera_table_spark.functions.sampling import sample_hash
    from cantera_table_spark.operators.ordering import global_row_number
    h = sample_hash(F.col("doc_id"), salt=SHUFFLE_SALT).alias("__h")
    # NULL ids rank first on their NULL hash and poison the epoch-0
    # determinism contract — drop them like the sampling operators
    # (r11 review)
    ranked = global_row_number(
        df.filter(F.col("doc_id").isNotNull()).select(F.col("doc_id"), h),
        F.col("__h").asc(), F.col("doc_id").asc(),
        col_name="shuffle_rank")
    return (ranked
            .select("doc_id", "shuffle_rank",
                    ((F.col("shuffle_rank") - 1) % n_shards)
                    .alias("shard")))


def assemble_packed_text(docs: DataFrame, packed: DataFrame) -> DataFrame:
    """Materialize training sequences from a packing assignment: per
    (shard, bin), the member documents' text concatenated in doc_id
    order with a blank line between documents (the EOS-separator
    slot).

    The text column only moves in the final assembly shuffle, keyed by
    (shard, bin) — bounded by capacity per group.  Returns
    (shard, bin, n_docs, n_tokens, text).

    Contract notes (r11 review, both deliberate):
    - ``docs`` must cover every packed id — the inner join silently
      omits assignments whose document is absent (a packing computed
      from a superset corpus); validate coverage upstream if that can
      happen in your pipeline.
    - NULL-text members COUNT toward n_docs (they are real packed
      members with 0 tokens) but render nothing — Spark's array_join
      and the SQL oracle's string_agg both skip NULL elements, so the
      two engines agree byte-for-byte.
    """
    joined = (packed.select("doc_id", "shard", "bin", "n_tokens")
              .join(docs.select("doc_id", "text"), "doc_id"))
    return (joined.groupBy("shard", "bin")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("doc_id", "text"))),
                         lambda s: s["text"]),
                     "\n\n").alias("text")))
