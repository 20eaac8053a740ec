"""Batch ingest — the ``ca-load`` equivalent (reference ca-load.cc).

The reference streams TSV through a state machine into sorted table
builders; here the same semantics are DataFrame transforms ending in a
sorted Parquet write.  Spark's shuffle replaces the k-way heap merge
(merge.cc:120-184), its external sort replaces the spill-sort builder
(table-backend-writeonce.cc:761-905), and ``--shard-count/index``
process sharding becomes partitioning.

Input shapes (ca-load.cc:233-391):
- summaries:    ``KEY<TAB>JSON``
- index:        ``KEY<TAB>DOCNAME``        (doc resolved to doc_id, S10)
- time-series:  ``KEY<TAB>DATE<TAB>VALUE`` (date via strptime fmt, S9)

Merge modes on duplicate (key, offset) across inputs
(ca-load.cc:409-541): sum | union (scores must agree) | pick-one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope

# the reference's prediction-band columns (ca-table.h:102-105) — band
# handling must key on ANY of these, not just pct5: a table carrying
# pct25/pct75/pct95 without pct5 is still band-bearing (r10 advisory)
BAND_COLS = ("pct5", "pct25", "pct75", "pct95")


class MergeError(ValueError):
    pass


def _apply_key_options(df: DataFrame, key_col: str = "key",
                       key_filter: str | None = None,
                       strip_key_prefix: str | None = None,
                       add_key_prefix: str | None = None,
                       shard_count: int | None = None,
                       shard_index: int | None = None) -> DataFrame:
    """F8 key options (ca-load.cc:183-214, 543-568): RE2 filter, prefix
    strip/add, hash sharding.

    The reference shards with an FNV-ish hash (util.h:86); sharding only
    partitions work across processes, so any stable hash is
    semantics-preserving — we use xxhash64 (documented divergence).

    Misconfigured sharding raises instead of silently mis-ingesting:
    an index without a count would process EVERY row (each shard of a
    fleet ingesting the full input), and an index outside the count
    would filter everything to an empty output (r10 review finding).
    """
    if shard_index is not None and not shard_count:
        raise ValueError(
            f"shard_index={shard_index} given without shard_count")
    if shard_count and shard_index is not None and \
            not 0 <= shard_index < shard_count:
        raise ValueError(
            f"shard_index={shard_index} outside [0, {shard_count})")
    if key_filter is not None:
        df = df.filter(F.col(key_col).rlike(key_filter))
    if strip_key_prefix:
        df = df.withColumn(
            key_col,
            F.when(F.col(key_col).startswith(strip_key_prefix),
                   F.expr(f"substring({key_col}, "
                          f"{len(strip_key_prefix) + 1})"))
            .otherwise(F.col(key_col)))
    if add_key_prefix:
        df = df.withColumn(key_col,
                           F.concat(F.lit(add_key_prefix), F.col(key_col)))
    if shard_count:
        df = df.filter(
            F.pmod(F.xxhash64(F.col(key_col)), shard_count)
            == (shard_index or 0))
    return df


def escape_tsv(col):
    """Inverse of ``_unescape_tsv`` for export (reference
    format.cc:247-268): backslash first, then tab/newline/CR."""
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    return c


def _unescape_tsv(col):
    """TSV unescape: ``\\\\``, ``\\n``, ``\\r``, ``\\t``
    (ca-load.cc:238-253, format.cc:247-268).

    Split-on-double-backslash instead of a sentinel byte: the earlier
    NUL sentinel turned any LITERAL NUL already present in the data
    into a backslash (the reference's char-by-char unescape passes NUL
    through unchanged — r10 review finding).  Segments between ``\\\\``
    pairs contain only single-backslash escapes, which then substitute
    safely; rejoining with one backslash restores the escaped pairs.
    NULL input stays NULL (split/transform/array_join propagate)."""
    def _singles(seg):
        c = F.regexp_replace(seg, r"\\n", "\n")
        c = F.regexp_replace(c, r"\\r", "\r")
        return F.regexp_replace(c, r"\\t", "\t")
    return F.array_join(
        F.transform(F.split(col, r"\\\\"), _singles), "\\")


def read_tsv_timeseries(spark: SparkSession, path: str,
                        date_format: str = "yyyy-MM-dd HH:mm:ss",
                        threshold: float | None = None,
                        with_bands: bool = False,
                        **key_options) -> DataFrame:
    """S7+S9: ``KEY<TAB>DATE<TAB>VALUE`` -> (key, ts, value).

    ``threshold`` is F7 (--threshold: drop values below S at load,
    ca-load.cc:191-199).  ``with_bands`` reads four extra percentile
    columns (the reference's prediction bands, ca-table.h:102-105):
    ``KEY<TAB>DATE<TAB>VALUE<TAB>P5<TAB>P25<TAB>P75<TAB>P95`` with
    empty cells -> NULL.
    """
    schema = "key string, date string, value double"
    band_cols = list(BAND_COLS)
    if with_bands:
        schema += "".join(f", {c} double" for c in band_cols)
    raw = spark.read.option("sep", "\t").option("quote", "").schema(schema).csv(path)
    cols = [_unescape_tsv(F.col("key")).alias("key"),
            F.try_to_timestamp(F.col("date"),
                               F.lit(date_format)).alias("ts"),
            F.col("value")]
    if with_bands:
        cols += [F.col(c) for c in band_cols]
    df = raw.select(*cols).filter(F.col("ts").isNotNull())
    if threshold is not None:
        df = df.filter(F.col("value") >= threshold)
    return _apply_key_options(df, **key_options)


def read_tsv_postings(spark: SparkSession, path: str, documents: DataFrame,
                      score_col: bool = False,
                      threshold: float | None = None,
                      **key_options) -> DataFrame:
    """S7+S10: ``KEY<TAB>DOCNAME[<TAB>SCORE]`` -> (keyword, doc_id,
    score); document names resolve to doc_ids through the summary table
    (the reference resolved them to byte addresses, ca-load.cc:282-295).
    Unknown documents are dropped (reference errors; at 100 TB a
    quarantine sink is the right posture — divergence documented)."""
    if threshold is not None and not score_col:
        # the synthesized constant 0.0 score would be compared against
        # the threshold — silently emptying (or no-op'ing) the load
        raise ValueError(
            "threshold requires score_col=True (scoreless postings "
            "synthesize a constant 0.0 score)")
    schema = "key string, docname string" + \
             (", score double" if score_col else "")
    raw = spark.read.option("sep", "\t").option("quote", "").schema(schema).csv(path)
    df = raw.select(
        _unescape_tsv(F.col("key")).alias("keyword"),
        _unescape_tsv(F.col("docname")).alias("docname"),
        (F.col("score") if score_col else F.lit(0.0)).alias("score"))
    df = _apply_key_options(df, key_col="keyword", **key_options)
    if threshold is not None:
        df = df.filter(F.col("score") >= threshold)
    return (df.join(documents.select("doc_id", "key"),
                    df.docname == documents.key)
            .select("keyword", "doc_id", "score"))


def read_tsv_summaries(spark: SparkSession, path: str | list[str],
                       **key_options) -> DataFrame:
    """S7: ``KEY<TAB>JSON`` -> (doc_id, key, doc); doc_id assigned by
    dense key rank (stable, join-friendly — replaces byte offsets).

    ``path`` may be a list: all inputs share ONE id assignment (ranking
    per input would hand different documents the same doc_id).  Both
    columns are unescaped — the reference unescapes the whole stream
    (ca-load.cc:234-253).

    Sharding is rejected here: doc_id numbering restarts at 0 per call,
    so two sharded summary loads would hand different documents the
    same doc_id and every downstream doc_id join would attach the
    wrong document (r10 review finding).  The reference's sharded
    summary tables are keyed by KEY with per-table byte offsets, a
    layout this doc_id model deliberately replaced; load all inputs in
    ONE call (list ``path``) instead.
    """
    if key_options.get("shard_count") or \
            key_options.get("shard_index") is not None:
        raise ValueError(
            "sharded summary ingest is unsupported: per-shard doc_id "
            "numbering collides across shards — pass all inputs as a "
            "list path to one call instead")
    raw = (spark.read.option("sep", "\t").option("quote", "")
           .schema("key string, doc string").csv(path))
    df = _apply_key_options(
        raw.select(_unescape_tsv(F.col("key")).alias("key"),
                   _unescape_tsv(F.col("doc")).alias("doc")),
        **key_options)
    # Duplicate input keys would share a dense-rank doc_id while keeping
    # both rows, multiplying every downstream doc_id join — keep one row
    # per key deterministically (min doc body wins; use merge modes to
    # combine duplicates intentionally).
    w_dup = Window.partitionBy("key").orderBy(
        F.col("doc").asc_nulls_last())  # a NULL body must never beat a
    #                                     real summary for the same key
    df = (df.withColumn("__rn", F.row_number().over(w_dup))
          .filter(F.col("__rn") == 1).drop("__rn"))
    # keys are unique after the dedup above, so dense rank == global row
    # number; computed distributed (range partition + per-partition
    # numbering + start offsets) instead of a single-task global window —
    # this is the summary front door and must survive 100 TB
    from cantera_table_spark.operators.ordering import global_row_number
    return (global_row_number(df, F.col("key").asc())
            .withColumn("doc_id", F.col("__rn") - 1)
            .select("doc_id", "key", "doc"))


def merge_tables(tables: list[DataFrame], mode: str = "union",
                 key_cols: tuple[str, ...] = ("key", "ts"),
                 value_col: str = "value",
                 caches: CacheScope | None = None) -> DataFrame:
    """A3-A5 merge modes over N inputs (ca-load.cc:393-541).

    - ``sum``: duplicate (key, offset) values summed.
    - ``union``: duplicates must agree on the value, else MergeError
      (reference KJ_REQUIRE, ca-load.cc:477-481; the reference checks
      the SCORE only — bands ride along from the first entry).  The
      merged table is local-checkpointed in ``caches`` (required),
      which the caller releases once the result is consumed.
    - ``pick-one``: first table wins (table order = priority; the
      reference prefers percentile-bearing entries, ca-load.cc:482-489 —
      here: lowest table index).

    Band-bearing inputs (pct5..pct95 columns) are accepted by
    ``pick-one`` only: sum/union previously DROPPED the band columns
    silently (r10 review finding), and the reference's own sum mode
    KJ_REQUIREs band-free duplicates (ca-load.cc:491-494).  Carrying
    bands through sum/union faithfully (first entry's bands win, error
    on band-bearing duplicates) is the documented upgrade path; until
    then a loud error beats silent column loss.
    """
    tagged = [t.withColumn("__src", F.lit(i)) for i, t in enumerate(tables)]
    allt = tagged[0]
    for t in tagged[1:]:
        allt = allt.unionByName(t)
    keys = [F.col(c) for c in key_cols]
    band_present = [c for c in BAND_COLS if c in allt.columns]
    if mode in ("sum", "union") and band_present:
        raise ValueError(
            f"merge mode {mode!r} does not support percentile-band "
            f"columns ({', '.join(band_present)} would be dropped "
            "silently); use pick-one or strip the band columns first")
    if mode == "sum":
        return (allt.groupBy(*keys)
                .agg(F.sum(value_col).alias(value_col)))
    if mode == "union":
        if caches is None:
            raise ValueError("merge mode 'union' checkpoints the merged "
                             "table: pass a CacheScope as caches")
        agg = (allt.groupBy(*keys)
               .agg(F.min(value_col).alias("__min"),
                    F.max(value_col).alias("__max"),
                    F.count("*").alias("__n"),
                    F.count(value_col).alias("__nn"),
                    F.first(value_col).alias(value_col)))
        # one materialization serves both the eager conflict check and
        # the returned frame — without it the full union+aggregation
        # ran twice, once for .first() and once when the caller
        # consumed the result (r10 review finding)
        agg = caches.checkpoint(agg)
        # min/max skip NULLs, so a NULL-vs-value mix needs its own
        # check (count(col) < count(*) with any non-null present)
        conflict = (F.col("__min") != F.col("__max")) | \
                   ((F.col("__nn") > 0) & (F.col("__nn") < F.col("__n")))
        row = agg.filter(conflict).first()
        if row is not None:
            raise MergeError(
                f"union merge: conflicting values for key "
                f"{tuple(row[c] for c in key_cols)}")
        return agg.drop("__min", "__max", "__n", "__nn")
    if mode == "pick-one":
        # The reference prefers percentile-band-bearing entries over
        # plain ones, then first-wins (ca-load.cc:482-489, 513-517).
        order = [F.col("__src").asc()]
        if band_present:
            # a row is band-bearing if ANY band column is non-null
            has_band = F.coalesce(
                *[F.col(c) for c in band_present]).isNotNull()
            order.insert(0, has_band.desc())
        w = Window.partitionBy(*keys).orderBy(*order)
        return (allt.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src"))
    raise ValueError(f"unknown merge mode {mode!r}")


def write_postings(postings: DataFrame, path: str,
                   n_buckets: int | None = None,
                   bloom_filter: bool = False) -> None:
    """S11/S12: sorted table write with REAL partition pruning.

    A ``bucket = pmod(xxhash64(keyword), n)`` directory-partition column
    is materialized so a leaf lookup that also filters on the bucket
    (compiler._lookup_plain does, when Catalog.postings_buckets is set)
    opens one directory instead of every file; (keyword, doc_id) sort
    within files adds row-group stats pruning — the Parquet analogue of
    the reference's block index + hash index
    (table-backend-writeonce.cc:488-636, 1209-1298).

    ``bloom_filter=True`` additionally writes a Parquet bloom filter on
    ``keyword`` (the third pruning tier: after the bucket directory and
    the row-group min/max, the bloom rejects row groups whose keyword
    range straddles the probe but doesn't contain it — the hash-index
    analogue inside a bucket).  Off by default: blooms cost write-side
    memory/bytes and only pay off when many distinct keywords share a
    bucket, i.e. at large key cardinality."""
    n = n_buckets or 32
    from cantera_table_spark.model import bucket_expr
    w = (postings
         .withColumn("bucket", bucket_expr(F.col("keyword"), n))
         .repartition(n, "bucket")
         .sortWithinPartitions("keyword", "doc_id")
         .write.mode("overwrite"))
    if bloom_filter:
        w = (w.option("parquet.bloom.filter.enabled#keyword", "true")
             .option("parquet.bloom.filter.expected.ndv#keyword",
                     "1000000"))
    w.partitionBy("bucket").parquet(path)
