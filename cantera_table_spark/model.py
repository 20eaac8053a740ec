"""Canonical data model + catalog.

Reference mapping (SURVEY.md §1.4):

- summary table (doc name -> JSON, reference README.md:26-35, schema.cc)
  -> ``documents(doc_id LONG, key STRING, doc STRING)``.  The reference's
  64-bit byte-offset address space (query.cc:813-821) is replaced by a
  surrogate ``doc_id``; joins on doc_id replace byte seeks.
- summary-override table (README.md:37-46) -> ``overrides(key, doc)``,
  left-joined at output time.
- index table (keyword -> compressed (offset, score) array,
  ca-table.h:89-106) -> long-form ``postings(keyword, doc_id, score,
  pct5, pct25, pct75, pct95)``, one row per posting.  Parquet dictionary /
  delta / ZSTD encodings replace the reference's posting-list compression
  (format.cc:41-243, parse.cc).
- time-series table (offset = epoch seconds, ca-load.cc:296-315)
  -> ``timeseries(key, ts TIMESTAMP, value, pct5..pct95)``.

Scores are float32 in the reference (ca-table.h:100).  We carry DOUBLE
end-to-end: Spark aggregates and the DuckDB oracle both operate in
float64, which keeps comparison semantics consistent; documented
divergence from the reference's float32 storage.

At 100 TB: ``postings`` is written partitioned by a keyword hash bucket
(``pmod(xxhash64(keyword), N_BUCKETS)``) so a leaf lookup prunes to one
bucket, and sorted by (keyword, doc_id) within files so min/max row-group
stats prune further.  ``documents`` partitions by ``pmod(doc_id, N)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

POSTINGS_SCHEMA = T.StructType([
    T.StructField("keyword", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("pct5", T.DoubleType(), True),
    T.StructField("pct25", T.DoubleType(), True),
    T.StructField("pct75", T.DoubleType(), True),
    T.StructField("pct95", T.DoubleType(), True),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("key", T.StringType(), False),
    T.StructField("doc", T.StringType(), True),  # JSON object body
])

OVERRIDES_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("doc", T.StringType(), True),
])

TIMESERIES_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("value", T.DoubleType(), False),
    T.StructField("pct5", T.DoubleType(), True),
    T.StructField("pct25", T.DoubleType(), True),
    T.StructField("pct75", T.DoubleType(), True),
    T.StructField("pct95", T.DoubleType(), True),
])

# Result relation flowing through the set algebra: one row per posting.
RESULT_COLS = ("doc_id", "score")


def bucket_expr(keyword_col, n: int):
    """The ONE keyword->bucket hash shared by the postings writer
    (sources/ingest.write_postings) and the lookup pruner
    (dsl/compiler._lookup_plain): any drift between the two sides makes
    lookups filter on a bucket the keyword was never written to and
    silently return zero rows, so the expression lives here exactly
    once (r10 review finding)."""
    return F.pmod(F.xxhash64(keyword_col), F.lit(int(n)))


@dataclass
class Catalog:
    """The schema-file equivalent (reference schema.cc:60-118).

    The reference's schema file lists member tables of a database with
    types ``summary`` / ``summary-override`` / ``index``.  Here a catalog
    holds the same three roles as DataFrames.  Multiple physical tables
    per role are unioned (the reference's multi-table address space is a
    storage detail that doc_id surrogates erase).
    """

    summaries: list[DataFrame] = field(default_factory=list)
    indexes: list[DataFrame] = field(default_factory=list)
    overrides: list[DataFrame] = field(default_factory=list)
    # Keyword metadata (reference keywords.yaml, keywords.cc:51-58):
    # list of (prefix, kind) with kind in {"timestamped", "ephemeral"}.
    keyword_meta: list[tuple[str, str]] = field(default_factory=list)
    # When the index tables were written by sources.ingest.write_postings
    # with a bucket partition column, the bucket count enables partition
    # pruning on leaf lookups (compiler._lookup_plain).  MUST equal the
    # writer's n_buckets: a mismatch prunes to a bucket the keyword was
    # never written to and every lookup silently returns zero rows
    # (bucket_expr shares the hash but cannot verify the count).
    # Index tables WITHOUT a bucket column may be mixed in freely —
    # their NULL-filled bucket rows bypass pruning (compiler's
    # null-safe filter) and are scanned fully.
    postings_buckets: int | None = None

    def index(self) -> DataFrame:
        if not self.indexes:
            raise ValueError("catalog has no index tables")
        df = self.indexes[0]
        for other in self.indexes[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    def summary(self) -> DataFrame:
        if not self.summaries:
            raise ValueError("catalog has no summary tables")
        df = self.summaries[0]
        for other in self.summaries[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    def override(self) -> DataFrame | None:
        """One row per key with the override bodies MERGED in table
        order, so the query/export join stays 1:1.

        The reference walks the override tables in order and BREAKS at
        the first table that lacks the key (query.cc:876-877: ``if
        (!summary_override_table->SeekToKey(row_key)) break;``) — a
        later table's body applies only when every earlier table also
        contains the key.  Replicated exactly: per key, only the bodies
        from the longest prefix of consecutive table ordinals starting
        at 0 merge; a key absent from table 0 gets no override at all,
        even if later tables contain it.  Within the kept prefix the
        brace-stripped bodies concatenate into ONE JSON object in table
        order — duplicate JSON keys resolve last-wins at json.loads
        exactly like the reference's client contract (the reference
        appends all bodies and the client resolves; a bare union here
        would instead MULTIPLY page/export rows and overrun LIMIT, the
        r9 review finding).  Empty/NULL bodies contribute nothing but
        still count as "key present" for the prefix walk (the
        reference's seek succeeds regardless of the payload).  Within
        one table, equal keys order by body for determinism (the
        reference's tables are uniquely keyed; streamed batches should
        carry their ordering in the body if it matters)."""
        if not self.overrides:
            return None
        dfs = [t.select("key", "doc").withColumn("__ord", F.lit(i))
               for i, t in enumerate(self.overrides)]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other)
        body = F.when(F.col("doc").startswith("{"),
                      F.expr("substring(doc, 2, length(doc) - 2)")
                      ).otherwise(F.col("doc"))
        per_key = (df.select("key", "__ord", body.alias("__body"))
                   .groupBy("key")
                   .agg(F.array_sort(F.collect_list(
                       F.struct("__ord", "__body"))).alias("__bs")))
        # longest consecutive-ordinal prefix 0..cut-1: fold the distinct
        # (sorted) ordinals, advancing the counter only while they stay
        # consecutive from 0 — the break-at-first-miss walk
        cut = F.aggregate(
            F.array_distinct(F.transform(F.col("__bs"),
                                         lambda s: s["__ord"])),
            F.lit(0),
            lambda acc, o: F.when(o == acc, acc + 1).otherwise(acc))
        kept = F.filter(
            F.col("__bs"),
            lambda s: (s["__ord"] < cut) &
                      (F.length(F.trim(s["__body"])) > 0))
        return (per_key
                .select("key", F.concat(
                    F.lit("{"),
                    F.array_join(
                        F.transform(kept, lambda s: s["__body"]), ","),
                    F.lit("}")).alias("doc"))
                .filter(F.col("doc") != "{}"))

    def _match_kind(self, key: str, kind: str) -> bool:
        """reference keywords.h:18-45 — prefix match.  The reference's
        full-match regex form (keywords.cc:66-92) is not supported: one
        rule keeps the driver and the JVM side in one dialect."""
        return any(key.startswith(p)
                   for p, k in self.keyword_meta if k == kind)

    def kind_match_col(self, kind: str) -> Column:
        """``_match_kind`` as a Column over ``keyword``, evaluated in the
        JVM (a Python UDF would both unpickle-crash on the captured
        catalog and drop the filter out of codegen)."""
        out = F.lit(False)
        for p, k in self.keyword_meta:
            if k == kind:
                out = out | F.col("keyword").startswith(p)
        return out

    def is_timestamped(self, key: str) -> bool:
        return self._match_kind(key, "timestamped")


# ---------------------------------------------------------------------------
# Deterministic derivations from the driver's TPC-H-ish testdata
# (TESTDATA.md).  These double as the ingest reference implementations and
# must match the DuckDB oracle SQL in __spark_entry__.py token-for-token.
# ---------------------------------------------------------------------------

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table.

    The driver testdata has stored timestamps two ways across rounds:
    Parquet TIMESTAMP(NANOS), which Spark's reader rejects unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set (session.py; the
    column then arrives as LongType nanoseconds and is converted back to
    a timestamp here, integer µs division — exact), and µs
    ``isAdjustedToUTC=false``, which Spark 4 reads as TIMESTAMP_NTZ by
    default.  The DuckDB oracle reads either as a naive timestamp, i.e.
    the same wall-clock digits — so both are normalized to TimestampType
    under a UTC session zone, which preserves the micros value bit-for-bit
    and keeps date_format/unix_micros/window() working.

    The confs are (re-)set here rather than only at session creation so
    the read works on any caller-supplied SparkSession (e.g. the driver's
    bare session); both are runtime-settable and idempotent.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # same defensive posture for the timezone: the oracle (DuckDB) reads
    # these naive timestamps as-is, so date_format/date_trunc must run
    # under UTC even on a caller session that didn't pin it.  This is a
    # session-global mutation — warn loudly when it overwrites a
    # conflicting caller choice instead of silently changing the
    # semantics of the caller's unrelated queries.
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    from cantera_table_spark.session import is_utc_zone
    if prev_tz is not None and not is_utc_zone(spark, prev_tz):
        import warnings
        warnings.warn(
            f"load_table pins spark.sql.session.timeZone=UTC for oracle "
            f"parity, overriding the session's existing {prev_tz!r}; "
            f"timestamp rendering in other queries on this session will "
            f"change", stacklevel=2)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if f_.name in ("ts", "l_shipdate", "o_orderdate") and \
                isinstance(f_.dataType, T.LongType):
            df = df.withColumn(
                f_.name, F.timestamp_micros(F.expr(f"{f_.name} div 1000")))
        elif isinstance(f_.dataType, T.TimestampNTZType):
            # belt-and-braces when the scan still inferred NTZ (e.g. a
            # caller session where the conf was frozen): under the UTC
            # session zone pinned above this cast is the identity on the
            # underlying micros value.
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def derive_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over documents.text: keyword = lowercase token,
    score = term frequency (DOUBLE).

    Oracle equivalent (DuckDB):
        SELECT t.tok AS keyword, d.doc_id, count(*)::DOUBLE AS score
        FROM documents d,
             unnest(list_filter(regexp_split_to_array(lower(d.text),
                    '[^a-z]+'), x -> x <> '')) AS t(tok)
        GROUP BY 1, 2
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")
        ).alias("keyword"),
    )
    return (
        toks.groupBy("keyword", "doc_id")
        .agg(F.count("*").cast("double").alias("score"))
        .select("keyword", "doc_id", "score")
    )


def derive_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary table: key = 'doc<id>.example.com', doc = JSON body of the
    metadata columns (FIXTURES.md §1 shape)."""
    d = load_table(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    # lpad TRUNCATES strings longer than the pad width, which would
    # collide doc_id >= 1e6 with smaller ids — pad only short ids
    padded = F.when(F.length(ids) > 6, ids).otherwise(F.lpad(ids, 6, "0"))
    return d.select(
        "doc_id",
        F.concat(F.lit("doc"), padded, F.lit(".example.com")).alias("key"),
        F.to_json(F.struct("lang", "source", "n_chars")).alias("doc"),
    )


def derive_label_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extra index rows: 'lang:<lang>' and 'src:<source>' presence keywords
    (score 0.0 — presence-only, exercises SELECT's all-zero -> 1.0 rule,
    reference select.cc:47-53) plus 'len:chars' with score = n_chars."""
    d = load_table(spark, sf_dir, "documents")
    lang = d.select(F.concat(F.lit("lang:"), F.col("lang")).alias("keyword"),
                    "doc_id", F.lit(0.0).alias("score"))
    src = d.select(F.concat(F.lit("src:"), F.col("source")).alias("keyword"),
                   "doc_id", F.lit(0.0).alias("score"))
    nchars = d.select(F.lit("len:chars").alias("keyword"), "doc_id",
                      F.col("n_chars").cast("double").alias("score"))
    return lang.unionByName(src).unionByName(nchars)


def derive_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series table from events: key = event_type, value = value."""
    e = load_table(spark, sf_dir, "events")
    return e.select(F.col("event_type").alias("key"), "ts",
                    F.col("value").alias("value"))


def testdata_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over the driver testdata derivations."""
    postings = derive_postings(spark, sf_dir).unionByName(
        derive_label_postings(spark, sf_dir))
    return Catalog(
        summaries=[derive_documents(spark, sf_dir)],
        indexes=[postings],
        keyword_meta=[("ts:", "timestamped")],
    )
