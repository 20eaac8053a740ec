"""Structured Streaming ingest edge (SURVEY.md §2.9).

The reference is batch-only (stdin -> write-once tables); its update
model is "rebuild + override tables" (README.md:37-46).  The streaming
edge maps that naturally onto Spark:

- file source -> the same parse/transform as batch ingest ->
  Parquet sink in append mode (base table).
- late corrections land in an ``overrides`` table (the reference's
  summary-override layer) instead of rewriting the base — the override
  join at query time (engine.query_stmt) already patches them in.
  NOTE the reference's override walk BREAKS at the first table lacking
  the key (query.cc:876-877, replicated in Catalog.override), so a
  streamed-corrections table must be the FIRST (or only) entry in
  ``Catalog(overrides=[...])``; placed after another override table,
  corrections for keys absent from the earlier tables would never
  apply.
- windowed rollups use event-time watermarks for late data.

Kept deliberately thin: statement semantics stay in the batch engine;
streaming only feeds tables (north-star guidance in BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cantera_table_spark.sources.ingest import _unescape_tsv


def _timeseries_projection(raw: DataFrame, date_format: str) -> DataFrame:
    """Timeseries stream parse: TSV key unescape, timestamp parse, drop
    unparseable rows.  ``raw`` has string columns (key, date, value)
    from the CSV reader's schema."""
    return (raw.select(_unescape_tsv(F.col("key")).alias("key"),
                       F.try_to_timestamp(F.col("date"),
                                          F.lit(date_format)).alias("ts"),
                       # try_cast, NOT cast: under Spark 4's default
                       # ANSI mode a plain cast on one malformed
                       # numeric field raises CAST_INVALID_INPUT and
                       # kills the whole streaming query — a poison
                       # pill that re-crashes on every checkpoint
                       # restart — where the batch reader (permissive
                       # CSV schema) nulls the same field (r11 review,
                       # empirically confirmed)
                       F.col("value").try_cast("double")
                       .alias("value"))
            .filter(F.col("ts").isNotNull()))


def stream_tsv_timeseries(spark: SparkSession, path: str,
                          date_format: str = "yyyy-MM-dd HH:mm:ss",
                          ) -> DataFrame:
    """Streaming variant of sources.ingest.read_tsv_timeseries: a file
    source watching ``path`` for new TSV drops."""
    raw = (spark.readStream.option("sep", "\t").option("quote", "")
           .schema("key string, date string, value string")
           .csv(path))
    return _timeseries_projection(raw, date_format)


def windowed_rollup(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed aggregate with a late-data watermark — the
    streaming analogue of the daily rollup (gate ts01)."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy("key", F.window("ts", window).alias("w"))
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("total"))
            .select("key", F.col("w.start").alias("window_start"),
                    "n", "total"))


def start_parquet_sink(stream: DataFrame, path: str, checkpoint: str):
    """Append the stream into the Parquet base table (exactly-once via
    checkpointing; at scale this is the Delta/Iceberg commit point),
    processing what is available now and then stopping."""
    return (stream.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def streaming_exact_dedup(stream: DataFrame, hash_cols=("text",),
                          ts_col: str | None = None,
                          watermark: str = "24 hours") -> DataFrame:
    """Exact content dedup on an arriving stream: keep the first row
    per md5 content hash.

    Two state regimes:

    - ``ts_col=None``: classic ``dropDuplicates`` — state holds every
      hash ever seen.  Exact forever, but state grows with the corpus;
      only viable for bounded keyspaces.
    - ``ts_col`` given: ``dropDuplicatesWithinWatermark`` — state is
      bounded by the watermark horizon, the 100 TB posture (duplicates
      arriving within ``watermark`` of each other are caught; older
      re-appearances fall to the periodic batch dedup pass, the same
      layering the override-table model uses for late corrections).

    The surviving ROW per hash is whichever arrives first, which across
    a shuffled multi-file source is nondeterministic — only the
    surviving hash SET is deterministic, which is what the gate pins.
    """
    # NULL-distinct encoding: bare concat_ws SKIPS null columns (and
    # their separators), so (NULL,'x') and ('x',NULL) collided to one
    # hash and a NULL-text row deduped against an EMPTY-text row —
    # distinct documents silently dropped (r11 review, empirically
    # confirmed: md5(concat_ws(sep, NULL)) == md5('')).  Each field is
    # escaped injectively (\x00 -> \x00e, the \x1f separator ->
    # \x00s), NULL encodes as the bare one-byte \x00, which no escaped
    # value can produce (escaping emits \x00 only followed by e/s and
    # replaces every original \x00).  This is a generic API also fed
    # arbitrary batch/stream frames, so the earlier bare-sentinel
    # coalesce was a real collision for callers outside TSV ingest: a
    # NULL column deduped against a literal one-byte '\x00' value, and
    # ('a\x1f','b') against ('a','\x1fb') (r11 advisory).  Values free
    # of \x00/\x1f — all TSV-ingested text — hash byte-identically to
    # before, so a single non-null text column still hashes as
    # md5(text), the equality the st03/st06 oracles pin.
    def _enc(c: str) -> Column:
        s = F.col(c).cast("string")
        s = F.replace(s, F.lit("\x00"), F.lit("\x00e"))
        s = F.replace(s, F.lit("\x1f"), F.lit("\x00s"))
        return F.coalesce(s, F.lit("\x00"))

    h = F.md5(F.concat_ws("\x1f", *[_enc(c) for c in hash_cols]))
    out = stream.withColumn("content_hash", h)
    if ts_col is None:
        return out.dropDuplicates(["content_hash"])
    return (out.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_hash"]))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       key_col: str = "key",
                       left_ts: str = "l_ts", right_ts: str = "r_ts",
                       max_span: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream INNER join: left rows pair with right
    rows of the same key inside ``[right_ts, right_ts + max_span)`` —
    the streaming form of the batch binned interval join
    (functions/timeseries.interval_join).

    Both sides carry an event-time watermark; with the time-range
    predicate bounding the buffered span, Spark can evict join state
    older than ``watermark + max_span`` instead of buffering both
    streams forever — the required shape for an always-on 100 TB
    pipeline.  The availableNow gate run processes all data in one
    batch, so the emitted set equals the batch join (st05 pins that);
    in continuous runs, rows later than the watermark are dropped —
    the same late-data layering as the windowed rollup.

    Columns besides ``key_col`` must be disjoint between the sides.
    """
    overlap = [c for c in left.columns if c in right.columns
               and c != key_col]
    if overlap:
        raise ValueError(f"column collision between sides: {overlap}")
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = ((lw[key_col] == rw[key_col]) &
            (rw[right_ts] <= lw[left_ts]) &
            (lw[left_ts] < rw[right_ts] + F.expr(f"INTERVAL {max_span}")))
    return lw.join(rw, cond, "inner").drop(rw[key_col])
