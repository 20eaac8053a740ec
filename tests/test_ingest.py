"""Ingest / dump / streaming tests (ca-load / ca-dump equivalents)."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_tsv_timeseries_roundtrip(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_timeseries
    p = os.path.join(tmpdir, "ts.tsv")
    write_lines(p, [
        "cpu\\tload\t2024-01-01 00:00:00\t1.5",   # escaped tab in key
        "mem\t2024-01-01 01:00:00\t2.0",
        "mem\t2024-01-01 02:00:00\t0.5",
    ])
    df = read_tsv_timeseries(spark, p)
    rows = sorted((r.key, r.value) for r in df.collect())
    assert rows == [("cpu\tload", 1.5), ("mem", 0.5), ("mem", 2.0)]


def test_tsv_threshold_and_key_options(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_timeseries
    p = os.path.join(tmpdir, "ts.tsv")
    write_lines(p, [
        "a:x\t2024-01-01 00:00:00\t1.0",
        "a:y\t2024-01-01 00:00:00\t5.0",
        "b:z\t2024-01-01 00:00:00\t9.0",
    ])
    df = read_tsv_timeseries(spark, p, threshold=2.0, key_filter="^a:",
                             strip_key_prefix="a:", add_key_prefix="new:")
    rows = [(r.key, r.value) for r in df.collect()]
    assert rows == [("new:y", 5.0)]  # F7 threshold + F8 key options


def test_tsv_postings_docname_resolution(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_postings
    docs = spark.createDataFrame(
        [(0, "doc-a"), (1, "doc-b")], "doc_id long, key string")
    p = os.path.join(tmpdir, "idx.tsv")
    write_lines(p, [
        "kw1\tdoc-a", "kw1\tdoc-b", "kw2\tdoc-b", "kw2\tmissing-doc",
    ])
    df = read_tsv_postings(spark, p, docs)
    rows = sorted((r.keyword, r.doc_id, r.score) for r in df.collect())
    assert rows == [("kw1", 0, 0.0), ("kw1", 1, 0.0), ("kw2", 1, 0.0)]


@pytest.mark.slow
def test_merge_modes(spark):
    from cantera_table_spark.sources.ingest import MergeError, merge_tables
    s = "key string, ts long, value double"
    t1 = spark.createDataFrame([("k", 1, 2.0), ("k", 2, 3.0)], s)
    t2 = spark.createDataFrame([("k", 1, 5.0), ("k", 3, 7.0)], s)

    summed = {(r.key, r.ts): r.value
              for r in merge_tables([t1, t2], "sum").collect()}
    assert summed == {("k", 1): 7.0, ("k", 2): 3.0, ("k", 3): 7.0}

    picked = {(r.key, r.ts): r.value
              for r in merge_tables([t1, t2], "pick-one").collect()}
    assert picked == {("k", 1): 2.0, ("k", 2): 3.0, ("k", 3): 7.0}

    with pytest.raises(MergeError), CacheScope() as caches:
        merge_tables([t1, t2], "union", caches=caches).collect()

    t3 = spark.createDataFrame([("k", 1, 2.0), ("k", 3, 7.0)], s)
    with CacheScope() as caches:
        unioned = {(r.key, r.ts): r.value for r in merge_tables(
            [t1, t3], "union", caches=caches).collect()}
    assert unioned == {("k", 1): 2.0, ("k", 2): 3.0, ("k", 3): 7.0}


def test_summaries_ingest_assigns_dense_ids(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_summaries
    p = os.path.join(tmpdir, "sum.tsv")
    write_lines(p, ['b\t{"x":1}', 'a\t{"y":2}', 'c\t{"z":3}'])
    df = read_tsv_summaries(spark, p)
    rows = sorted((r.doc_id, r.key) for r in df.collect())
    assert rows == [(0, "a"), (1, "b"), (2, "c")]


def test_dump_paths(spark):
    from cantera_table_spark.model import Catalog
    from cantera_table_spark.sources import dump
    postings = spark.createDataFrame(
        [("kw1", 0, 1.0), ("kw2", 0, 2.0), ("kw2", 1, 3.0)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame(
        [(0, "d0", "{}"), (1, "d1", "{}")],
        "doc_id long, key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings])

    assert dump.dump_postings(cat, prefix="kw2").count() == 2
    joined = dump.dump_index_with_summaries(cat).collect()
    assert sorted((r.keyword, r.doc_key) for r in joined) == \
        [("kw1", "d0"), ("kw2", "d0"), ("kw2", "d1")]
    counts = {r.keyword: r.n_postings
              for r in dump.dump_counts(cat).collect()}
    assert counts == {"kw1": 1, "kw2": 2}


@pytest.mark.slow
def test_streaming_ingest_availablenow(spark, tmpdir):
    from cantera_table_spark.streaming.ingest import (
        start_parquet_sink, stream_tsv_timeseries, windowed_rollup)
    src = os.path.join(tmpdir, "in")
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)
    write_lines(os.path.join(src, "batch1.tsv"), [
        "cpu\t2024-01-01 00:10:00\t1.0",
        "cpu\t2024-01-01 00:20:00\t2.0",
        "mem\t2024-01-01 01:10:00\t4.0",
    ])
    stream = stream_tsv_timeseries(spark, src)
    assert stream.isStreaming
    q = start_parquet_sink(stream, out, ckpt)
    q.awaitTermination(60)
    got = spark.read.parquet(out)
    assert got.count() == 3
    # late-data rollup shape on the same (batch) frame for semantics
    batch = spark.read.option("sep", "\t").schema(
        "key string, date string, value double").csv(src).select(
        "key", F.to_timestamp("date").alias("ts"), "value")
    roll = windowed_rollup(batch)  # withWatermark is a no-op on batch
    rows = {(r.key, str(r.window_start)): (r.n, r.total)
            for r in roll.collect()}
    assert rows[("cpu", "2024-01-01 00:00:00")] == (2, 3.0)
    assert rows[("mem", "2024-01-01 01:00:00")] == (1, 4.0)


def test_keyword_kinds_match_alike_on_driver_and_in_jvm(spark):
    """Keyword kinds are prefixes: the driver-side check and the JVM
    Column filter give the same answer, also for prefixes that would
    be regex syntax."""
    from cantera_table_spark.model import Catalog
    cat = Catalog(keyword_meta=[("ts:", "timestamped"),
                                ("(?P<ns>ts):", "timestamped"),
                                ("alexa:", "ephemeral")])
    keys = ["ts:visits", "(?P<ns>ts):x", "ts", "x", "alexa:rank",
            "xts:visits"]
    kw = spark.createDataFrame([(k,) for k in keys], "keyword string")
    jvm = {r.keyword for r in kw.filter(
        cat.kind_match_col("timestamped")).collect()}
    assert jvm == {k for k in keys if cat.is_timestamped(k)} == {
        "ts:visits", "(?P<ns>ts):x"}
    assert {r.keyword for r in kw.filter(
        cat.kind_match_col("ephemeral")).collect()} == {"alexa:rank"}


def test_tsv_timeseries_with_bands(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_timeseries
    p = os.path.join(tmpdir, "bands.tsv")
    write_lines(p, [
        "cpu\t2024-01-01 00:00:00\t5.0\t1.0\t2.0\t8.0\t9.0",
        "cpu\t2024-01-01 01:00:00\t6.0\t\t\t\t",   # bands absent -> NULL
    ])
    df = read_tsv_timeseries(spark, p, with_bands=True)
    rows = sorted(((r.value, r.pct5, r.pct95) for r in df.collect()))
    assert rows == [(5.0, 1.0, 9.0), (6.0, None, None)]


def test_pick_one_prefers_band_bearing_rows(spark):
    from cantera_table_spark.sources.ingest import merge_tables
    s = "key string, ts long, value double, pct5 double"
    t1 = spark.createDataFrame([("k", 1, 2.0, None)], s)
    t2 = spark.createDataFrame([("k", 1, 5.0, 0.5)], s)
    # t2's row carries bands -> wins despite lower table priority
    # (ca-load.cc:482-489, 513-517)
    out = merge_tables([t1, t2], "pick-one").collect()
    assert len(out) == 1 and out[0].value == 5.0 and out[0].pct5 == 0.5


def test_union_merge_null_conflict(spark):
    """A NULL against a value conflicts; all-NULL duplicates agree.  The
    merged table is checkpointed in the caller's CacheScope, which
    releases it on exit, a MergeError included."""
    from cantera_table_spark.sources.ingest import MergeError, merge_tables
    s = "key string, ts long, value double"
    t1 = spark.createDataFrame([("k", 1, None)], s)
    t2 = spark.createDataFrame([("k", 1, 5.0)], s)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(MergeError), CacheScope() as caches:
        merge_tables([t1, t2], "union", caches=caches).collect()
    assert set(jsc.getPersistentRDDs().keySet()) == before
    # all-NULL duplicates agree
    t3 = spark.createDataFrame([("k", 1, None)], s)
    with pytest.raises(ValueError, match="CacheScope"):
        merge_tables([t1, t3], "union")
    with CacheScope() as caches:
        out = merge_tables([t1, t3], "union", caches=caches).collect()
        assert len(caches) == 1
    assert len(out) == 1 and out[0].value is None
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_summaries_duplicate_keys_keep_one(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_summaries
    p = os.path.join(tmpdir, "dup.tsv")
    write_lines(p, ['k\t{"a":2}', 'k\t{"a":1}', 'z\t{"b":1}'])
    df = read_tsv_summaries(spark, p)
    rows = sorted((r.doc_id, r.key, r.doc) for r in df.collect())
    # one row per key, deterministic (min doc body), dense ids
    assert rows == [(0, "k", '{"a":1}'), (1, "z", '{"b":1}')]


def test_tsv_postings_with_scores(spark, tmpdir):
    from cantera_table_spark.sources.ingest import read_tsv_postings
    docs = spark.createDataFrame(
        [(0, "d-a"), (1, "d-b")], "doc_id long, key string")
    p = os.path.join(tmpdir, "scored.tsv")
    write_lines(p, ["kw\td-a\t2.5", "kw\td-b\t0.1"])
    df = read_tsv_postings(spark, p, docs, score_col=True, threshold=1.0)
    rows = [(r.keyword, r.doc_id, r.score) for r in df.collect()]
    assert rows == [("kw", 0, 2.5)]   # threshold drops the 0.1 posting


def test_stream_tsv_timeseries_parses_ragged_lines(spark, tmpdir):
    """The file stream edge parses TSV lines like the batch CSV reader:
    escapes unescaped, unparseable dates dropped, trailing fields
    dropped, a missing value NULL."""
    from cantera_table_spark.streaming.ingest import stream_tsv_timeseries
    lines = [
        "a\\tkey\t2024-01-01 00:10:00\t1.5",   # escaped tab in key
        "plain\t2024-01-01 00:20:00\t2.0",
        "bad\tnot-a-date\t3.0",                 # dropped by the parse
        "extra\t2024-01-01 00:30:00\t4.0\ttrailing\tfields",
        # ^ the CSV reader's 3-column schema drops the trailing tokens
        "short\t2024-01-01 00:40:00",
        # ^ 2 fields: the CSV reader NULLs the missing value column and
        # keeps the row
        "lonely",
        # ^ 1 field: date NULL -> ts unparseable -> dropped
    ]
    src = os.path.join(tmpdir, "stream_parse")
    os.makedirs(src)
    write_lines(os.path.join(src, "b.tsv"), lines)
    fstream = stream_tsv_timeseries(spark, src)
    q = (fstream.writeStream.format("memory").queryName("stream_parse")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    frows = sorted((r.key, str(r.ts), r.value) for r in
                   spark.sql("SELECT * FROM stream_parse").collect())
    assert frows == [("a\tkey", "2024-01-01 00:10:00", 1.5),
                     ("extra", "2024-01-01 00:30:00", 4.0),
                     ("plain", "2024-01-01 00:20:00", 2.0),
                     ("short", "2024-01-01 00:40:00", None)]
