"""Exactly-once across a restart (the Structured Streaming guarantee):
a query stopped after one availableNow run and started again on the
same checkpoint, once more files have landed, leaves the same sink as
one uninterrupted run over all the files. Two shapes: the file ingest
into the Parquet sink (gate st01) and the stateful sessionize fold
(gate st04), whose open sessions must survive the restart."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cantera_table_spark.streaming.ingest import (start_parquet_sink,
                                                  stream_tsv_timeseries)
from cantera_table_spark.streaming.sessionize import (SESSION_SCHEMA,
                                                      sessionize_stream)


def _drop(src, name, lines):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        f.write("".join(line + "\n" for line in lines))


def _sink_rows(spark, path, schema, cols):
    # an explicit schema reads a sink that has committed no file yet
    return sorted(tuple(r) for r in spark.read.schema(schema)
                  .parquet(path).select(*cols).collect())


def _run(stream, base):
    """Run the sink over what is available; returns the rows read."""
    q = start_parquet_sink(stream, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination(300)
    assert q.exception() is None
    return sum(p["numInputRows"] for p in q.recentProgress)


def test_tsv_ingest_restart_is_exactly_once(spark, tmp_path):
    first = ["cpu\t2024-01-01 00:00:00\t1.5",
             "mem\t2024-01-01 01:00:00\t2.5"]
    later = ["cpu\t2024-01-02 00:00:00\t3.5",
             "oops\tnot-a-date\t9.0",            # dropped by the parser
             "disk\t2024-01-02 06:00:00\t4.5"]
    cols = ("key", "ts", "value")

    def stream(src):
        return stream_tsv_timeseries(spark, src)

    schema = stream(str(tmp_path)).schema

    restarted = str(tmp_path / "restarted")
    _drop(f"{restarted}/src", "a.tsv", first)
    _run(stream(f"{restarted}/src"), restarted)
    assert len(_sink_rows(spark, f"{restarted}/sink", schema, cols)) == 2
    _drop(f"{restarted}/src", "b.tsv", later)
    assert _run(stream(f"{restarted}/src"), restarted) == len(later)
    # a third start finds nothing new and commits nothing again
    assert _run(stream(f"{restarted}/src"), restarted) == 0

    whole = str(tmp_path / "whole")
    _drop(f"{whole}/src", "a.tsv", first)
    _drop(f"{whole}/src", "b.tsv", later)
    _run(stream(f"{whole}/src"), whole)

    got = _sink_rows(spark, f"{restarted}/sink", schema, cols)
    assert got == _sink_rows(spark, f"{whole}/sink", schema, cols)
    assert len(got) == 4


@pytest.mark.slow
def test_sessionize_restart_carries_open_sessions(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc)

    def us(minutes):
        return int((t0 + dt.timedelta(minutes=minutes)).timestamp()
                   ) * 1_000_000

    def ev(user, minutes, value):
        return f"{user}\t{us(minutes)}\t{value}"

    # user 1's 10:00-10:10 session is still open when the first run
    # ends; the second file extends it (10:20) and then closes it (12:00)
    first = [ev(1, 0, 1.0), ev(1, 10, 2.0), ev(2, 0, 5.0)]
    later = [ev(1, 20, 4.0), ev(1, 120, 8.0), ev(2, 180, 16.0)]
    schema = SESSION_SCHEMA
    cols = ("user_id", F.unix_micros("session_start"),
            F.unix_micros("session_end"), "n_events", "total_value")

    def stream(src):
        raw = (spark.readStream.option("sep", "\t")
               .schema("user_id long, ts_us long, value double")
               .csv(src))
        return sessionize_stream(
            raw.select("user_id",
                       F.timestamp_micros("ts_us").alias("ts"), "value"),
            gap_seconds=1800)

    restarted = str(tmp_path / "restarted")
    _drop(f"{restarted}/src", "a.tsv", first)
    _run(stream(f"{restarted}/src"), restarted)
    # every session of the first file is still open: nothing emitted
    assert _sink_rows(spark, f"{restarted}/sink", schema, cols) == []
    _drop(f"{restarted}/src", "b.tsv", later)
    # the restart reads only the new file, so user 1's first two
    # events can reach the sink only through the checkpointed state
    assert _run(stream(f"{restarted}/src"), restarted) == len(later)

    whole = str(tmp_path / "whole")
    _drop(f"{whole}/src", "a.tsv", first)
    _drop(f"{whole}/src", "b.tsv", later)
    _run(stream(f"{whole}/src"), whole)

    got = _sink_rows(spark, f"{restarted}/sink", schema, cols)
    assert got == _sink_rows(spark, f"{whole}/sink", schema, cols)
    # the session that spans the restart emits whole, from the state
    # the first run checkpointed
    assert (1, us(0), us(20), 3, 7.0) in got
    assert (2, us(0), us(0), 1, 5.0) in got
