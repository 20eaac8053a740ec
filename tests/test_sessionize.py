"""Gap-sessionization: batch oracle vs applyInPandasWithState stream."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F

EVENTS = [
    # user 1: two sessions (gap > 600s between 10:00:xx and 11:00:00)
    (1, "2024-01-01 10:00:00", 1.0),
    (1, "2024-01-01 10:03:00", 2.0),
    (1, "2024-01-01 10:08:00", 3.0),
    (1, "2024-01-01 11:00:00", 4.0),
    (1, "2024-01-01 11:05:00", 5.0),
    # user 2: one session
    (2, "2024-01-01 09:00:00", 10.0),
    (2, "2024-01-01 09:05:00", 20.0),
]


def events_df(spark):
    return spark.createDataFrame(
        EVENTS, "user_id long, ts string, value double"
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "value")


def test_batch_sessionize(spark):
    from cantera_table_spark.streaming.sessionize import sessionize_batch
    out = sessionize_batch(events_df(spark), gap_seconds=600)
    rows = sorted(((r.user_id, str(r.session_start), r.n_events,
                    r.total_value) for r in out.collect()))
    assert rows == [
        (1, "2024-01-01 10:00:00", 3, 6.0),
        (1, "2024-01-01 11:00:00", 2, 9.0),
        (2, "2024-01-01 09:00:00", 2, 30.0),
    ]


def test_stream_sessionize_matches_batch_for_closed_sessions(spark):
    from cantera_table_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream)
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        with open(os.path.join(src, "e.csv"), "w") as f:
            for u, ts, v in EVENTS:
                f.write(f"{u},{ts},{v}\n")
        stream = (spark.readStream.schema(
            "user_id long, ts_s string, value double")
            .csv(src)
            .select("user_id", F.to_timestamp("ts_s").alias("ts"),
                    "value"))
        sessions = sessionize_stream(stream, gap_seconds=600)
        q = (sessions.writeStream.format("memory")
             .queryName("sess_out").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(
            ((r.user_id, str(r.session_start), r.n_events, r.total_value)
             for r in spark.sql("SELECT * FROM sess_out").collect()))
    # user 1's first session closes by gap; user 2's closes by
    # event-time timeout (09:05 + gap < watermark 10:05); user 1's tail
    # (11:00-11:05, timeout 11:15 > watermark) stays open in state
    batch = sessionize_batch(events_df(spark), gap_seconds=600)
    batch_rows = sorted(((r.user_id, str(r.session_start), r.n_events,
                          r.total_value) for r in batch.collect()))
    assert got == [(1, "2024-01-01 10:00:00", 3, 6.0),
                   (2, "2024-01-01 09:00:00", 2, 30.0)]
    assert set(got) <= set(batch_rows)


def test_stream_late_event_beyond_gap_becomes_own_session(spark):
    """A late-but-in-watermark event more than a gap BEFORE the open
    session must close as its own session (batch-oracle agreement),
    exercised directly through the fold across two micro-batches."""
    import os
    import tempfile
    from cantera_table_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream)
    from pyspark.sql import functions as F
    events = [(1, "2024-01-01 10:00:00", 1.0),
              (1, "2024-01-01 09:30:00", 7.0)]   # 30 min earlier, gap 600s
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        # two files -> two micro-batches in arrival order
        with open(os.path.join(src, "a_1.csv"), "w") as f:
            f.write("1,2024-01-01 10:00:00,1.0\n")
        with open(os.path.join(src, "b_2.csv"), "w") as f:
            f.write("1,2024-01-01 09:30:00,7.0\n")
        stream = (spark.readStream.option("maxFilesPerTrigger", 1)
                  .schema("user_id long, ts_s string, value double")
                  .csv(src)
                  .select("user_id", F.to_timestamp("ts_s").alias("ts"),
                          "value"))
        q = (sessionize_stream(stream, gap_seconds=600)
             .writeStream.format("memory").queryName("late_out")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted((r.user_id, str(r.session_start), r.n_events,
                      r.total_value)
                     for r in spark.sql("SELECT * FROM late_out").collect())
    batch = sessionize_batch(
        spark.createDataFrame(events, "user_id long, ts string, value double")
        .select("user_id", F.to_timestamp("ts").alias("ts"), "value"),
        gap_seconds=600)
    batch_rows = sorted((r.user_id, str(r.session_start), r.n_events,
                         r.total_value) for r in batch.collect())
    # the late 09:30 event closed as its own session; batch agrees it is
    # a separate session
    assert (1, "2024-01-01 09:30:00", 1, 7.0) in got
    assert (1, "2024-01-01 09:30:00", 1, 7.0) in batch_rows
