"""A/B: JVM-native ``session_window`` sessionization vs the custom
``applyInPandasWithState`` fold (the r7 verdict's item 4).

Three pinned facts:

1. Gap-merge semantics are identical — the native form in batch mode
   reproduces ``sessionize_batch`` exactly, INCLUDING the boundary
   (events exactly ``gap`` apart merge; one second past splits).
2. On a bounded replay the native emitted set is a SUBSET of the
   custom fold's: append mode holds every session until the watermark
   passes its window end, while the fold emits gap-closed sessions in
   the batch that closes them.
3. Values agree on the intersection.

The scale consequence (the reason the native variant exists) is
recorded in SCALE.md: no Arrow boundary, so the heaviest streaming
path stays JVM-side.
"""

import os
import tempfile

from pyspark.sql import functions as F

EVENTS = [
    # user 1: two sessions (gap > 600s between 10:08 and 11:00)
    (1, "2024-01-01 10:00:00", 1.0),
    (1, "2024-01-01 10:03:00", 2.0),
    (1, "2024-01-01 10:08:00", 3.0),
    (1, "2024-01-01 11:00:00", 4.0),
    (1, "2024-01-01 11:05:00", 5.0),
    # user 2: one session, old enough to pass the watermark horizon
    (2, "2024-01-01 09:00:00", 10.0),
    (2, "2024-01-01 09:05:00", 20.0),
    # user 3: boundary pair — exactly gap (600s) apart, ONE session
    (3, "2024-01-01 09:00:00", 1.0),
    (3, "2024-01-01 09:10:00", 1.0),
    # user 4: one second past the gap, TWO sessions
    (4, "2024-01-01 09:00:00", 1.0),
    (4, "2024-01-01 09:10:01", 1.0),
]


def events_df(spark):
    return spark.createDataFrame(
        EVENTS, "user_id long, ts string, value double"
    ).select("user_id", F.to_timestamp("ts").alias("ts"), "value")


def _rows(df):
    return sorted((r.user_id, str(r.session_start), str(r.session_end),
                   r.n_events, r.total_value) for r in df.collect())


def test_native_batch_mode_matches_batch_oracle(spark):
    """session_window's gap-merge == sessionize_batch's, boundary
    included (native runs fine on a batch frame: withWatermark is a
    no-op and the groupBy is a plain aggregation)."""
    from cantera_table_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream_native)
    df = events_df(spark)
    native = _rows(sessionize_stream_native(df, gap_seconds=600))
    batch = _rows(sessionize_batch(df, gap_seconds=600))
    assert native == batch
    # the boundary rows prove the merge rule is <= gap on both sides
    assert (3, "2024-01-01 09:00:00", "2024-01-01 09:10:00", 2, 2.0) \
        in native
    assert sum(1 for r in native if r[0] == 4) == 2


def _run_stream(spark, sessionize, name):
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
        q = (sessionize(stream, gap_seconds=600)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return sorted(
            (r.user_id, str(r.session_start), str(r.session_end),
             r.n_events, r.total_value)
            for r in spark.sql(f"SELECT * FROM {name}").collect())


def test_native_stream_emits_subset_of_custom(spark):
    """Bounded replay, watermark 1h: max ts 11:05 -> watermark 10:05.

    custom fold emits every gap-closed session (u1's first, u3's, u4's
    first) PLUS timeout-flushed ones (u2: 09:05+gap < watermark; u4's
    second: 09:10:01+gap < watermark); native append emits only
    sessions whose window end (last event + gap) the watermark passed —
    u2 (09:15), u3 (09:20), u4 both (09:10/09:20:01).  u1's gap-closed
    first session (window end 10:18 > 10:05) is held by native but
    emitted by the fold: the semantic difference this test pins."""
    from cantera_table_spark.streaming.sessionize import (
        sessionize_batch, sessionize_stream, sessionize_stream_native)
    custom = _run_stream(spark, sessionize_stream, "ab_custom")
    native = _run_stream(spark, sessionize_stream_native, "ab_native")
    assert set(native) <= set(custom)
    u1_first = (1, "2024-01-01 10:00:00", "2024-01-01 10:08:00", 3, 6.0)
    assert u1_first in custom and u1_first not in native
    # both are subsets of the batch oracle with identical values
    batch = _rows(sessionize_batch(events_df(spark), gap_seconds=600))
    assert set(custom) <= set(batch)
    assert set(native) <= set(batch)
    # native emitted exactly the watermark-passed sessions:
    # session_end + gap(600s) < watermark(10:05), i.e. end < 09:55
    assert native == sorted(r for r in batch
                            if r[2] < "2024-01-01 09:55:00")


def test_native_merges_session_across_micro_batches(spark):
    """Cross-batch session merge, the property the custom fold only
    approximates (its documented late-split divergence): a session
    whose events split across two micro-batches must emit as ONE
    merged row from the native session_window operator — the state
    merge happens inside the JVM aggregation.  A later unrelated event
    pushes the watermark past the merged window so it emits in the
    availableNow wrap-up."""
    from cantera_table_spark.streaming.sessionize import (
        sessionize_stream_native)
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        os.makedirs(src)
        # batch 1: the session opens
        with open(os.path.join(src, "a_1.csv"), "w") as f:
            f.write("1,2024-01-01 10:00:00,1.0\n")
            f.write("1,2024-01-01 10:05:00,2.0\n")
        # batch 2: continues within the 600s gap, plus a watermark
        # driver at 13:00 (watermark 12:00 > merged window end 10:19)
        with open(os.path.join(src, "b_2.csv"), "w") as f:
            f.write("1,2024-01-01 10:09:00,4.0\n")
            f.write("2,2024-01-01 13:00:00,9.0\n")
        stream = (spark.readStream.option("maxFilesPerTrigger", 1)
                  .schema("user_id long, ts_s string, value double")
                  .csv(src)
                  .select("user_id", F.to_timestamp("ts_s").alias("ts"),
                          "value"))
        q = (sessionize_stream_native(stream, gap_seconds=600)
             .writeStream.format("memory").queryName("xbatch_native")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(
            (r.user_id, str(r.session_start), str(r.session_end),
             r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM xbatch_native").collect())
    # exactly the merged session; user 2's (window end 13:10 > final
    # watermark 12:00) stays in state
    assert got == [(1, "2024-01-01 10:00:00", "2024-01-01 10:09:00",
                    3, 7.0)]


def test_native_state_store_default_applies_rocksdb(spark):
    """r8 verdict item 2: the RocksDB selection lives in the LIBRARY —
    building the native plan over a streaming frame applies (and
    verifies) the provider conf; batch frames never touch it (no state
    store involved)."""
    from cantera_table_spark.streaming.sessionize import (
        _STATE_STORE_KEY, ROCKSDB_STATE_STORE_PROVIDER,
        ensure_state_store_provider, sessionize_stream_native)
    prev = spark.conf.get(_STATE_STORE_KEY, None)
    try:
        spark.conf.unset(_STATE_STORE_KEY)
        # batch frame: the conf stays unset
        sessionize_stream_native(events_df(spark), gap_seconds=600)
        assert spark.conf.get(_STATE_STORE_KEY, None) is None
        stream = (spark.readStream.format("rate").load()
                  .select(F.col("value").alias("user_id"),
                          F.col("timestamp").alias("ts"),
                          F.lit(1.0).alias("value")))
        # streaming frame: conf applied and verified at plan-build time
        sessionize_stream_native(stream, gap_seconds=600)
        assert spark.conf.get(_STATE_STORE_KEY) == \
            ROCKSDB_STATE_STORE_PROVIDER
        # the helper raises a clear error when the conf does not take
        # effect (simulated: a session whose conf silently ignores the
        # set — the cluster-pinned-conf shape)
        import pytest

        class _PinnedConf:
            def set(self, k, v):
                pass

            def get(self, k, d=None):
                return d

        class _PinnedSession:
            conf = _PinnedConf()

        with pytest.raises(RuntimeError, match="could not apply"):
            ensure_state_store_provider(_PinnedSession())
    finally:
        if prev:
            spark.conf.set(_STATE_STORE_KEY, prev)
        else:
            try:
                spark.conf.unset(_STATE_STORE_KEY)
            except Exception:
                pass
