"""Custom stateful streaming operator: gap-based sessionization.

The reference has no stateful streaming (SURVEY.md §2.9); this is the
north-star extension ("applyInPandasWithState for custom stateful
operators", BASELINE.json).  Events per user collapse into sessions
closed after ``gap_seconds`` of inactivity.

Three implementations with identical gap-merge semantics:

- ``sessionize_batch``: window-based, for batch frames and as the
  correctness oracle (a session starts where the time since the
  previous event exceeds the gap).
- ``sessionize_stream``: ``applyInPandasWithState`` over a stream,
  holding per-user open-session state and emitting sessions when the
  gap passes or the event-time timeout fires.
- ``sessionize_stream_native``: ``session_window`` over a stream,
  state merged inside the JVM aggregation; a session emits once the
  watermark passes its end.

Both streaming forms hold back late events by ``SESSION_WATERMARK``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# fixed-zero-offset zone check, shared with model.load_table's
# override warning — lives in session.py (r11 review: two private
# copies of the resolver would drift like the whitelists they replace)
from cantera_table_spark.session import is_utc_zone as _is_utc_zone

SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider")

_STATE_STORE_KEY = "spark.sql.streaming.stateStore.providerClass"

SESSION_WATERMARK = "1 hour"


def ensure_state_store_provider(spark) -> None:
    """Set and VERIFY the RocksDB streaming state-store provider on the
    session.  Session-state-heavy operators (append-mode
    ``session_window``) retain every unemitted session in state; the
    default HDFS-backed provider keeps that state ON-HEAP, and the
    measured 1024x replay OOMs a 32g heap where RocksDB (native
    memory + disk) completes (SCALE.md, streaming scaling).  This
    helper is the library-side switch so callers adopting the fast
    path do not have to know the provider class string.

    The conf is SESSION-GLOBAL: Spark reads it at query START, so it
    applies to every streaming query started on this session
    afterwards, and an existing checkpointed query must NOT be
    restarted under a different provider than it was created with
    (state formats are incompatible).  Two guards follow from that
    (r9 review finding): a provider the caller already set EXPLICITLY
    to something else raises a conflict instead of being silently
    replaced — align or unset the session conf to resolve; and
    mixed-provider applications
    should give each pipeline its own ``spark.newSession()`` (child
    sessions have independent runtime conf).  Also raises
    ``RuntimeError`` when the conf cannot be applied (e.g. a cluster
    that pins it via a non-modifiable conf entry) rather than letting
    the query run into the on-heap OOM."""
    provider = ROCKSDB_STATE_STORE_PROVIDER
    current = spark.conf.get(_STATE_STORE_KEY, None)
    if current == provider:
        return
    if current is not None:
        raise RuntimeError(
            f"{_STATE_STORE_KEY} is already set to {current!r}; "
            f"refusing to replace it with {provider!r} behind "
            "your back — restarting an existing checkpointed query "
            "under a different provider is unsupported.  Unset it, "
            "or use a separate spark.newSession() per provider")
    spark.conf.set(_STATE_STORE_KEY, provider)
    got = spark.conf.get(_STATE_STORE_KEY, None)
    if got != provider:
        raise RuntimeError(
            f"could not apply {_STATE_STORE_KEY}={provider} "
            f"(session reports {got!r}); set it in the cluster conf")


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800
                     ) -> DataFrame:
    """Batch sessionization: window boundaries where the inter-event gap
    exceeds ``gap_seconds``.  Rows without an event time are dropped —
    sessionization is an event-time operator, and the streaming form's
    watermark would drop them anyway."""
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = (events.filter(F.col("ts").isNotNull())
              .withColumn("__prev", F.lag("ts").over(w))
              .withColumn("__new", (F.col("__prev").isNull() |
                                    ((F.unix_micros("ts") -
                                      F.unix_micros("__prev"))
                                     > gap_seconds * 1_000_000))
                          .cast("int"))
              .withColumn("__sid", F.sum("__new").over(
                  w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow))))
    return (marked.groupBy("user_id", "__sid")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value"))
            .drop("__sid"))


def sessionize_stream_native(events: DataFrame, gap_seconds: int = 1800
                             ) -> DataFrame:
    """JVM-native gap sessionization: ``F.session_window`` (Spark 3.2+)
    instead of the ``applyInPandasWithState`` fold — no Arrow boundary,
    state merge entirely inside the JVM aggregation operator.

    Gap-merge semantics are IDENTICAL to ``sessionize_batch`` /
    ``sessionize_stream`` (verified: events exactly ``gap_seconds``
    apart merge — Spark merges adjacent session windows — and one
    microsecond past the gap splits), and cross-batch merging is
    handled by the operator's own session state, so it never exhibits
    the custom fold's documented late-split divergence.

    What differs is EMISSION, which is why this is a variant and not a
    drop-in replacement for the st04 contract:

    - native (append mode): a session emits only when the watermark
      passes its window end (last event + gap).  Gap-CLOSED sessions
      whose end is still inside the watermark horizon are held in
      state — up to ``SESSION_WATERMARK`` of extra emission latency.
    - custom fold: a session closed by a later event of the same user
      emits in the batch that closes it, watermark notwithstanding;
      only trailing OPEN sessions wait for the event-time timeout.

    On a bounded replay the native emitted set is therefore a subset
    of the custom fold's (identical values on the intersection; pinned
    in tests/test_streaming_ab.py).  Use this form when watermark-gated
    emission latency is acceptable — it keeps the whole pipeline
    JVM-side, the scale lever for the heaviest streaming path
    (SCALE.md records the measured speedup).

    State store (streaming inputs only; batch frames involve none):
    append-mode session state holds EVERY session the watermark has
    not passed, and on the default HDFS-backed provider that state is
    ON-HEAP — the measured 1024x replay OOMs a 32g heap there while
    RocksDB completes (SCALE.md).  A streaming frame therefore gets
    :func:`ensure_state_store_provider` applied to its session before
    the plan is built (raising if the conf cannot take effect)."""
    if events.isStreaming:
        ensure_state_store_provider(events.sparkSession)
    return (events.filter(F.col("ts").isNotNull())
            .withWatermark("ts", SESSION_WATERMARK)
            .groupBy("user_id",
                     F.session_window("ts", f"{gap_seconds} seconds"))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select("user_id", "session_start", "session_end",
                    "n_events", "total_value"))


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800
                      ) -> DataFrame:
    """Streaming sessionization with per-user state (the custom fold).

    RECOMMENDATION: this fold is the repo's one per-event Python-rate
    path (~265k events/s measured; the Arrow boundary is the cost).
    Prefer :func:`sessionize_stream_native` — measured 2.2x faster at
    1024x, entirely JVM-side, identical gap-merge semantics — for any
    watermark-gated pipeline, i.e. whenever it is acceptable for a
    session to emit once the watermark passes its end.  Use THIS fold
    only when the st04 eager-emission contract is required: a session
    closed by a later event of the same user must emit in the batch
    that closes it, not ``SESSION_WATERMARK`` later.  A/B semantics (native
    emits a value-identical subset on bounded replay) are pinned in
    tests/test_streaming_ab.py; numbers in SCALE.md.

    Documented NaN divergence from sessionize_batch (r11 review): the
    Arrow boundary makes a genuine NaN double indistinguishable from
    NULL in the pandas fold, so this fold SKIPS NaN values in
    total_value where the batch form's F.sum propagates NaN (SQL sum
    skips only NULL).  A session containing a NaN value therefore
    reports total_value=NaN in batch and the NaN-excluded sum here —
    unavoidable without a sentinel encoding across Arrow; NaN event
    values are upstream data bugs and should be filtered at ingest.

    State = the open session (start/end/count/sum).  Each batch folds
    new events in event-time order; sessions whose gap elapsed are
    emitted.  The event-time timeout flushes sessions for users that go
    quiet (late data past the watermark is dropped by Spark upstream).

    Requires ``spark.sql.session.timeZone=UTC`` (verified at entry,
    like ensure_state_store_provider's conflict guard): the Arrow
    boundary hands the pandas fold tz-NAIVE timestamps localized to
    the session zone, so under any non-UTC zone the int64 epoch math
    below (and ``setTimeoutTimestamp``, which expects true epoch ms)
    would be offset by the zone — timeouts hours late, or an
    earlier-than-watermark timestamp that kills the query; around a
    DST fall-back the local-naive sort order itself breaks.  The
    repo's own session builder pins UTC (session.py); foreign sessions
    must too.
    """
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone", "")
    if not _is_utc_zone(events.sparkSession, tz):
        raise ValueError(
            f"sessionize_stream requires spark.sql.session.timeZone="
            f"UTC (got {tz!r}): the stateful pandas fold receives "
            "session-zone-localized naive timestamps and its epoch "
            "arithmetic would be silently offset")
    gap_us = gap_seconds * 1_000_000

    def fold(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
             ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                s, e, n, v = state.get
                closed.append((user_id, s, e, n, v))
                state.remove()
        else:
            rows = pd.concat(list(pdfs))
            rows = rows.sort_values("ts")
            ts_us = rows["ts"].astype("int64") // 1000  # ns -> us
            # Fold the batch's own events into session intervals, then
            # interval-merge with the open state session — identical to
            # the batch oracle over (state events + batch events) as
            # long as all of a session's events share a batch horizon
            # (lates split across batches still emit separately;
            # holding them would need unbounded state — documented
            # divergence).
            sessions: list[list] = []

            def _add(total, val):
                # SQL-sum null semantics: skip NaN/None values; a
                # session whose values are ALL null sums to null
                if pd.isna(val):
                    return total
                if total is None:
                    return float(val)
                return total + float(val)

            for t_us, val in zip(ts_us, rows["value"]):
                t_us = int(t_us)
                if sessions and t_us - sessions[-1][1] <= gap_us:
                    s = sessions[-1]
                    s[1] = max(s[1], t_us)
                    s[2] += 1
                    s[3] = _add(s[3], val)
                else:
                    sessions.append([t_us, t_us, 1, _add(None, val)])
            if state.exists:
                sessions.append(list(state.get))
                sessions.sort(key=lambda s: s[0])
                merged: list[list] = []
                for s in sessions:
                    if merged and s[0] - merged[-1][1] <= gap_us:
                        m = merged[-1]
                        m[1] = max(m[1], s[1])
                        m[2] += s[2]
                        m[3] = (s[3] if m[3] is None
                                else m[3] if s[3] is None
                                else m[3] + s[3])
                    else:
                        merged.append(s)
                sessions = merged
            cur = sessions[-1]
            closed.extend((user_id, *s) for s in sessions[:-1])
            state.update(tuple(cur))
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame({
                "user_id": [c[0] for c in closed],
                "session_start": pd.to_datetime([c[1] for c in closed],
                                                unit="us"),
                "session_end": pd.to_datetime([c[2] for c in closed],
                                              unit="us"),
                "n_events": [c[3] for c in closed],
                "total_value": [c[4] for c in closed],
            })

    # explicit null-event-time drop (the watermark would drop them
    # anyway; the filter keeps batch and stream forms identical)
    return (events.filter(F.col("ts").isNotNull())
            .withWatermark("ts", SESSION_WATERMARK)
            .groupBy("user_id")
            .applyInPandasWithState(
                fold, SESSION_SCHEMA, STATE_SCHEMA, "append",
                GroupStateTimeout.EventTimeTimeout))
