"""asof_join / interval_join laws: compared against naive nested-loop
formulations on synthetic frames with deliberate edge cases (exact
timestamp ties, bin-boundary hits, multi-bin intervals, NULLs)."""

import datetime as dt

from pyspark.sql import functions as F

from cantera_table_spark.functions.timeseries import asof_join, interval_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _mk(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 100),
         (1, _ts("2024-01-01 12:00:00"), 101),
         (2, _ts("2024-01-01 09:00:00"), 200),   # before any right row
         (2, _ts("2024-01-01 23:00:00"), 201),
         (3, _ts("2024-01-01 10:00:00"), 300),   # key without right rows
         (1, None, 102),                          # NULL ts survives, no match
         (None, _ts("2024-01-01 10:00:00"), 999)],  # NULL key dropped
        "user_id long, ts timestamp, event_id long")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 5.0),   # exact tie with left@10
         (1, _ts("2024-01-01 10:00:00"), 7.0),   # same ts: max value wins
         (1, _ts("2024-01-01 11:30:00"), 9.0),
         (2, _ts("2024-01-01 10:00:00"), 1.0),
         (2, None, 2.0),                          # NULL right ts dropped
         (None, _ts("2024-01-01 10:00:00"), 3.0)],
        "user_id long, ts timestamp, value double")
    return left, right


def _naive(left_rows, right_rows, direction, tol_us=None):
    out = {}
    for (k, ts, eid) in left_rows:
        if k is None:
            continue
        best = None
        if ts is not None:
            for (rk, rts, rv) in right_rows:
                if rk != k or rts is None:
                    continue
                ok = rts <= ts if direction == "backward" else rts >= ts
                if not ok:
                    continue
                cand = (rts, rv)
                if best is None:
                    best = cand
                elif direction == "backward" and cand > best:
                    best = cand
                elif direction == "forward" and (cand[0], -cand[1]) < (
                        best[0], -best[1]):
                    # earliest ts; at equal ts the MIN struct picks the
                    # smallest value
                    best = (cand if cand[0] != best[0] or cand[1] < best[1]
                            else best)
        if best is not None and tol_us is not None:
            if abs((ts - best[0]).total_seconds()) * 1e6 > tol_us:
                best = None
        out[eid] = best
    return out


def _check(spark, direction, tol_us=None):
    left, right = _mk(spark)
    got = asof_join(left, right, key_col="user_id", ts_col="ts",
                    value_cols=("value",), direction=direction,
                    tolerance_us=tol_us).collect()
    want = _naive([tuple(r) for r in left.collect()],
                  [tuple(r) for r in right.collect()],
                  direction, tol_us)
    got_ids = {r["event_id"] for r in got}
    assert got_ids == set(want)
    for r in got:
        exp = want[r["event_id"]]
        if exp is None:
            assert r["r_ts"] is None and r["r_value"] is None, r
        else:
            assert (r["r_ts"], r["r_value"]) == exp, (r, exp)


def test_asof_backward(spark):
    _check(spark, "backward")


def test_asof_forward(spark):
    _check(spark, "forward")


def test_asof_null_payload_at_tied_ts(spark):
    # right rows (ts, NULL) and (ts, 5.0) tie at the matched timestamp:
    # both directions must resolve to the REAL payload, not the NULL
    # (forward's min(struct) would otherwise sort the NULL field first
    # and shadow the 5.0 — the SQL-oracle replay uses min(value), which
    # skips NULLs)
    t = _ts("2024-01-01 10:00:00")
    left = spark.createDataFrame([(1, t, 100)],
                                 "user_id long, ts timestamp, event_id long")
    right = spark.createDataFrame(
        [(1, t, None), (1, t, 5.0)],
        "user_id long, ts timestamp, value double")
    for direction in ("backward", "forward"):
        r = asof_join(left, right, key_col="user_id", ts_col="ts",
                      value_cols=("value",), direction=direction).collect()
        assert len(r) == 1 and r[0]["r_value"] == 5.0, (direction, r)
    # a match whose ONLY payload is NULL still reports the matched ts
    right2 = spark.createDataFrame(
        [(1, t, None)], "user_id long, ts timestamp, value double")
    r = asof_join(left, right2, key_col="user_id", ts_col="ts",
                  value_cols=("value",), direction="forward").collect()
    assert r[0]["r_ts"] == t and r[0]["r_value"] is None, r


def test_asof_tolerance(spark):
    # 30 min tolerance: left@12:00 matched right@11:30 stays, left@23:00
    # matched right@10:00 nulls out
    _check(spark, "backward", tol_us=30 * 60 * 1_000_000)


def test_interval_join_matches_nested_loop(spark):
    points = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01 10:00:00")),    # == start: included
         (2, 1, _ts("2024-01-01 10:59:59")),
         (3, 1, _ts("2024-01-01 11:00:00")),    # == end: excluded
         (4, 2, _ts("2024-01-01 10:30:00")),
         (5, 1, None),                           # NULL ts drops
         (6, 1, _ts("2024-01-03 00:00:00"))],
        "pid long, user_id long, ts timestamp")
    intervals = spark.createDataFrame(
        [(10, 1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
         # multi-bin interval (27h) still matches exactly once
         (11, 1, _ts("2024-01-02 00:00:00"), _ts("2024-01-03 03:00:00")),
         (12, 2, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:31:00")),
         # degenerate: end == start -> never matches
         (13, 1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:00:00")),
         (14, 1, None, _ts("2024-01-01 12:00:00"))],
        "iid long, user_id long, s timestamp, e timestamp")
    got = sorted((r["pid"], r["iid"]) for r in interval_join(
        points, intervals, ts_col="ts", start_col="s", end_col="e",
        key_col="user_id", bin_width_s=3600).collect())
    naive = (points.alias("p").crossJoin(intervals.alias("i"))
             .filter((F.col("p.user_id") == F.col("i.user_id")) &
                     (F.col("i.s") <= F.col("p.ts")) &
                     (F.col("p.ts") < F.col("i.e"))))
    want = sorted((r["pid"], r["iid"]) for r in naive.collect())
    assert got == want == [(1, 10), (2, 10), (4, 12), (6, 11)]


def test_interval_join_unkeyed_and_collision_guard(spark):
    points = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:30:00"))], "pid long, ts timestamp")
    intervals = spark.createDataFrame(
        [(7, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
         (8, _ts("2024-01-01 11:00:00"), _ts("2024-01-01 12:00:00"))],
        "iid long, s timestamp, e timestamp")
    got = [(r["pid"], r["iid"]) for r in interval_join(
        points, intervals, ts_col="ts", start_col="s", end_col="e",
        bin_width_s=900).collect()]
    assert got == [(1, 7)]
    import pytest
    with pytest.raises(ValueError, match="collision"):
        interval_join(points.withColumnRenamed("pid", "iid"), intervals,
                      ts_col="ts", start_col="s", end_col="e")
