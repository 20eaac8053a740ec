"""Time-series operators: prediction bands and band-aware export.

The reference stores optional per-posting percentile "probability
bands" (ca_offset_score.score_pct5/25/75/95, ca-table.h:89-106) that are
precomputed upstream and carried through load/dump.  Spark-first, the
engine also *generates* them: per-series percentiles over history, the
numbers an upstream job would have computed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_BAND_PCTS = (0.05, 0.25, 0.75, 0.95)
_BAND_NAMES = ("pct5", "pct25", "pct75", "pct95")


def prediction_bands(ts: DataFrame) -> DataFrame:
    """Per-series percentile bands (pct5/25/75/95) from history —
    exact linear-interpolation percentiles (matches DuckDB
    quantile_cont).

    ONE array-argument percentile, not four scalar ones: four
    independent percentile aggregates each buffer + sort the group's
    values, quadrupling the per-group memory (r11 review); the array
    form computes all four bands from one buffer, identical values."""
    v = F.col("value")
    bands = F.percentile(
        v, F.array(*[F.lit(p) for p in _BAND_PCTS]))
    return (ts.groupBy("key")
            .agg(bands.alias("__bands"))
            .select("key",
                    *[F.round(F.col("__bands")[i], 4).alias(n)
                      for i, n in enumerate(_BAND_NAMES)]))


def with_bands(ts: DataFrame) -> DataFrame:
    """Attach the series-level bands to every posting — the shape the
    reference stores (nullable band columns per row) and dumps
    (ca-dump.cc:148-216).

    Window formulation: the four percentiles compute IN PLACE over one
    hash shuffle of the postings by series key (a single Window node).
    The former aggregate-then-join carried a one-row-per-SERIES table —
    broadcastable in tests, but past the threshold at corpus scale it
    flips to a sort-merge join that shuffles the postings a second
    time (the asof_prior/bm25 failure class).  Contract: parallelism
    is bounded by DISTINCT SERIES COUNT (each key's rows land in one
    window group) — with many series (the band use case) that exceeds
    the cluster; for a handful of giant series, pre-aggregate
    per-series instead (measured: 64x volume over 5 keys ratio 7.5,
    window-group bound, vs 2-3 for the key-rich operators).

    Rows with a NULL series key are dropped — they belong to no
    series (the former join formulation dropped them as inner-join
    non-matches, and a window would otherwise lump them into one
    meaningless NULL group)."""
    from pyspark.sql import Window
    ts = ts.filter(F.col("key").isNotNull())
    if "__bands" in ts.columns:
        raise ValueError("input columns collide with with_bands "
                         "internals: ['__bands']")
    w = Window.partitionBy("key")
    v = F.col("value")
    # ONE array-argument percentile window, not four: each scalar
    # percentile buffers + sorts the partition's values independently,
    # quadrupling the per-group memory (r11 review); values are
    # identical
    bands = F.percentile(v, F.array(*[F.lit(p) for p in _BAND_PCTS]))
    return (ts.withColumn("__bands", bands.over(w))
            .select("*",
                    *[F.round(F.col("__bands")[i], 4).alias(n)
                      for i, n in enumerate(_BAND_NAMES)])
            .drop("__bands"))


def band_outliers(ts: DataFrame) -> DataFrame:
    """Values outside their series' 5-95 band — the monitoring query the
    bands exist for."""
    banded = with_bands(ts)
    v = F.col("value")
    return (banded
            .filter((v < F.col("pct5")) | (v > F.col("pct95")))
            .withColumn("direction",
                        F.when(v < F.col("pct5"), F.lit("low"))
                        .otherwise(F.lit("high"))))


def asof_prior(events: DataFrame, anchor_filter) -> DataFrame:
    """A11 as-of filter (correlate.cc:360-462 semantics family): keep
    rows strictly older than their key's earliest anchor row, and attach
    that anchor timestamp as ``p_ts``.

    Formulated as a window, not a join: ONE shuffle of the events by
    ``key_col`` computes the per-key anchor minimum in-place.  The
    equivalent aggregate-then-join plan shuffles the events for the join
    AND the anchor subset for the aggregation, and at scale AQE cannot
    rescue it with a broadcast: the runtime stat it sees is the
    pre-final-aggregation map output (one partial row per key per map
    task), which crosses the broadcast threshold long before the true
    aggregate does — measured on 64x events it stays a SortMergeJoin.
    Keys with no anchor row get a NULL ``p_ts`` and are dropped by the
    strict < filter, matching the join's inner semantics.  NULL keys
    are dropped too: an equi-join never matches them, while a window
    would lump them into one group and anchor unrelated rows.
    """
    from pyspark.sql import Window
    events = events.filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    p_ts = F.min(F.when(anchor_filter, F.col("ts"))).over(w)
    return (events.withColumn("p_ts", p_ts)
            .filter(F.col("ts") < F.col("p_ts")))


def funnel(events: DataFrame, stages: list[str]) -> DataFrame:
    """Ordered funnel analysis: for each key, how far through the
    ``stages`` sequence it progressed, where stage k counts only if it
    happened strictly AFTER the key's qualifying stage k-1 time.
    Semantics: t_0 = min ts of stage 0; t_k = min ts of stage-k events
    with ts > t_{k-1}; depth = largest k+1 with t_k defined.  Keys
    that never reach stage 0 are omitted (depth would be 0).

    Plan shape: SINGLE PASS — the events are filtered to funnel stages
    before the shuffle, grouped once by the funnel key, and folded in
    timestamp order with a higher-order ``aggregate`` whose state is
    one timestamp per stage.  The events are scanned and shuffled
    exactly once regardless of stage count (the earlier formulation
    joined the events once per stage, re-reading them k-1 times).
    Per-key memory is that key's own funnel events — bounded by user
    activity, not corpus size — and the fold stays in codegen (no
    Python).  Fold correctness: events arrive ts-ascending, so the
    first stage-k event satisfying ts > t_{k-1} IS min(ts > t_{k-1}),
    and any such event sorts after the event that set t_{k-1}.

    Returns (key_col, stage_<k>_ts ..., funnel_depth).
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    if len(set(stages)) != len(stages):
        # the first-match type mapping below routes EVERY occurrence of
        # a repeated name to its first index, so later repeats would
        # silently never fill and every depth past them reads wrong
        raise ValueError(f"duplicate stage names unsupported: {stages}")
    n = len(stages)
    ts_type = events.schema["ts"].dataType.simpleString()
    idx = F.when(F.col("event_type") == stages[0], F.lit(0))
    for k, s in enumerate(stages[1:], start=1):
        idx = idx.when(F.col("event_type") == s, F.lit(k))
    # funnel is an event-time operator over per-key journeys: rows
    # with no event time or no key cannot advance any user's funnel
    # (a NULL key would otherwise fold into one meaningless group)
    ev = (events
          .select(F.col("user_id"), F.col("ts").alias("_ts"),
                  idx.alias("_s"))
          .filter(F.col("_s").isNotNull() & F.col("_ts").isNotNull() &
                  F.col("user_id").isNotNull()))
    grouped = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("_ts", "_s"))).alias("_evs"))
    init = F.array(*[F.lit(None).cast(ts_type) for _ in range(n)])

    def _step(acc, e):
        ts, s = e["_ts"], e["_s"]
        slots = []
        for k in range(n):
            open_k = acc[k].isNull() & (s == F.lit(k))
            if k > 0:
                open_k = open_k & acc[k - 1].isNotNull() & (ts > acc[k - 1])
            slots.append(F.when(open_k, ts).otherwise(acc[k]))
        return F.array(*slots)

    folded = grouped.select(
        "user_id", F.aggregate("_evs", init, _step).alias("_t"))
    out = (folded
           .select("user_id", *[F.col("_t")[k].alias(f"stage_{k}_ts")
                              for k in range(n)])
           .filter(F.col("stage_0_ts").isNotNull()))
    depth = None
    for k in range(n):
        c = F.when(F.col(f"stage_{k}_ts").isNotNull(), k + 1)
        depth = c if depth is None else F.greatest(depth, c)
    return out.withColumn("funnel_depth", F.coalesce(depth, F.lit(0)))


def retention_cohorts(events: DataFrame, period_days: int = 7) -> DataFrame:
    """Cohort retention: keys are cohorted by their first-activity
    period; for each (cohort, periods-since-cohort) cell, the count of
    distinct active keys.  The standard activation/retention matrix.

    ONE shuffle of the events carries the whole computation: the
    per-key active-period SET is a map-side-combinable collect_set
    (bounded by the calendar, not the event count), the cohort period
    is its array_min, and the matrix cells count the exploded unique
    (key, period) pairs.  The former formulation joined a
    one-row-per-KEY first-activity aggregate back to the activity
    pairs — broadcastable in tests, a second corpus shuffle at scale
    (the asof_prior/bm25 failure class).  Period =
    floor(epoch_days / period_days).  NULL-timestamp events contribute
    no activity (collect_set skips NULL; the oracle filters the same).
    """
    per = (F.floor(F.unix_micros(F.col("ts")) /
                   F.lit(86_400_000_000 * period_days))).cast("long")
    # NULL keys are no user — drop them (collect_set already skips
    # NULL periods; a NULL key would otherwise form its own cohort)
    per_key = (events.filter(F.col("user_id").isNotNull())
               .select(F.col("user_id").alias("k"), per.alias("p"))
               .groupBy("k").agg(F.collect_set("p").alias("__ps")))
    # rows after the explode are unique (k, p) pairs by construction,
    # so count(*) per cell IS the distinct-key count
    return (per_key.select("k",
                           F.array_min("__ps").alias("cohort_p"),
                           F.explode("__ps").alias("p"))
            .groupBy(F.col("cohort_p").alias("cohort_period"),
                     (F.col("p") - F.col("cohort_p"))
                     .alias("periods_since"))
            .agg(F.count("*").alias("n_active")))


def asof_join(left: DataFrame, right: DataFrame,
              key_col: str = "user_id", ts_col: str = "ts",
              value_cols: tuple[str, ...] = ("value",),
              direction: str = "backward",
              tolerance_us: int | None = None) -> DataFrame:
    """General as-of join (pandas ``merge_asof`` semantics family): for
    every LEFT row, attach the temporally nearest RIGHT row of the same
    key — backward (latest right ts <= left ts), forward (earliest
    right ts >= left ts), and ``tolerance_us`` nulls out matches
    farther than that many microseconds.  Generalizes
    :func:`asof_prior` (A11 family, correlate.cc:360-462) from "filter
    by one anchor" to "attach payload columns from any right table".

    Formulated as UNION + ONE WINDOW, not a join: left and right rows
    interleave in one shuffle partitioned by ``key_col``, ordered by
    (ts, side); the match is ``max`` (backward) / ``min`` (forward) of
    the right-row struct over the unbounded-preceding frame, so every
    left row sees exactly the right rows at-or-before it in the scan.
    The aggregate-then-join alternative shuffles BOTH tables for the
    join and loses to this plan at scale for the same reason documented
    on asof_prior (AQE sees pre-aggregation map stats, keeps a
    SortMergeJoin).  Determinism: equal right timestamps tie-break by
    the value struct's lexicographic order (max/min of the full
    struct), so the result is engine-order-independent.  Spark's struct
    comparison sorts a NULL field FIRST, which already makes backward's
    ``max`` prefer a real payload over a NULL one at a tied timestamp;
    forward's ``min`` would prefer the NULL, so its struct carries a
    leading is-null flag on the FIRST value column — both directions
    therefore resolve a tie to a payload whose first column is non-NULL
    when one exists (matching a SQL ``min(value)``/``max(value)``,
    which skip NULLs).  The preference is scoped to ``value_cols[0]``;
    later columns ride along with whichever row wins on
    (first-col-null, first-col, ...) struct order.

    NULL semantics: NULL-key rows on either side are dropped (an
    equi-join would never match them; one window group would lump
    them); right rows with NULL ts are dropped; left rows with NULL ts
    survive with NULL match columns.

    Returns the left rows + ``r_<ts_col>`` (matched right ts) +
    ``r_<col>`` for each of ``value_cols`` (NULL when no match within
    tolerance).
    """
    from pyspark.sql import Window
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    backward = direction == "backward"
    lp = [c for c in left.columns if c not in (key_col, ts_col)]
    rv = list(value_cols)
    # same contract as interval_join: a left payload column named like
    # a prefixed output would silently duplicate a column name in the
    # result (AMBIGUOUS_REFERENCE downstream)
    internal = {"__k", "__ts", "__side", "__m"} | {f"__r_{c}" for c in rv}
    clash = [c for c in lp
             if c in [f"r_{ts_col}"] + [f"r_{v}" for v in rv]
             or c in internal]
    if clash:
        # internal names too (r11 review): a left payload '__side'
        # would otherwise duplicate the selected literal and fail
        # AMBIGUOUS_REFERENCE (or bind wrongly) deep in the plan —
        # the global_row_number reserved-name convention
        raise ValueError(
            f"left columns collide with prefixed outputs or asof "
            f"internals: {clash}")
    rtypes = {c: right.schema[c].dataType for c in rv}
    ltypes = {c: left.schema[c].dataType for c in lp}
    lsel = (left.filter(F.col(key_col).isNotNull())
            .select(F.col(key_col).alias("__k"),
                    F.col(ts_col).alias("__ts"),
                    F.lit(1).alias("__side"),
                    *[F.col(c) for c in lp],
                    *[F.lit(None).cast(rtypes[c]).alias(f"__r_{c}")
                      for c in rv]))
    rsel = (right.filter(F.col(key_col).isNotNull() &
                         F.col(ts_col).isNotNull())
            .select(F.col(key_col).alias("__k"),
                    F.col(ts_col).alias("__ts"),
                    F.lit(0).alias("__side"),
                    *[F.lit(None).cast(ltypes[c]).alias(c) for c in lp],
                    *[F.col(c).alias(f"__r_{c}") for c in rv]))
    u = lsel.unionByName(rsel)
    # NULL-ts left rows must sort FIRST in both directions (they see no
    # right rows -> NULL match); desc's default is NULLS LAST
    ts_ord = (F.col("__ts").asc_nulls_first() if backward
              else F.col("__ts").desc_nulls_first())
    # at equal ts the right row is visible to the left row, so right
    # sorts before left
    w = (Window.partitionBy("__k").orderBy(ts_ord, F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rfields = [F.col("__ts").alias("__rts")]
    if not backward:
        # NULL fields sort first in struct comparison: under min a
        # NULL payload at a tied ts would shadow a real one.  The flag
        # keys on value_cols[0] ONLY (the oracle-pinned contract): with
        # multiple value columns, a tied right row whose FIRST column is
        # NULL loses to one whose first column is real, even if its
        # later columns carry values — deterministic, and identical to
        # SQL min(struct(ts, v0 IS NULL, v0, v1, ...)).
        rfields.append(
            F.when(F.col(f"__r_{rv[0]}").isNull(), F.lit(1))
            .otherwise(F.lit(0)).alias("__nn"))
    rfields += [F.col(f"__r_{c}").alias(c) for c in rv]
    rstruct = F.struct(*rfields)
    agg = F.max if backward else F.min
    m = agg(F.when(F.col("__side") == 0, rstruct)).over(w)
    out = u.withColumn("__m", m).filter(F.col("__side") == 1)
    if tolerance_us is not None:
        diff = F.abs(F.unix_micros(F.col("__ts")) -
                     F.unix_micros(F.col("__m.__rts")))
        out = out.withColumn(
            "__m", F.when(diff <= F.lit(int(tolerance_us)), F.col("__m")))
    return out.select(
        F.col("__k").alias(key_col), F.col("__ts").alias(ts_col), *lp,
        F.col("__m.__rts").alias(f"r_{ts_col}"),
        *[F.col(f"__m.{c}").alias(f"r_{c}") for c in rv])


def interval_join(points: DataFrame, intervals: DataFrame,
                  ts_col: str = "ts", start_col: str = "start",
                  end_col: str = "end", key_col: str | None = None,
                  bin_width_s: int = 3600) -> DataFrame:
    """Range/interval join without a cartesian product: each point row
    matches every interval row with ``start <= ts < end`` (same key
    when ``key_col`` is given).

    A naive theta join is a BroadcastNestedLoop (or worse, a cartesian)
    — quadratic at scale.  This operator BINS the time axis: intervals
    explode to the ``bin_width_s``-wide bins they overlap, points
    compute their single containing bin, and the match becomes an
    EQUI-join on (key, bin) + a residual range predicate — Catalyst
    shuffles both sides on hashed keys like any join, AQE handles
    skewed hot bins.  Each (point, interval) match is produced exactly
    once because the point's single bin selects exactly one exploded
    copy of each overlapping interval.

    Cost model: shuffle volume multiplies the interval side by its
    average bin count — pick ``bin_width_s`` near the typical interval
    length (1 bin per interval when width >= durations).  Degenerate
    or NULL intervals (end <= start) and NULL-ts points drop out.

    Column contract: ``points`` and ``intervals`` must not share
    column names (besides ``key_col``); the output carries all columns
    of both.
    """
    if int(bin_width_s) <= 0:
        raise ValueError(f"bin_width_s must be positive: {bin_width_s}")
    w_us = int(bin_width_s) * 1_000_000
    overlap = [c for c in points.columns if c in intervals.columns
               and c != key_col]
    if overlap:
        raise ValueError(f"column collision between sides: {overlap}")
    if "__bin" in points.columns or "__bin" in intervals.columns:
        # present on ONE side it slips the overlap check, gets
        # silently overwritten by withColumn and then dropped from the
        # output — caller data loss with no error (r11 review)
        raise ValueError("input columns collide with interval_join "
                         "internals: ['__bin']")
    p = points.filter(F.col(ts_col).isNotNull()).withColumn(
        "__bin", F.floor(F.unix_micros(F.col(ts_col)) / w_us))
    iv = (intervals
          .filter(F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
                  & (F.col(start_col) < F.col(end_col)))
          .withColumn("__bin", F.explode(F.sequence(
              F.floor(F.unix_micros(F.col(start_col)) / w_us),
              F.floor((F.unix_micros(F.col(end_col)) - 1) / w_us)))))
    on = ["__bin"] if key_col is None else [key_col, "__bin"]
    return (p.join(iv, on)
            .filter((F.col(start_col) <= F.col(ts_col)) &
                    (F.col(ts_col) < F.col(end_col)))
            .drop("__bin"))
