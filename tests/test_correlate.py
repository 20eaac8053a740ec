"""CORRELATE pipeline tests (operators/correlate.py vs hand-computed
expectations transcribing correlate.cc)."""

import math

import pytest
from pyspark.sql import functions as F

from cantera_table_spark.operators.correlate import (
    correlate_sets, filter_by_timestamp_now, filter_by_timestamp_sets,
)
from cantera_table_spark.session import CacheScope

P_SCHEMA = "keyword string, doc_id long, score double"
S_SCHEMA = "doc_id long, score double"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def correlate_rows(postings, a, b, **kw):
    """correlate_sets' collected rows, its cached intermediates
    released."""
    with CacheScope() as caches:
        return correlate_sets(postings, a, b, caches=caches, **kw).collect()


@pytest.mark.slow
def test_boolean_feature_counts_and_logodds(spark):
    # A = {0..9}, B = {10..14}; feature 'f' present on 8 A docs, 1 B doc.
    a = spark.createDataFrame([(i, 0.0) for i in range(10)], S_SCHEMA)
    b = spark.createDataFrame([(i, 0.0) for i in range(10, 15)], S_SCHEMA)
    postings = spark.createDataFrame(
        [("f", i, 0.0) for i in range(8)] + [("f", 10, 0.0)], P_SCHEMA)
    out = correlate_rows(postings, a, b)
    assert len(out) == 1
    r = out[0]
    prior = math.log(11.0 / 6.0)
    want = math.log(9.0 / 2.0) - prior
    assert r.match_count_a == 8 and r.match_count_b == 1
    assert abs(r.log_odds - round(want, 3)) < 1e-9
    assert r.min_score is None and r.max_score is None


@pytest.mark.slow
def test_min_support_filters_rare_features(spark):
    # |A|=40 -> limit_a=2; a feature on a single A doc must not appear.
    a = spark.createDataFrame([(i, 0.0) for i in range(40)], S_SCHEMA)
    b = spark.createDataFrame([(i, 0.0) for i in range(40, 80)], S_SCHEMA)
    postings = spark.createDataFrame([("rare", 0, 0.0)], P_SCHEMA)
    assert correlate_rows(postings, a, b) == []


@pytest.mark.slow
def test_b_made_disjoint_from_a(spark):
    # Doc 0 in both sets counts only for A (correlate.cc:498-500).
    a = spark.createDataFrame([(0, 0.0), (1, 0.0)], S_SCHEMA)
    b = spark.createDataFrame([(0, 0.0), (2, 0.0), (3, 0.0)], S_SCHEMA)
    postings = spark.createDataFrame(
        [("f", 0, 0.0), ("f", 1, 0.0), ("f", 2, 0.0)], P_SCHEMA)
    out = correlate_rows(postings, a, b)
    assert len(out) == 1
    # had doc 0 counted for B too, match counts would be symmetric and the
    # log-odds (0) filtered out; the row existing proves the subtraction
    assert out[0].match_count_a == 2 and out[0].match_count_b == 1
    assert abs(out[0].log_odds - round(math.log(1.5), 3)) < 1e-9


@pytest.mark.slow
def test_continuous_feature_split(spark):
    # Continuous feature: A docs score ~10, B docs score ~1 -> a split
    # should isolate the high range and boost the A-side log-odds.
    a = spark.createDataFrame([(i, 0.0) for i in range(10)], S_SCHEMA)
    b = spark.createDataFrame([(i, 0.0) for i in range(10, 20)], S_SCHEMA)
    postings = spark.createDataFrame(
        [("cont", i, 10.0 + i * 0.1) for i in range(10)] +
        [("cont", i, 1.0 + i * 0.01) for i in range(10, 20)], P_SCHEMA)
    out = correlate_rows(postings, a, b)
    # Two range rows: low range favours B, high range favours A.
    assert len(out) == 2
    by_sign = {r.log_odds > 0: r for r in out}
    hi, lo = by_sign[True], by_sign[False]
    assert hi.match_count_a == 10 and hi.match_count_b == 0
    assert lo.match_count_a == 0 and lo.match_count_b == 10
    assert hi.min_score is not None and hi.max_score is None
    assert lo.min_score is None and lo.max_score is not None


def test_filter_by_timestamp_sets(spark):
    # doc 1: key ts 5 < A ts 8 -> kept, score 3; doc 2: key ts 9 >= A ts 7
    # -> dropped; doc 3 in B: 2 < 4 -> kept score 2; doc 4 unmatched ->
    # dropped.
    keys = spark.createDataFrame(
        [("k", 1, 5.0), ("k", 2, 9.0), ("k", 3, 2.0), ("k", 4, 1.0)],
        P_SCHEMA)
    a = spark.createDataFrame([(1, 8.0), (2, 7.0)], S_SCHEMA)
    b = spark.createDataFrame([(3, 4.0)], S_SCHEMA)
    out = rows(filter_by_timestamp_sets(keys, a, b))
    assert out == [("k", 1, 3.0), ("k", 3, 2.0)]


def test_filter_by_timestamp_now(spark):
    keys = spark.createDataFrame(
        [("k", 0, 50.0), ("k", 1, 5.0), ("k", 2, 9.0), ("k", 9, 100.0)],
        P_SCHEMA)
    a = spark.createDataFrame([(1, 8.0), (2, 7.0)], S_SCHEMA)
    out = rows(filter_by_timestamp_now(keys, a, now_days=1000.0))
    # doc 0 unmatched and below max(A doc)=2 -> kept, now - 50 = 950;
    # doc 1 kept (8-5=3); doc 2 dropped (9 >= 7); doc 9 unmatched but
    # BEYOND the set's last offset -> dropped (the reference merge loop
    # erases remaining keys once the adj cursor is exhausted,
    # correlate.cc:395-398)
    assert out == [("k", 0, 950.0), ("k", 1, 3.0)]


@pytest.mark.slow
def test_statement_path_timestamped_with_ephemeral_skip(spark):
    """Drive CORRELATE through Engine.execute_script with a timestamped
    primary keyword: ephemeral features must be excluded, the as-of
    filter must apply, and release_caches() must clear the registered
    intermediates (statement entry path, correlate.cc:482-573)."""
    from cantera_table_spark.engine import Engine
    from cantera_table_spark.model import Catalog

    postings = spark.createDataFrame(
        # ts:label — the timestamped A/B sets (scores are days)
        [("ts:label_a", d, 100.0) for d in range(10)] +
        [("ts:label_b", d, 100.0) for d in range(10, 20)] +
        # a timestamped feature: early events for A docs only
        [("ts:sig", d, 90.0) for d in range(8)] +
        # an ephemeral feature that would otherwise be fully predictive
        [("alexa:rank", d, 1.0) for d in range(10)] +
        # a plain boolean feature on B docs
        [("plain", d, 0.0) for d in range(10, 19)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame([(d, f"d{d}", "{}") for d in range(20)],
                                 "doc_id long, key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings],
                  keyword_meta=[("ts:", "timestamped"),
                                ("alexa:", "ephemeral")])
    eng = Engine(cat, unique_postings=True)
    df = eng.execute_script(
        "CORRELATE QUERY (ts:label_a), (ts:label_b);")[0]
    got = {r.keyword: (r.match_count_a, r.match_count_b)
           for r in df.collect()}
    assert "alexa:rank" not in got          # ephemeral skipped
    assert got["ts:sig"] == (8, 0)          # as-of: 90 < 100 kept, aged
    assert got["plain"] == (0, 9)
    assert eng.caches                       # intermediates registered
    eng.release_caches()
    assert not eng.caches


def _small_engine(spark, unique):
    from cantera_table_spark.engine import Engine
    from cantera_table_spark.model import Catalog
    postings = spark.range(2000).select(
        F.concat(F.lit("kw"), (F.col("id") % 20).cast("string"))
        .alias("keyword"),
        (F.col("id") % 300).alias("doc_id"),
        (F.col("id") % 7).cast("double").alias("score"))
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("key"),
        F.lit("{}").alias("doc"))
    return Engine(Catalog(summaries=[docs], indexes=[postings]),
                  unique_postings=unique)


@pytest.mark.parametrize("unique", [True, False])
def test_correlate_statement_releases_every_cache(spark, unique):
    """Every block a CORRELATE statement persists is registered, so
    release_caches() leaves the session's persistent RDDs as it found
    them — including the empty-class early return, which caches the
    class table before counting it."""
    from cantera_table_spark.dsl.parser import parse_script
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    eng = _small_engine(spark, unique)
    rows_ = eng.execute(parse_script(
        "CORRELATE QUERY (kw1 OR kw3), (kw2);")[0]).collect()
    assert rows_ and eng.caches
    eng.release_caches()
    assert set(jsc.getPersistentRDDs().keySet()) == before

    a = spark.createDataFrame([(i, 0.0) for i in range(10)], S_SCHEMA)
    postings = spark.createDataFrame([("f", i, 0.0) for i in range(8)],
                                     P_SCHEMA)
    with CacheScope() as caches:
        out = correlate_sets(postings, a, a, caches=caches,
                             unique_docs=unique)
        assert out.collect() == [] and len(caches) == 1
        assert set(jsc.getPersistentRDDs().keySet()) != before
    assert set(jsc.getPersistentRDDs().keySet()) == before


# Spark jobs one CORRELATE statement runs on _small_engine's catalog,
# measured when the pipeline became one class table plus one keyword
# pass (the four-branch shape before it ran 29 and 37)
_CORRELATE_JOBS = {True: 9, False: 16}


@pytest.mark.parametrize("unique", [True, False])
def test_correlate_statement_job_count(spark, unique):
    """Scheduler-level regression pin: the statement's jobs (the class
    table count, its broadcast, one job per shuffle stage of the
    histogram pass and the result) stay at or below the measured
    count."""
    from cantera_table_spark.dsl.parser import parse_script
    sc = spark.sparkContext
    eng = _small_engine(spark, unique)
    stmt = parse_script("CORRELATE QUERY (kw1 OR kw3), (kw2);")[0]
    group = f"test-correlate-jobs-{unique}"
    sc.setJobGroup(group, group)
    try:
        rows_ = eng.execute(stmt).collect()
    finally:
        sc._jsc.clearJobGroup()
        eng.release_caches()
    assert rows_
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= _CORRELATE_JOBS[unique], len(jobs)


# --- randomized model-based law: full pipeline vs pure-Python model ---
#
# ref_model.correlate transcribes the whole mining pipeline
# (correlate.cc:84-358) in plain Python; hypothesis drives random
# posting tables and class sets through both engines.  Decision
# boundaries that hinge on float equality (split argmax ties, the
# use_split >= ln(1.05) edge, the logit-cutoff edge) are assumed away:
# a 1-ulp libm-vs-JVM log difference could legitimately flip them, and
# the reference pins no cross-platform tie order.

from hypothesis import assume, given, settings, strategies as st

from tests import ref_model


def _boundary_safe(postings, set_a, set_b):
    """assume()-guard: reject inputs whose model decisions sit within
    float noise of a boundary."""
    import math
    from collections import defaultdict

    a = set(set_a)
    b = set(set_b) - a
    prior = math.log((len(a) + 1.0) / (len(b) + 1.0))
    lim_a = max(len(a) // 20, 1)
    lim_b = max(len(b) // 20, 1)
    by_kw = defaultdict(list)
    for kw, d, s in postings:
        by_kw[kw].append((d, ref_model.spark_order(s),
                          1 if d in a else (-1 if d in b else None)))
    for kw, krows in by_kw.items():
        per = {}
        for _, s, c in krows:
            if c is None:
                continue
            na, nb, nab = per.get(s, (0, 0, 0))
            per[s] = (na + (c == 1), nb + (c == -1), nab + 1)
        scores = sorted(per)
        tot_a = sum(v[0] for v in per.values())
        tot_b = sum(v[1] for v in per.values())
        tot_ab = sum(v[2] for v in per.values())
        cum_a = cum_b = cum_ab = 0
        gains = []
        for s in scores:
            cum_a += per[s][0]; cum_b += per[s][1]; cum_ab += per[s][2]
            left = (abs(math.log((cum_a + 1.0) /
                                 (cum_ab - cum_a + 1.0)) - prior)
                    if (cum_a >= lim_a or cum_b >= lim_b) else 0.0)
            ra, rb, rab = tot_a - cum_a, tot_b - cum_b, tot_ab - cum_ab
            right = (abs(math.log((ra + 1.0) / (rab - ra + 1.0)) - prior)
                     if (ra >= lim_a or rb >= lim_b) else 0.0)
            gains.append(max(left, right))
        if not gains:
            continue
        top = sorted(gains, reverse=True)
        if len(top) > 1 and top[0] - top[1] < 1e-9 and top[0] > 0:
            return False                      # argmax tie
        if abs(top[0] - math.log(1.05)) < 1e-9:
            return False                      # use_split edge
    # 3-decimal rounding boundary: both engines now decide the cutoff
    # on the ROUNDED log-odds (exact 3-decimal doubles vs 0.201 — no
    # unrounded knife edge left), so the one remaining float hazard is
    # the rounding itself: the model rounds via binary
    # floor(x*1000+0.5) while Spark's ROUND is decimal HALF_UP on the
    # double's shortest repr, so a value ~1 ulp from a .0005 boundary
    # can legitimately round differently — flipping the emitted VALUE
    # and, near the cutoff, the emission decision.  raw=True yields
    # every support-passing candidate INCLUDING cutoff-dropped rows
    # (the r9 hole: scanning only emitted rows let a model-dropped
    # near-miss through).
    for r in ref_model.correlate(postings, set_a, set_b, raw=True):
        frac = abs(r[0]) * 1000.0
        if abs(frac - math.floor(frac) - 0.5) < 1e-9:
            return False                      # half-up rounding edge
    return True


_postings_st = st.lists(
    st.tuples(st.sampled_from(["kw0", "kw1", "kw2"]),
              st.integers(0, 19),
              st.sampled_from([0.0, 1.0, 2.0, 3.0, 5.0, ref_model.NAN,
                               None])),
    min_size=1, max_size=50)
_docs_st = st.lists(st.integers(0, 19), max_size=15)


def _spark_rows(df):
    """Collected rows in ref_model.correlate's order, each NaN range end
    replaced by ``ref_model.NAN`` so equal rows compare equal."""
    def end(v):
        return ref_model.NAN if v is not None and math.isnan(v) else v
    return sorted(((r.log_odds, r.match_count_a, r.match_count_b,
                    r.keyword, end(r.min_score), end(r.max_score))
                   for r in df.collect()),
                  key=lambda r: (r[3], repr(r[4]), repr(r[5])))


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(postings=_postings_st, set_a=_docs_st, set_b=_docs_st)
def test_correlate_matches_model(spark, postings, set_a, set_b):
    assume(_boundary_safe(postings, set_a, set_b))
    want = ref_model.correlate(postings, set_a, set_b)
    pdf = spark.createDataFrame(
        [(k, int(d), s) for k, d, s in postings], P_SCHEMA)
    adf = spark.createDataFrame(
        [(int(d), 0.0) for d in set_a] or [], S_SCHEMA)
    bdf = spark.createDataFrame(
        [(int(d), 0.0) for d in set_b] or [], S_SCHEMA)
    with CacheScope() as caches:
        got = _spark_rows(correlate_sets(pdf, adf, bdf, caches=caches))
    assert got == want


@pytest.mark.slow
@settings(max_examples=6, deadline=None)
@given(postings=_postings_st, set_a=_docs_st, set_b=_docs_st)
def test_correlate_unique_docs_path_matches_model(spark, postings,
                                                  set_a, set_b):
    """The unique_docs=True contingency fast path (plain conditional
    count, no countDistinct expand) must agree with the model once the
    input is collapsed to one row per (keyword, doc_id) — the engine's
    unique_postings contract."""
    uniq = {}
    for k, d, s in postings:
        uniq.setdefault((k, d), (k, d, s))
    postings = list(uniq.values())
    assume(_boundary_safe(postings, set_a, set_b))
    want = ref_model.correlate(postings, set_a, set_b)
    pdf = spark.createDataFrame(
        [(k, int(d), s) for k, d, s in postings], P_SCHEMA)
    adf = spark.createDataFrame(
        [(int(d), 0.0) for d in set_a] or [], S_SCHEMA)
    bdf = spark.createDataFrame(
        [(int(d), 0.0) for d in set_b] or [], S_SCHEMA)
    with CacheScope() as caches:
        got = _spark_rows(correlate_sets(pdf, adf, bdf, caches=caches,
                                         unique_docs=True))
    assert got == want


# Edge cases of reading range counts off the split's prefix sums:
# A = docs 0-9, B = docs 10-19, docs 20+ are in neither class.
_SPLIT = ([("c", d, 1.0 + d % 2) for d in range(8)] +
          [("c", 8, 9.0), ("c", 9, 9.0)] +
          [("c", d, 1.0) for d in range(10, 13)] +
          [("c", d, 8.0 + d % 2) for d in range(13, 20)])
# best gain at the FIRST class score: no split, whole range
_FIRST = ([("c", d, 1.0) for d in range(8)] +
          [("c", 8, 3.0), ("c", 9, 3.0)] +
          [("c", d, 2.0) for d in range(10, 15)] +
          [("c", 15, 3.0), ("c", 16, 3.0)])
# A-only keyword: best gain at the LAST class score, no split
_LAST = ([("c", d, 1.0) for d in range(6)] +
         [("c", d, 2.0) for d in range(6, 10)])
_NAN = float("nan")
_A, _B = list(range(10)), list(range(10, 20))


def _edge_rows(spark, postings, unique):
    with CacheScope() as caches:
        return _spark_rows(correlate_sets(
            spark.createDataFrame(postings, P_SCHEMA),
            spark.createDataFrame([(d, 0.0) for d in _A], S_SCHEMA),
            spark.createDataFrame([(d, 0.0) for d in _B], S_SCHEMA),
            caches=caches, unique_docs=unique))


@pytest.mark.parametrize("postings, want", [
    # class-less values between mid=2.0 and next=8.0 must not become
    # the right range's lower end
    (_SPLIT + [("c", 20, 5.0), ("c", 21, 5.0), ("c", 22, 6.5)],
     [(-0.981, 2, 7, "c", 8.0, None), (0.811, 8, 3, "c", None, 2.0)]),
    # class-less values below the first class score must not move the
    # argmax off position 1
    (_FIRST + [("c", 20, -1.0), ("c", 21, 0.5), ("c", 22, 0.5)],
     [(0.318, 10, 7, "c", None, None)]),
    # class-less NaN scores sort last and must not make the last class
    # score an inner split point
    (_LAST + [("c", 20, _NAN), ("c", 21, _NAN)],
     [(2.398, 10, 0, "c", None, None)]),
    # one class-less NaN changes nothing, first or last in the input
    ([("c", 20, _NAN)] + _SPLIT,
     [(-0.981, 2, 7, "c", 8.0, None), (0.811, 8, 3, "c", None, 2.0)]),
    (_SPLIT + [("c", 20, _NAN)],
     [(-0.981, 2, 7, "c", 8.0, None), (0.811, 8, 3, "c", None, 2.0)]),
    # NaN as the next class score: the right range is [NaN, +inf)
    ([("c", d, 1.0 + d // 5) for d in range(10)] +
     [("c", d, _NAN) for d in range(10, 20)],
     [(2.398, 10, 0, "c", None, 2.0),
      (-2.398, 0, 10, "c", ref_model.NAN, None)]),
], ids=["classless_between_mid_and_next", "classless_below_first",
        "nan_score", "classless_nan_first", "classless_nan_last",
        "nan_next"])
@pytest.mark.parametrize("unique", [True, False])
def test_correlate_prefix_sum_edge_cases(spark, postings, want, unique):
    assert ref_model.correlate(postings, _A, _B) == want
    assert _edge_rows(spark, postings, unique) == want


@pytest.mark.parametrize("postings, want", [
    ([("n", d, 1.0 + d % 2) for d in range(8)] +
     [("n", d, 8.0 + d % 2) for d in range(10, 18)] +
     [("n", d, None) for d in (8, 9, 18, 19)],
     [(-2.197, 0, 8, "n", 8.0, None), (2.197, 8, 0, "n", None, 2.0)]),
    ([("n", d, 1.0) for d in range(6)] +
     [("n", d, None) for d in range(6, 10)] + [("n", 10, 2.0)],
     [(-0.693, 0, 1, "n", 2.0, None), (1.946, 6, 0, "n", None, 1.0)]),
], ids=["split_between_values", "split_after_first_value"])
@pytest.mark.parametrize("unique", [True, False])
def test_correlate_null_scores_stay_out_of_bounded_ranges(spark, postings,
                                                          want, unique):
    """A null score (a TSV row whose score does not parse) joins the
    split search as the first histogram row but lies in no bounded
    range: ``score <= mid`` is null.  The left range's prefix-sum count
    must therefore leave it out, as the per-doc count does.  ``want``
    is the output of the earlier per-range re-count, which filtered
    each range by score, and the model's."""
    assert ref_model.correlate(postings, _A, _B) == want
    assert _edge_rows(spark, postings, unique) == want


_keys_st = st.lists(
    st.tuples(st.sampled_from(["k0", "k1"]),
              st.integers(0, 12),
              st.integers(0, 20)),
    min_size=1, max_size=25)
_aset_st = st.lists(st.tuples(st.integers(0, 12), st.integers(0, 20)),
                    max_size=10)


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(keys=_keys_st, set_a=_aset_st, now=st.integers(21, 40))
def test_filter_by_timestamp_now_matches_model(spark, keys, set_a, now):
    """The now-variant's merge-loop quirk, model-checked on random
    inputs: docs IN the set keep one min-age row when strictly earlier;
    docs OUTSIDE keep EVERY raw key row scored now - score, but only
    below max(set doc_id) — the reference erases everything past the
    exhausted adj cursor (correlate.cc:360-398).  Empty set => empty
    output (null max comparison)."""
    amin = {}
    for d, s in set_a:
        amin[d] = min(amin.get(d, float(s)), float(s))
    kmin = {}
    for k, d, s in keys:
        kmin[(k, d)] = min(kmin.get((k, d), float(s)), float(s))
    want = sorted(
        [(k, d, amin[d] - sc) for (k, d), sc in kmin.items()
         if d in amin and sc < amin[d]] +
        ([(k, d, float(now) - s) for k, d, s in keys
          if d not in amin and d < max(amin)] if amin else []),
        key=lambda r: (r[0], r[1], r[2]))
    kdf = spark.createDataFrame(
        [(k, int(d), float(s)) for k, d, s in keys], P_SCHEMA)
    adf = spark.createDataFrame(
        [(int(d), float(s)) for d, s in set_a] or [], S_SCHEMA)
    got = sorted(((r.keyword, r.doc_id, r.score)
                  for r in filter_by_timestamp_now(kdf, adf,
                                                   float(now)).collect()),
                 key=lambda r: (r[0], r[1], r[2]))
    assert got == want


@pytest.mark.slow
def test_r11_empty_class_short_circuit_and_primary_keyword(spark):
    """r11 operators-review findings, pinned: (a) an empty class —
    either A, or B emptied by the disjoint subtraction — emits NO
    output, matching the reference's early return (correlate.cc:501);
    ref_model mirrors it so the property test keeps covering empty
    classes; (b) primary_keyword commits to the lhs subtree
    UNCONDITIONALLY (correlate.cc:464-471): a query whose leftmost
    terminal is a non-Leaf (KEY=x) yields '' instead of inheriting
    rhs's keyword and silently flipping event-prediction mode."""
    from cantera_table_spark.dsl import ast as A
    from cantera_table_spark.operators.correlate import primary_keyword
    from tests import ref_model

    a = spark.createDataFrame([(i, 0.0) for i in range(10)], S_SCHEMA)
    b_empty = spark.createDataFrame([], S_SCHEMA)
    b_subset = spark.createDataFrame([(0, 0.0), (1, 0.0)], S_SCHEMA)
    postings = spark.createDataFrame(
        [("f", i, 0.0) for i in range(8)], P_SCHEMA)
    assert correlate_rows(postings, a, b_empty) == []
    # B ⊆ A -> disjoint subtraction empties B -> no output either
    assert correlate_rows(postings, a, b_subset) == []
    assert correlate_rows(postings, b_empty, a) == []
    assert ref_model.correlate(
        [("f", i, 0.0) for i in range(8)], list(range(10)), []) == []
    assert ref_model.correlate(
        [("f", i, 0.0) for i in range(8)], list(range(10)), [0, 1]) == []

    assert primary_keyword(A.Leaf("kw")) == "kw"
    assert primary_keyword(A.KeyLookup("x")) == ""
    # leftmost terminal is the KeyLookup -> '' (NOT 'ts:date')
    assert primary_keyword(
        A.Binary("and", A.KeyLookup("x"), A.Leaf("ts:date"))) == ""
    assert primary_keyword(
        A.Binary("and", A.Leaf("ts:date"), A.KeyLookup("x"))) == "ts:date"
    assert primary_keyword(A.Unary("max", A.Leaf("m"))) == "m"
