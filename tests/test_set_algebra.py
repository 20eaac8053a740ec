"""Property tests: Spark set-algebra operators vs the transcribed C++
merge loops (tests/ref_model.py), on randomized posting lists with
duplicate offsets — the semantics SURVEY.md §7 ranks as hardest (#1)."""

import random

import pytest

from pyspark.sql import functions as F

from cantera_table_spark.operators import set_algebra as sa
from cantera_table_spark.session import CacheScope
from tests import ref_model as ref

SCHEMA = "doc_id long, score double"


def canon(postings):
    """Canonical order: (offset, score asc) — see set_algebra docstring."""
    return sorted(postings, key=lambda p: (p[0], p[1]))


def make_postings(rng, n_docs=30, n_rows=40, dup_rate=0.3):
    rows = []
    for _ in range(n_rows):
        doc = rng.randrange(n_docs)
        score = float(rng.randrange(-5, 15))
        rows.append((doc, score))
        if rng.random() < dup_rate:
            rows.append((doc, float(rng.randrange(-5, 15))))
    return canon(rows)


def to_df(spark, postings):
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in postings], SCHEMA)


def collected(df):
    return sorted((r.doc_id, r.score) for r in df.collect())


CASES = [(seed, op) for seed in range(4)
         for op in ["union", "intersect", "subtract", "theta_gt",
                    "theta_lt", "order_by"]]


@pytest.mark.parametrize("seed,op", CASES)
def test_operator_matches_reference_model(spark, seed, op):
    rng = random.Random(seed)
    lhs = make_postings(rng)
    rhs = make_postings(rng)
    ldf, rdf = to_df(spark, lhs), to_df(spark, rhs)

    if op == "union":
        got = sa.union_or(ldf, rdf)
        want = ref.union(lhs, rhs)
    elif op == "intersect":
        got = sa.intersect_and(ldf, rdf)
        want = ref.intersect(lhs, rhs)
    elif op == "subtract":
        got = sa.subtract(ldf, rdf)
        want = ref.subtract(lhs, rhs)
    elif op == "theta_gt":
        got = sa.theta_join(ldf, rdf, "gt")
        want = ref.theta(lhs, rhs, "gt")
    elif op == "theta_lt":
        got = sa.theta_join(ldf, rdf, "lt")
        want = ref.theta(lhs, rhs, "lt")
    elif op == "order_by":
        got = sa.order_by(ldf, rdf)
        want = ref.order_by(lhs, rhs)
    assert collected(got) == sorted(want)


@pytest.mark.parametrize("seed", range(3))
@pytest.mark.parametrize("use_max", [True, False])
def test_dedup_matches_reference_model(spark, seed, use_max):
    rng = random.Random(seed)
    v = make_postings(rng)
    got = collected(sa.dedup(to_df(spark, v), use_max=use_max))
    assert got == sorted(ref.dedup(v, use_max))


def test_full_pipeline_matches_reference_model(spark):
    """(a AND b OR c) ORDER BY d, then dedup-max — composed semantics."""
    rng = random.Random(99)
    a, b, c, d = (make_postings(rng) for _ in range(4))
    spark_res = sa.dedup(
        sa.order_by(
            sa.union_or(sa.intersect_and(to_df(spark, a), to_df(spark, b)),
                        to_df(spark, c)),
            to_df(spark, d)),
        use_max=True)
    ref_res = ref.dedup(
        ref.order_by(canon(ref.union(canon(ref.intersect(a, b)), c)),
                     d),
        use_max=True)
    assert collected(spark_res) == sorted(ref_res)


def test_unique_fast_paths_agree(spark):
    """unique=True paths must equal general paths on duplicate-free input."""
    rng = random.Random(7)
    lhs = canon({(d, float(rng.randrange(10))) for d in range(0, 30, 2)})
    rhs = canon({(d, float(rng.randrange(10))) for d in range(0, 30, 3)})
    ldf, rdf = to_df(spark, lhs), to_df(spark, rhs)
    for f in [sa.union_or, sa.order_by,
              lambda l, r, unique: sa.theta_join(l, r, "gt", unique=unique)]:
        assert collected(f(ldf, rdf, unique=True)) == \
            collected(f(ldf, rdf, unique=False))


def test_top_k_and_sample(spark):
    rows = [(i, float(i % 7)) for i in range(50)]
    df = to_df(spark, rows)
    page = sa.top_k(df, 5)
    got = [(r.doc_id, r.score) for r in page.collect()]
    want = sorted(rows, key=lambda p: (-p[1], p[0]))[:5]
    assert sorted(got) == sorted(want)

    off = sa.top_k(df, 5, offset=2)
    got_off = sorted((r.doc_id, r.score) for r in off.collect())
    assert got_off == sorted(want[2:] + sorted(
        rows, key=lambda p: (-p[1], p[0]))[5:7])

    s1 = collected(sa.sample(df, 10))
    s2 = collected(sa.sample(df, 10))
    assert s1 == s2 and len(s1) == 10  # deterministic


def test_threshold_filter(spark):
    result = to_df(spark, [(1, 5.0), (2, 3.0), (3, 1.0)])
    kp = to_df(spark, [(1, 10.0), (2, 25.0), (3, 99.0), (4, 15.0)])
    out = collected(sa.threshold_filter(result, kp, [20.0, 90.0, 30.0]))
    # range is [20, 90): docs 2 (25) kept with score replaced; 1,3 dropped
    assert out == [(2, 25.0)]


def test_unlimited_offset_page_distributed(spark):
    """limit=-1 + OFFSET must page correctly WITHOUT a single-task global
    window over the data: the range-partitioned row-cut numbers rows per
    partition, and both count and row branches read ONE localCheckpoint
    materialization, so the numbering cannot depend on ReuseExchange
    collapsing the branches.  The checkpoint lives in the caller's
    CacheScope, and releasing it leaves no persistent RDD behind."""
    rng = random.Random(11)
    # duplicate (doc, score) rows included: the cut must be multiset-exact
    rows = [(i % 23, float(rng.randrange(6))) for i in range(2000)]
    df = to_df(spark, rows).repartition(8)
    with pytest.raises(ValueError, match="caches"):
        sa.top_k(df, -1, offset=137)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with CacheScope() as caches:
        page = sa.top_k(df, -1, offset=137, caches=caches)
        got = [(r.doc_id, r.score) for r in page.collect()]
        assert len(caches) == 1
        plan = page._jdf.queryExecution().executedPlan().toString()
    want = sorted(rows, key=lambda p: (-p[1], p[0]))[137:]
    assert got == want                      # ordered, not just multiset
    # both branches read the checkpointed RDD, not separate range shuffles
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # the only single-partition window is over the tiny per-partition
    # count table; the data-sized window is hash-partitioned by __gpid
    assert "__gpid" in plan
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_unlimited_offset_page_no_exchange_reuse(spark):
    """The offset cut must stay correct even when ReuseExchange is
    disabled — the failure mode ordering.py's HARD INVARIANT warns
    about: count and row branches re-executing the range exchange over a
    nondeterministically-ordered input (here: downstream of a groupBy)
    and sampling different partition boundaries."""
    rng = random.Random(7)
    base = [(i % 311, float(rng.randrange(5))) for i in range(4000)]
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        # aggregation upstream -> nondeterministic row order feeding top_k
        agg = (to_df(spark, base).repartition(8)
               .groupBy("doc_id").agg(F.sum("score").alias("score")))
        with CacheScope() as caches:
            page = sa.top_k(agg, -1, offset=101, caches=caches)
            got = [(r.doc_id, r.score) for r in page.collect()]
        want_all = sorted(
            ((d, float(sum(s for dd, s in base if dd == d)))
             for d in {d for d, _ in base}),
            key=lambda p: (-p[1], p[0]))
        assert got == want_all[101:]
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)


# --- random-AST composition fuzz: whole expression trees vs the model ---

from hypothesis import given, settings, strategies as st  # noqa: E402

_OPS = ["union", "intersect", "subtract", "theta_gt", "theta_lt",
        "order_by"]

_tree_st = st.recursive(
    st.integers(0, 2**31 - 1),                       # leaf: postings seed
    lambda kids: st.tuples(st.sampled_from(_OPS), kids, kids),
    max_leaves=5)


def _eval_tree(spark, node):
    """Evaluate an expression tree on BOTH engines; the model side
    canonicalizes after every operator ((offset, score asc) — the
    engine's defined intra-run order, see set_algebra docstring)."""
    if isinstance(node, int):
        p = make_postings(random.Random(node))
        return to_df(spark, p), p
    op, l, r = node
    ldf, lref = _eval_tree(spark, l)
    rdf, rref = _eval_tree(spark, r)
    if op == "union":
        return sa.union_or(ldf, rdf), canon(ref.union(lref, rref))
    if op == "intersect":
        return sa.intersect_and(ldf, rdf), canon(ref.intersect(lref, rref))
    if op == "subtract":
        return sa.subtract(ldf, rdf), canon(ref.subtract(lref, rref))
    if op == "theta_gt":
        return sa.theta_join(ldf, rdf, "gt"), canon(ref.theta(lref, rref,
                                                              "gt"))
    if op == "theta_lt":
        return sa.theta_join(ldf, rdf, "lt"), canon(ref.theta(lref, rref,
                                                              "lt"))
    return sa.order_by(ldf, rdf), canon(ref.order_by(lref, rref))


@pytest.mark.slow
@settings(max_examples=10, deadline=None)
@given(tree=_tree_st, use_max=st.booleans())
def test_random_ast_matches_reference_model(spark, tree, use_max):
    """Query-level fuzz: ANY composition of the six binary operators,
    finished with the statement-level dedup (RemoveDuplicates runs on
    every QUERY result, query.cc:137-156), must match the transcribed
    merge loops composed the same way."""
    df, model = _eval_tree(spark, tree)
    got = collected(sa.dedup(df, use_max=use_max))
    want = sorted(ref.dedup(model, use_max))
    assert got == want


# --- extended fuzz: unary ops, score filters, and RANDOM_SAMPLE ------

_UNARY = ["negate", "max", "min"]
_FILTER_OPS = ["eq", "gt", "ge", "lt", "le", "range"]

_full_tree_st = st.recursive(
    st.integers(0, 2**31 - 1),
    lambda kids: st.one_of(
        st.tuples(st.sampled_from(_OPS), kids, kids),
        st.tuples(st.sampled_from(_UNARY), kids),
        st.tuples(st.just("filter"), st.sampled_from(_FILTER_OPS),
                  st.integers(-5, 14), st.integers(-5, 14), kids),
        st.tuples(st.just("sample"), st.integers(0, 20), kids)),
    max_leaves=5)


def _filter_model(rows, op, v, v2):
    if op == "range":
        lo, hi = sorted((v, v2))          # reference swaps bounds
        return [(d, s) for d, s in rows if lo <= s <= hi]
    import operator as _op
    f = {"eq": _op.eq, "gt": _op.gt, "ge": _op.ge,
         "lt": _op.lt, "le": _op.le}[op]
    return [(d, s) for d, s in rows if f(s, v)]


def _sample_model(rows, n, seed=1234):
    ranked = sorted(rows, key=lambda p: (
        (p[0] * 2654435761 + seed) % 4294967296, p[0], p[1]))
    return ranked[:n]


def _eval_full(spark, node):
    if isinstance(node, int):
        p = make_postings(random.Random(node))
        return to_df(spark, p), p
    if node[0] == "filter":
        _, op, v, v2, kid = node
        df, model = _eval_full(spark, kid)
        return (sa.score_filter(df, op, float(v), float(v2)),
                canon(_filter_model(model, op, v, v2)))
    if node[0] == "sample":
        _, n, kid = node
        df, model = _eval_full(spark, kid)
        return sa.sample(df, n), canon(_sample_model(model, n))
    if node[0] == "negate":
        df, model = _eval_full(spark, node[1])
        return sa.negate(df), canon([(d, -s) for d, s in model])
    if node[0] in ("max", "min"):
        df, model = _eval_full(spark, node[1])
        use_max = node[0] == "max"
        return (sa.dedup(df, use_max=use_max),
                canon(ref.dedup(model, use_max)))
    op, l, r = node                     # the six binary ops
    ldf, lref = _eval_full(spark, l)
    rdf, rref = _eval_full(spark, r)
    if op == "union":
        return sa.union_or(ldf, rdf), canon(ref.union(lref, rref))
    if op == "intersect":
        return sa.intersect_and(ldf, rdf), canon(ref.intersect(lref, rref))
    if op == "subtract":
        return sa.subtract(ldf, rdf), canon(ref.subtract(lref, rref))
    if op == "theta_gt":
        return sa.theta_join(ldf, rdf, "gt"), canon(ref.theta(lref, rref,
                                                              "gt"))
    if op == "theta_lt":
        return sa.theta_join(ldf, rdf, "lt"), canon(ref.theta(lref, rref,
                                                              "lt"))
    return sa.order_by(ldf, rdf), canon(ref.order_by(lref, rref))


@settings(max_examples=10, deadline=None)
@given(tree=_full_tree_st)
def test_random_ast_full_operator_set_matches_model(spark, tree):
    """Extends the composition fuzz to the COMPLETE compiled operator
    set: score predicates F1-F4 (incl. the range bound swap), negate's
    score flip, MAX()/MIN() dedup, and the deterministic
    Knuth-multiplicative RANDOM_SAMPLE (whose hash rank is pure integer
    arithmetic, modeled exactly)."""
    df, model = _eval_full(spark, tree)
    assert collected(df) == sorted(model)
