"""End-to-end QUERY statement tests: JSON envelope, overrides,
external-document expansion, thresholds headers."""

import pytest

from cantera_table_spark.engine import Engine
from cantera_table_spark.model import Catalog


def dataframe_class(spark):
    """The class whose methods actions run through: pyspark's
    ``DataFrame`` is an API base that the classic DataFrame subclass
    overrides, so a test patching the base would patch nothing."""
    return type(spark.range(0))


@pytest.fixture()
def catalog(spark):
    postings = spark.createDataFrame(
        [("alpha", 0, 2.0), ("alpha", 1, 1.0), ("alpha", 2, 5.0),
         ("beta", 1, 4.0), ("beta", 2, 1.0),
         ("name:example.com", 0, 0.0), ("name:other.org", 2, 0.0),
         ("days", 0, 19000.0), ("days", 1, 19010.0), ("days", 2, 19020.0)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame(
        [(0, "d0", '{"title":"zero","rank":3}'),
         (1, "d1", '{"title":"one"}'),
         (2, "d2", '{"title":"two","rank":9}')],
        "doc_id long, key string, doc string")
    overrides = spark.createDataFrame(
        [("d1", '{"title":"ONE-PATCHED","extra":true}')],
        "key string, doc string")
    return Catalog(summaries=[docs], indexes=[postings],
                   overrides=[overrides],
                   keyword_meta=[("days", "timestamped")])


def test_envelope_and_override_patching(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    res = eng.execute_script("QUERY (alpha) LIMIT 2;")[0]
    assert res["result-count"] == 3
    assert [r["_key"] for r in res["result"]] == ["d2", "d0"]
    assert res["result"][0]["title"] == "two"

    res = eng.execute_script("QUERY (beta) LIMIT 1;")[0]
    # doc 1 (score 4) tops; its override patches title and adds a field
    r = res["result"][0]
    assert r["_key"] == "d1" and r["title"] == "ONE-PATCHED"
    assert r["extra"] is True


def test_keys_only_and_offset_beyond(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    assert eng.execute_script(
        "QUERY KEYS FOR (alpha) LIMIT 2;")[0] == ["d2", "d0"]
    assert eng.execute_script("QUERY (alpha) LIMIT 2 OFFSET 99;")[0] == []


def test_count_mode_envelopes(spark, catalog):
    """One result-count rule, the reference's: every envelope carries
    the exact count, and no setting switches it off."""
    from cantera_table_spark.dsl.parser import parse_query, parse_script

    eng = Engine(catalog, unique_postings=True)
    assert eng.execute_script("QUERY (alpha) LIMIT 2;")[0] == {
        "result-count": 3,
        "result": [{"_key": "d2", "title": "two", "rank": 9},
                   {"_key": "d0", "title": "zero", "rank": 3}]}

    for mode in ("none", "exact"):
        with pytest.raises(TypeError):
            Engine(catalog, unique_postings=True, count_mode=mode)
        with pytest.raises(TypeError):
            eng.query_stmt(parse_script("QUERY (alpha) LIMIT 2;")[0],
                           count_mode=mode)
    with pytest.raises(TypeError):
        eng.query_df(parse_query("alpha"), compiler=eng._compiler())


def test_limit_zero_keeps_envelope_in_all_modes(spark, catalog):
    """LIMIT 0 over a non-empty result at offset 0 is an empty PAGE, not
    an empty RESULT: it returns {result-count, result: []}, not the
    bare [] the reference prints only when offset >= result size
    (query.cc:795-798)."""
    exact = Engine(catalog, unique_postings=True).execute_script(
        "QUERY (alpha) LIMIT 0;")[0]
    assert exact == {"result-count": 3, "result": []}


def test_exact_count_edge_cases(spark, catalog):
    """A QUERY counts inside the page job; every way a page can be
    empty, partial or unbounded keeps the reference's envelope."""
    eng = Engine(catalog, unique_postings=True)

    def run(text):
        return eng.execute_script(text)[0]

    def keys(env):
        return [r["_key"] for r in env["result"]]

    assert run("QUERY (alpha) LIMIT 0 OFFSET 3;") == []
    # empty results: absent keyword, AND with an empty rhs
    assert run("QUERY (nosuchword) LIMIT 5;") == []
    assert run("QUERY (alpha AND nosuchword) LIMIT 5;") == []
    assert run("QUERY (alpha) LIMIT 5 OFFSET 3;") == []
    # an under-full page still reports the whole result
    env = run("QUERY (alpha) LIMIT 2 OFFSET 1;")
    assert env["result-count"] == 3 and keys(env) == ["d0", "d1"]
    # no LIMIT (-1): the page holds the rest of the result
    env = run("QUERY (alpha);")
    assert env["result-count"] == 3 and keys(env) == ["d2", "d0", "d1"]
    env = run("QUERY (alpha) OFFSET 1;")
    assert env["result-count"] == 3 and keys(env) == ["d0", "d1"]
    assert run("QUERY (alpha) OFFSET 3;") == []


def test_exact_page_overrides_and_field_in_headers(spark, catalog):
    """Summaries fetched by doc_id still merge override bodies and the
    FIELD-in headers of the same page."""
    blob = "{Section One} www.example.com"
    eng = Engine(catalog, unique_postings=True,
                 blob_fetcher=lambda key: blob)
    env = eng.execute_script("QUERY (name-in:someblob OR beta) LIMIT 10;")[0]
    assert env["result-count"] == 3
    by_key = {r["_key"]: r for r in env["result"]}
    assert by_key["d0"]["_header"] == "Section One"
    assert by_key["d0"]["_header_key"] == "000000"
    assert by_key["d1"]["title"] == "ONE-PATCHED" and by_key["d1"]["extra"]
    assert "_header" not in by_key["d1"] and "_header" not in by_key["d2"]


def test_duplicate_summary_rows_keep_one_object_each(spark, catalog):
    """A doc_id with two summary rows gives two result objects at its
    page position, as a left join of the page to the summaries would."""
    extra = spark.createDataFrame([(1, "d1b", '{"title":"uno"}')],
                                  "doc_id long, key string, doc string")
    cat = Catalog(summaries=catalog.summaries + [extra],
                  indexes=catalog.indexes, overrides=catalog.overrides)
    env = Engine(cat, unique_postings=True).execute_script(
        "QUERY (alpha) LIMIT 3;")[0]
    assert env["result-count"] == 3
    got = env["result"]
    assert [r["_key"] for r in got[:2]] == ["d2", "d0"]
    assert sorted((r["_key"], r["title"]) for r in got[2:]) == [
        ("d1", "ONE-PATCHED"), ("d1b", "uno")]
    assert Engine(cat, unique_postings=True).execute_script(
        "QUERY KEYS FOR (beta) LIMIT 1;")[0] in (["d1", "d1b"],
                                                ["d1b", "d1"])
    # a dump-all page counts result rows, not result objects
    env = Engine(cat, unique_postings=True
                 ).execute_script("QUERY (alpha);")[0]
    assert env["result-count"] == 3 and len(env["result"]) == 4


def test_exact_mode_never_caches_or_counts(spark, catalog, monkeypatch):
    """With LIMIT > 0 (or no LIMIT) a QUERY takes its result-count
    from the page job: no DataFrame.cache, no separate count job."""
    DataFrame = dataframe_class(spark)

    def poison(name):
        def fail(self, *a, **k):
            raise AssertionError(f"a counted page must not call {name}")
        return fail

    eng = Engine(catalog, unique_postings=True)
    monkeypatch.setattr(DataFrame, "cache", poison("cache"))
    monkeypatch.setattr(DataFrame, "persist", poison("persist"))
    monkeypatch.setattr(DataFrame, "count", poison("count"))
    env = eng.execute_script("QUERY (alpha) LIMIT 2;")[0]
    assert env["result-count"] == 3
    assert eng.execute_script("QUERY (alpha) OFFSET 2;")[0][
        "result-count"] == 3
    assert eng.execute_script(
        "QUERY (alpha) THRESHOLDS 0,3,6 FOR KEY 'alpha' LIMIT 1;")[0][
        "result-count"] == 3


def test_threshold_headers_numeric_and_date(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    res = eng.execute_script(
        "QUERY (alpha) THRESHOLDS 0,3,6 FOR KEY 'alpha' LIMIT 10;")[0]
    headers = {r["_key"]: (r["_header"], r["_header_key"])
               for r in res["result"]}
    assert headers["d0"] == ("0–3", "AAAAB")
    assert headers["d2"] == ("3–6", "AAAAC")

    # timestamped key -> date-formatted headers (X2)
    res = eng.execute_script(
        "QUERY (alpha) THRESHOLDS 18990,19015,19030 FOR KEY 'days' "
        "LIMIT 10;")[0]
    hdrs = {r["_key"]: r["_header"] for r in res["result"]}
    # day 18990 = 1970-01-01 + 18990d = December 2021
    assert hdrs["d0"].startswith("December") and "–" in hdrs["d0"]
    assert hdrs["d2"].startswith("January")


def test_external_expansion_with_fake_fetcher(spark, catalog):
    """S3 FIELD-in:KEY (query.cc:222-305) with an injected blob."""
    blob = "{Section One} www.example.com junk...\nother.org trailing"
    eng = Engine(catalog, unique_postings=True,
                 blob_fetcher=lambda key: blob)
    res = eng.execute_script("QUERY (name-in:someblob) LIMIT 10;")[0]
    keys = {r["_key"] for r in res["result"]}
    assert keys == {"d0", "d2"}
    by_key = {r["_key"]: r for r in res["result"]}
    # example.com carried the "{Section One}" header
    assert by_key["d0"]["_header"] == "Section One"
    assert by_key["d0"]["_header_key"] == "000000"
    # other.org appeared after the header section ended -> same header
    # state per reference semantics (header persists until next '{')
    assert "_header" in by_key["d2"]


def test_parse_statement_echo(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    out = eng.execute_script("PARSE MAX(alpha) ORDER BY beta;")[0]
    assert out == "(MAX(alpha) ORDER BY beta)"


def test_f32_score_fidelity(spark):
    """SURVEY.md §7 hard-item 3: float32 quantization mode.  The value
    1.00000012 is representable in float32; 1.000000121 is not — in
    fidelity mode both compare equal to the stored float32."""
    f64 = 1.000000121            # rounds to 1.00000012f in float32
    postings = spark.createDataFrame(
        [("q", 0, f64)], "keyword string, doc_id long, score double")
    docs = spark.createDataFrame([(0, "d0", "{}")],
                                 "doc_id long, key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings])

    import struct
    f32 = struct.unpack("f", struct.pack("f", f64))[0]

    eng64 = Engine(cat, unique_postings=True)
    eng32 = Engine(cat, unique_postings=True, f32_scores=True)
    import cantera_table_spark.dsl.parser as P

    def score(eng):
        df = eng.query_df(P.parse_query("q"), limit=-1)
        return df.collect()[0].score

    assert score(eng64) == f64
    assert score(eng32) == f32 != f64


def test_golden_envelope_pagination(spark, catalog):
    """SURVEY.md §5(c): golden JSON envelopes for QUERY pagination —
    byte-stable serialized output across pages."""
    import json
    eng = Engine(catalog, unique_postings=True)
    page1 = eng.execute_script("QUERY (alpha) LIMIT 2;")[0]
    page2 = eng.execute_script("QUERY (alpha) LIMIT 2 OFFSET 2;")[0]
    assert json.dumps(page1, sort_keys=True) == (
        '{"result": [{"_key": "d2", "rank": 9, "title": "two"}, '
        '{"_key": "d0", "rank": 3, "title": "zero"}], "result-count": 3}')
    assert json.dumps(page2, sort_keys=True) == (
        '{"result": [{"_key": "d1", "extra": true, '
        '"title": "ONE-PATCHED"}], "result-count": 3}')


def test_export_results_distributed_json(spark, catalog):
    """Distributed full-result export must agree with the collected
    envelope objects (same keys, same merged fields) without any
    driver-side assembly."""
    import json
    from cantera_table_spark.dsl.parser import parse_query
    eng = Engine(catalog, unique_postings=True)
    out = {r.doc_id: json.loads(r.result_json)
           for r in eng.export_results(parse_query("alpha")).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["_key"] == "d0" and out[0]["title"] == "zero"
    # override patch for d1 appended after the base body -> later key
    # wins when parsed (reference client contract)
    assert out[1]["title"] == "ONE-PATCHED" and out[1]["extra"] is True


def test_concurrent_statement_execution(spark, catalog):
    """Four threads sharing one Engine must get independent, correct
    results (Spark job submission is thread-safe; the engine holds no
    per-query mutable state)."""
    from concurrent.futures import ThreadPoolExecutor
    eng = Engine(catalog, unique_postings=True)
    scripts = ["QUERY KEYS FOR (alpha) LIMIT 3;",
               "QUERY KEYS FOR (beta) LIMIT 3;",
               "QUERY KEYS FOR (alpha - beta) LIMIT 3;",
               "QUERY KEYS FOR (alpha AND beta) LIMIT 3;"]
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(
            lambda s: eng.execute_script(s)[0], scripts))
    assert results[0] == ["d2", "d0", "d1"]
    assert results[1] == ["d1", "d2"]
    assert results[2] == ["d0"]
    assert results[3] == ["d2", "d1"]


# --- fuzz: unique-postings shuffle elision == general path + dedup ---

import random

from hypothesis import given, settings, strategies as st

from cantera_table_spark.dsl import ast as A
from cantera_table_spark.dsl.compiler import QueryCompiler

_KW = ["kwa", "kwb", "kwc"]

_ast_st = st.recursive(
    st.sampled_from(_KW).map(A.Leaf),
    lambda q: st.one_of(
        st.tuples(st.sampled_from(["or", "and", "subtract", "orderby"]),
                  q, q).map(lambda t: A.Binary(t[0], t[1], t[2])),
        st.tuples(st.sampled_from(["gt", "lt"]), q, q)
        .map(lambda t: A.Binary(t[0], t[1], t[2])),
        st.tuples(st.sampled_from(["eq", "gt", "ge", "lt", "le"]), q,
                  st.integers(-2, 9))
        .map(lambda t: A.Binary(t[0], t[1], None, value=float(t[2]))),
        st.tuples(q, st.integers(-2, 9), st.integers(-2, 9))
        .map(lambda t: A.Binary("range", t[0], None, value=float(t[1]),
                                value2=float(t[2]))),
        st.tuples(q, st.integers(0, 9))
        .map(lambda t: A.Binary("sample", t[0], None,
                                value=float(t[1]))),
        st.tuples(st.sampled_from(["max", "min", "negate"]), q)
        .map(lambda t: A.Unary(t[0], t[1]))),
    max_leaves=5)


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(tree=_ast_st, seed=st.integers(0, 999), use_max=st.booleans())
def test_unique_elision_fuzz_matches_general_path(spark, tree, seed,
                                                  use_max):
    """The unique_postings compiler promise (every operator preserves
    at-most-one-row-per-doc, so the statement-level dedup shuffle is
    elided, compiler.py process_query) must be semantics-preserving for
    ANY composed query over a duplicate-free index: the unique path's
    result equals the general path's, and is itself duplicate-free."""
    rng = random.Random(seed)
    rows = [(k, d, float(rng.randrange(-2, 10)))
            for k in _KW for d in range(12) if rng.random() < 0.7]
    if not rows:
        rows = [("kwa", 0, 1.0)]
    postings = spark.createDataFrame(
        rows, "keyword string, doc_id long, score double")
    docs = spark.createDataFrame([(d, f"d{d}", "{}") for d in range(12)],
                                 "doc_id long, key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings])
    uniq = QueryCompiler(cat, unique_postings=True)
    gen = QueryCompiler(cat, unique_postings=False)
    got_u = sorted(tuple(r) for r in
                   uniq.process_query(tree, use_max=use_max).collect())
    got_g = sorted(tuple(r) for r in
                   gen.process_query(tree, use_max=use_max).collect())
    assert got_u == got_g
    assert len({d for d, _ in got_u}) == len(got_u)   # duplicate-free


def test_multi_override_tables_merge_one_row_per_key(spark):
    """r9 review finding: a key present in SEVERAL override tables (or
    streamed correction batches) must patch as ONE page row with every
    body applied in table order (later wins — the reference appends all
    bodies and the client's JSON last-key-wins resolves:
    query.cc:862-890), never multiply the page/export rows."""
    postings = spark.createDataFrame(
        [("alpha", 0, 2.0), ("alpha", 1, 1.0)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame(
        [(0, "d0", '{"title":"zero","rank":3}'), (1, "d1", '{}')],
        "doc_id long, key string, doc string")
    ov1 = spark.createDataFrame(
        [("d0", '{"title":"patch-1","first":1}')], "key string, doc string")
    ov2 = spark.createDataFrame(
        [("d0", '{"title":"patch-2","second":2}')], "key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings],
                  overrides=[ov1, ov2])
    eng = Engine(cat, unique_postings=True)
    res = eng.execute_script("QUERY (alpha) LIMIT 2;")[0]
    # exactly two rows (LIMIT respected, no join multiplication) and
    # the count agrees with the materialized result
    assert res["result-count"] == 2 and len(res["result"]) == 2
    r0 = next(r for r in res["result"] if r["_key"] == "d0")
    # later table wins on the collision; both non-colliding fields land
    assert r0["title"] == "patch-2"
    assert r0["first"] == 1 and r0["second"] == 2
    assert r0["rank"] == 3                      # base summary retained
    # export: one line per doc, both bodies appended in table order
    import json as _json
    lines = {r.doc_id: r.result_json
             for r in eng.export_results(
                 __import__("cantera_table_spark.dsl.parser",
                            fromlist=["parse_query"])
                 .parse_query("alpha")).collect()}
    assert len(lines) == 2
    obj = _json.loads(lines[0])
    assert obj["title"] == "patch-2" and obj["first"] == 1 \
        and obj["second"] == 2


def test_override_breaks_at_first_missing_table(spark):
    """Reference parity (query.cc:876-877): the override walk BREAKS at
    the first table lacking the key — a later table's body applies only
    when every earlier table contains the key, and a key absent from
    table 0 gets no override at all.  Empty bodies still count as 'key
    present' for the walk (the seek succeeds regardless of payload)."""
    postings = spark.createDataFrame(
        [("alpha", i, float(10 - i)) for i in range(4)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame(
        [(i, f"d{i}", '{"base":true}') for i in range(4)],
        "doc_id long, key string, doc string")
    # d0: in both tables -> both apply; d1: only in table 0 -> applies;
    # d2: only in table 1 -> break at table 0, NO override;
    # d3: empty body in table 0, real body in table 1 -> table 1 applies
    ov1 = spark.createDataFrame(
        [("d0", '{"a":1}'), ("d1", '{"b":2}'), ("d3", '{}')],
        "key string, doc string")
    ov2 = spark.createDataFrame(
        [("d0", '{"c":3}'), ("d2", '{"x":9}'), ("d3", '{"d":4}')],
        "key string, doc string")
    cat = Catalog(summaries=[docs], indexes=[postings],
                  overrides=[ov1, ov2])
    eng = Engine(cat, unique_postings=True)
    res = eng.execute_script("QUERY (alpha) LIMIT 4;")[0]
    by_key = {r["_key"]: r for r in res["result"]}
    assert by_key["d0"].get("a") == 1 and by_key["d0"].get("c") == 3
    assert by_key["d1"].get("b") == 2
    assert "x" not in by_key["d2"]           # break-at-first-miss
    assert by_key["d3"].get("d") == 4        # empty body keeps the walk


def test_random_sample_survives_huge_doc_ids(spark):
    """r9 review finding (confirmed live): doc_id * 2654435761 threw
    ARITHMETIC_OVERFLOW under default ANSI mode for doc_id >= ~3.47e9
    — any corpus past ~3.5B documents crashed every RANDOM_SAMPLE.
    The split hash must (a) not throw on huge ids and (b) stay
    value-identical to (doc_id*K + seed) mod 2^32 everywhere."""
    import cantera_table_spark.operators.set_algebra as sa
    ids = [0, 1, 65535, 65536, 3_470_000_000, 3_500_000_000,
           2**32 - 1, 2**32, 2**40 + 12345, 2**62 + 7]
    df = spark.createDataFrame([(d, float(i)) for i, d in enumerate(ids)],
                               "doc_id long, score double")
    got = {r.doc_id for r in sa.sample(df, 4).collect()}
    model = sorted(ids, key=lambda d: ((d * 2654435761 + 1234) % 2**32,
                                       d))[:4]
    assert got == set(model)


def test_r11_core_review_engine_pins(spark, catalog, monkeypatch):
    """r11 core-path review findings, pinned: (a) KEYS FOR never runs
    a count job, though every QUERY envelope is counted (its output
    carries no result-count; the offset-beyond-total bare [] falls out
    of the empty page); (b) a catalog mixing BUCKETED and unbucketed index
    tables returns postings from both on a plain lookup (the bucket
    prune filter is null-safe — a bare equality silently dropped every
    NULL-bucket row of the unbucketed table)."""
    DataFrame = dataframe_class(spark)
    from pyspark.sql import functions as F

    from cantera_table_spark.model import bucket_expr

    eng = Engine(catalog, unique_postings=True)
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: (_ for _ in ()).throw(
            AssertionError("KEYS FOR must not run a count job")))
    assert eng.execute_script(
        "QUERY KEYS FOR (alpha) LIMIT 2;")[0] == ["d2", "d0"]
    assert eng.execute_script(
        "QUERY KEYS FOR (alpha) LIMIT 2 OFFSET 99;")[0] == []
    monkeypatch.undo()

    bucketed = spark.createDataFrame(
        [("alpha", 10, 9.0), ("beta", 11, 1.0)],
        "keyword string, doc_id long, score double").withColumn(
        "bucket", bucket_expr(F.col("keyword"), 16))
    plain = spark.createDataFrame(
        [("alpha", 20, 7.0)],
        "keyword string, doc_id long, score double")
    cat = Catalog(summaries=catalog.summaries,
                  indexes=[bucketed, plain], postings_buckets=16)
    from cantera_table_spark.dsl.parser import parse_query
    res = Engine(cat, unique_postings=True).query_df(parse_query("alpha"))
    assert {(r.doc_id, r.score) for r in res.collect()} == \
        {(10, 9.0), (20, 7.0)}


# Run in its own process: task retries need a ``local[threads,
# maxFailures]`` master, which a session cannot change once started.
_RETRY_SCRIPT = r'''
import json
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from cantera_table_spark.engine import Engine
from cantera_table_spark.model import Catalog

spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
postings = spark.range(0, 4000, 1, 4).select(
    F.lit("alpha").alias("keyword"), F.col("id").alias("doc_id"),
    (F.col("id") % 97).cast("double").alias("score"))
docs = spark.range(4000).select(
    F.col("id").alias("doc_id"), F.format_string("d%d", "id").alias("key"),
    F.lit("{}").alias("doc"))


@F.udf("double")
def first_attempt_fails(score, doc_id):
    # late in each 1000-row partition, so a failed attempt has already
    # passed most of its rows through the observer
    if TaskContext.get().attemptNumber() == 0 and doc_id % 1000 == 950:
        raise RuntimeError("injected first-attempt failure")
    return score


flaky = postings.withColumn(
    "score", first_attempt_fails("score", "doc_id"))
sc = spark.sparkContext
out = {}
for name, index in (("clean", postings), ("flaky", flaky)):
    sc.setJobGroup(name, name)
    eng = Engine(Catalog(summaries=[docs], indexes=[index]),
                 unique_postings=True)
    out[name] = eng.execute_script("QUERY (alpha) LIMIT 5;")[0]
sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
tracker = sc.statusTracker()
out["failed_tasks"] = sum(
    tracker.getStageInfo(sid).numFailedTasks
    for jid in tracker.getJobIdsForGroup("flaky")
    for sid in tracker.getJobInfo(jid).stageIds)
print(json.dumps(out))
spark.stop()
'''


@pytest.mark.slow
def test_exact_count_survives_task_retries():
    """The exact count comes from an observer in the page job's result
    stage, where Spark applies each partition's accumulator update once:
    when every task fails its first attempt part-way and is retried,
    result-count and page equal those of a run without failures."""
    import json
    import os
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT], cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed_tasks"] >= 4      # every page-job task retried
    assert out["clean"]["result-count"] == 4000
    assert out["flaky"] == out["clean"]
