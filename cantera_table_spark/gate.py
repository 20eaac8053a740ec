"""Correctness-gate query registry.

Every entry pairs a Spark implementation (through the engine's public
operators — the DSL path wherever the reference had an equivalent) with
a DuckDB oracle SQL string that reproduces the same semantics on the
same parquet tables (driver contract, __spark_entry__.py).

Column names are aligned on both sides; float aggregates that could
differ in last-ulp accumulation order are rounded identically on both
sides.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cantera_table_spark.engine import Engine
from cantera_table_spark.dsl.parser import parse_script, parse_query
from cantera_table_spark.model import load_table, testdata_catalog
from cantera_table_spark.session import CacheScope

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (must mirror model.derive_* exactly)
# ---------------------------------------------------------------------------

ORACLE_POSTINGS = """
WITH toks AS (
  SELECT d.doc_id, t.tok AS keyword
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
),
postings AS (
  SELECT keyword, doc_id, count(*)::DOUBLE AS score FROM toks GROUP BY 1, 2
),
labels AS (
  SELECT 'lang:' || lang AS keyword, doc_id, 0.0::DOUBLE AS score
    FROM documents
  UNION ALL
  SELECT 'src:' || source, doc_id, 0.0::DOUBLE FROM documents
  UNION ALL
  SELECT 'len:chars', doc_id, n_chars::DOUBLE FROM documents
),
idx AS (SELECT * FROM postings UNION ALL SELECT * FROM labels)
"""

# Hybrid-retrieval candidate-list contract (ir02/ir03): the keyword
# ranking is cut to this many docs through TakeOrderedAndProject
# BEFORE the single-partition rank window — at 100 TB a hot keyword
# must never push a corpus-sized list through one task (r10 verdict).
# The vector side's bound is the ANN k (=100).
KW_CANDIDATES = 1000

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def gate(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


# The external driver's correctness harness checks the FIRST 50 entries of
# queries() in iteration order.  Decoration order in this file is historical
# (oldest gates first), which left every gate registered past position 50
# permanently outside the driver's window.  _DRIVER_ORDER pins the window
# explicitly; tools/rotate_window.py regenerates it each round from the
# CORRECTNESS_r*.json history (never-checked gates first, then stalest,
# then a cross-family sentinel band).  Round-13 rotation: the r12
# verdict explicitly requires a driver row for every gate whose
# operator was REWRITTEN in round 12 but rotated out of the r12 window
# (tx10, tx15, dd11, dd16, dd14, dd07, dd12, dd13, tx08), plus ml01
# (training semantics changed in the inherited partial round) and the
# four r12-dropped sentinels (x02, p01, set01, st04).  Those 14 pins
# come first; the 7-gate cross-family sentinel band stays; the
# remaining 29 slots take the stalest gates (last driver row r10) in
# tools/rotate_window.py priority order.  Eight r10-stale gates defer
# to a future rotation: mm03, dp01, sk01, mm04, tx09, dd09, st03,
# mm07 (all long-green, locally swept by tools/check_gate.py).
_DRIVER_ORDER = [
    # verdict-required pins (operators rewritten in r12 / semantics
    # changed; last driver row r11 or older)
    "tx10_lm_score",
    "tx15_ppl_buckets",
    "dd11_repeated_spans",
    "dd16_cut_spans",
    "dd14_incremental_dedup",
    "dd07_lsh_jaccard",
    "dd12_dedup_apply",
    "tx08_repetition",
    "ml01_logreg_quality",
    "x02_export_results",
    "p01_parse_echo",
    "set01_session_state",
    "st04_stream_sessionize",
    # stalest band (last driver row r10), rotate_window.py order
    "dd03_ngram_jaccard",
    "dd08_jaccard_stopshingle",
    "dd04_simhash",
    "tx01_text_stats",
    "tx02_token_counts",
    "tx03_lang_id",
    "tx04_fingerprint",
    "sim01_brute_topk",
    "sim02_ivf_topk",
    "sim06_ivf_partitioned",
    "mm05_frame_sample",
    "dd05_embedding_neardup",
    "mm01_decode_media",
    "a06_posting_counts",
    "ts05_prediction_bands",
    "ts06_band_outliers",
    "q16_uri_decode",
    "x01_date_days",
    "q17_external_expansion",
    "ts07_union_merge",
    "q18_override_patch",
    "q19_keys_for",
    "f32_01_score_fidelity",
    "cat01_multi_table",
    "tx07_corpus_stats",
    "in02_tsv_timeseries",
    "st01_stream_ingest",
    "st02_stream_windowed_rollup",
    "sim05_hyperplane_sig",
    "mm02_decode_bmp",
    # cross-family sentinel band (driver-green r12; dd13 is also a
    # verdict-required pin — it rides in the band)
    "q01_and",
    "corr01_feature_mining",
    "tpch_q3_revenue",
    "dd13_dedup_pipeline",
    "f32_02_threshold_fidelity",
    "in01_tsv_postings",
    "dp02_dump_timeseries",
]
# Gates outside the window this round (all driver-green in r8-r10)
# follow in decoration order and stay covered by tools/check_gate.py's
# full local sweep.  Freshness target: see the header comment above
# the list.


# Frames Spark-cached inside gate bodies (connected-component labels,
# quantized embedding tables, CORRELATE class tables).  Gates return
# lazy DataFrames, so they cannot unpersist their own caches; they
# persist them through this scope, and every callable queries() returns
# releases it before building its frame, so at most one gate's caches
# are alive at a time even for a caller that never drains.  A sweep
# runner calls release_gate_caches() after materializing each gate
# (tools/check_gate.py) to free the last one too.
_GATE_CACHES = CacheScope()


def release_gate_caches() -> None:
    """Unpersist every cache registered by gate bodies since the last
    call.  Safe to call after each gate's collect()."""
    _GATE_CACHES.release()


def _ordered(names_to_vals: dict) -> dict:
    order = set(_DRIVER_ORDER)
    head = [n for n in _DRIVER_ORDER if n in names_to_vals]
    tail = [n for n in names_to_vals if n not in order]
    return {n: names_to_vals[n] for n in head + tail}


def _released(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_gate_caches()
        return fn(spark, sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _released(fn) for n, fn in _ordered(_QUERIES).items()}


def oracle_sql() -> dict[str, str]:
    return _ordered(_ORACLES)


_CATALOG_CACHE: dict[tuple[int, str], object] = {}


def _engine(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine over the testdata catalog; the derived postings are
    memoized and Spark-cached per (session, sf_dir) so a gate run's ~50
    queries tokenize the corpus once, not once each.  The Engine's
    CORRELATE intermediates go to the gate scope."""
    # applicationId, not id(spark): a new session can reuse a stopped
    # session's object address and would inherit dead cached plans
    key = (spark.sparkContext.applicationId, sf_dir)
    cat = _CATALOG_CACHE.get(key)
    if cat is None:
        cat = testdata_catalog(spark, sf_dir)
        # cache EVERY index table: slicing to [0] silently drops any
        # additional table's postings from all DSL gates (r11 review —
        # latent while testdata_catalog returns one index, but
        # cat01_multi_table-shaped catalogs are a supported surface)
        cat.indexes = [i.cache() for i in cat.indexes]
        _CATALOG_CACHE[key] = cat
    eng = Engine(cat, unique_postings=True)
    eng.caches = _GATE_CACHES
    return eng


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a narrow source for a CPU-bound Pandas-UDF stage.  The
    bench-SF parquet reads as a single split, which serializes the
    per-payload codec work onto one core; at corpus scale the source
    arrives pre-split and this is a no-op (repartitioning a 100 TB
    input in front of a map stage would be a pure-waste full shuffle,
    so the widening is gated on the actual split count)."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _dsl(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run one QUERY statement through parser+compiler, return the
    (doc_id, score) page DataFrame."""
    eng = _engine(spark, sf_dir)
    stmt = parse_script(text)[0]
    return eng.query_df(stmt.query, thresholds=stmt.thresholds,
                        limit=stmt.limit, offset=stmt.offset)


# ---------------------------------------------------------------------------
# Core search algebra (SURVEY.md §2.2-§2.6) — DSL end-to-end
# ---------------------------------------------------------------------------

@gate("q01_and", ORACLE_POSTINGS + """
SELECT p.doc_id, p.score FROM idx p
WHERE p.keyword = 'spark'
  AND EXISTS (SELECT 1 FROM idx q
              WHERE q.keyword = 'fast' AND q.doc_id = p.doc_id)
""")
def q01_and(spark, sf_dir):
    """J1: AND = left semi join keeping lhs scores (query.cc:96-125)."""
    return _dsl(spark, sf_dir, "QUERY (spark AND fast);")


@gate("q02_or", ORACLE_POSTINGS + """
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       coalesce(b.score, a.score) AS score
FROM (SELECT * FROM idx WHERE keyword = 'spark') a
FULL OUTER JOIN (SELECT * FROM idx WHERE keyword = 'fast') b
  ON a.doc_id = b.doc_id
""")
def q02_or(spark, sf_dir):
    """J2: OR = union with rhs precedence on collisions (query.cc:68-94)."""
    return _dsl(spark, sf_dir, "QUERY (spark OR fast);")


@gate("q03_subtract", ORACLE_POSTINGS + """
SELECT p.doc_id, p.score FROM idx p
WHERE p.keyword = 'spark'
  AND NOT EXISTS (SELECT 1 FROM idx q
                  WHERE q.keyword = 'fast' AND q.doc_id = p.doc_id)
""")
def q03_subtract(spark, sf_dir):
    """J3: a - b = left anti join (query.cc:358-392)."""
    return _dsl(spark, sf_dir, "QUERY (spark - fast);")


@gate("q04_score_filters", ORACLE_POSTINGS + """
SELECT doc_id, score FROM idx
WHERE keyword = 'spark' AND score > 1 AND score <= 4
""")
def q04_score_filters(spark, sf_dir):
    """F2/F3: literal score predicates (query.cc:459-505)."""
    return _dsl(spark, sf_dir, "QUERY (spark>1<=4);")


@gate("q05_eq_and_range", ORACLE_POSTINGS + """
SELECT doc_id, score FROM idx
WHERE keyword = 'spark' AND score BETWEEN 2 AND 5
""")
def q05_eq_and_range(spark, sf_dir):
    """F4: inclusive range with swapped bounds (query.cc:507-517)."""
    return _dsl(spark, sf_dir, "QUERY (spark[5,2]);")


@gate("q06_theta_join", ORACLE_POSTINGS + """
SELECT a.doc_id, a.score
FROM (SELECT * FROM idx WHERE keyword = 'spark') a
JOIN (SELECT * FROM idx WHERE keyword = 'fast') b ON a.doc_id = b.doc_id
WHERE a.score > b.score
""")
def q06_theta_join(spark, sf_dir):
    """J4: theta join on score (query.cc:139-164)."""
    return _dsl(spark, sf_dir, "QUERY (spark > fast);")


@gate("q07_order_by", ORACLE_POSTINGS + """
SELECT a.doc_id, d.n_chars::DOUBLE AS score
FROM (SELECT * FROM idx WHERE keyword = 'spark') a
JOIN documents d ON d.doc_id = a.doc_id
""")
def q07_order_by(spark, sf_dir):
    """J5: ORDER BY re-score (query.cc:519-547).  len:chars covers every
    doc, so the -inf fill never fires here (it is covered by unit
    tests); scores become n_chars."""
    return _dsl(spark, sf_dir, "QUERY (spark ORDER BY len:chars);")


@gate("q08_negate", ORACLE_POSTINGS + """
SELECT doc_id, -score AS score FROM idx
WHERE keyword = 'spark' AND -score BETWEEN -4 AND -2
""")
def q08_negate(spark, sf_dir):
    """F5 + F4: negate then range (query.cc:609-611)."""
    return _dsl(spark, sf_dir, "QUERY ((~spark)[-4,-2]);")


@gate("q09_min_dedup", ORACLE_POSTINGS + """
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       coalesce(b.score, a.score) AS score
FROM (SELECT * FROM idx WHERE keyword = 'spark') a
FULL OUTER JOIN (SELECT * FROM idx WHERE keyword = 'slow') b
  ON a.doc_id = b.doc_id
""")
def q09_min_dedup(spark, sf_dir):
    """A2: MIN() dedup mode (query.cc:595-607); identity on unique input
    (full dup semantics covered by tests/test_set_algebra.py)."""
    return _dsl(spark, sf_dir, "QUERY (MIN((spark OR slow)));")


@gate("q10_prefix_scan", ORACLE_POSTINGS + """
SELECT DISTINCT doc_id, 0.0::DOUBLE AS score FROM idx
WHERE keyword LIKE 's%' AND contains(lower(keyword), 'lo')
""")
def q10_prefix_scan(spark, sf_dir):
    """S2: in-KEY:PARAM prefix scan, scores zeroed (query.cc:306-352).
    Matches keywords starting 's' containing 'lo' ('slow', 'src:...')."""
    return _dsl(spark, sf_dir, "QUERY (in-s:lo);")


@gate("q11_summary_key", ORACLE_POSTINGS + """
SELECT doc_id, 0.0::DOUBLE AS score FROM documents
WHERE 'doc' || (CASE WHEN length(doc_id::VARCHAR) > 6 THEN doc_id::VARCHAR ELSE lpad(doc_id::VARCHAR, 6, '0') END) || '.example.com'
      = 'doc000042.example.com'
""")
def q11_summary_key(spark, sf_dir):
    """S4: KEY=name summary point lookup (query.cc:397-406)."""
    return _dsl(spark, sf_dir, "QUERY (KEY=doc000042.example.com);")


@gate("q12_thresholds", ORACLE_POSTINGS + """
SELECT k.doc_id, k.score
FROM (SELECT DISTINCT doc_id FROM idx WHERE keyword = 'spark') r
JOIN (SELECT doc_id, score FROM idx WHERE keyword = 'len:chars') k
  ON k.doc_id = r.doc_id
WHERE k.score >= 200 AND k.score < 500
""")
def q12_thresholds(spark, sf_dir):
    """F6: THRESHOLDS grouping filter — score replaced by the threshold
    key's score, range [min, max) (query.cc:749-793)."""
    return _dsl(spark, sf_dir,
                "QUERY (spark) THRESHOLDS 200,350,500 FOR KEY 'len:chars';")


@gate("q20_threshold_headers", ORACLE_POSTINGS + """
SELECT 'doc' || (CASE WHEN length(k.doc_id::VARCHAR) > 6
                 THEN k.doc_id::VARCHAR
                 ELSE lpad(k.doc_id::VARCHAR, 6, '0') END)
       || '.example.com' AS key,
       CASE WHEN k.score < 350 THEN '200–350' ELSE '350–500' END
         AS header,
       CASE WHEN k.score < 350 THEN 'AAAAB' ELSE 'AAAAC' END
         AS header_key
FROM (SELECT DISTINCT doc_id FROM idx WHERE keyword = 'spark') r
JOIN (SELECT doc_id, score FROM idx WHERE keyword = 'len:chars') k
  ON k.doc_id = r.doc_id
WHERE k.score >= 200 AND k.score < 500
ORDER BY k.score DESC, k.doc_id ASC
LIMIT 1000
""")
def q20_threshold_headers(spark, sf_dir):
    """THRESHOLDS group headers through the FULL envelope path
    (query.cc:893-927): bisect bucket selection with the
    equality-bumps-up quirk (score == a threshold lands in the upper
    bucket — mirrored by the oracle's strict '< 350' split),
    double_to_string endpoint rendering (X7) and base-26 _header_key
    (X8).  Previously pytest-only; this makes the envelope's header
    surface driver-verified."""
    eng = _engine(spark, sf_dir)
    env = eng.execute_script(
        "QUERY (spark) THRESHOLDS 200,350,500 FOR KEY 'len:chars' "
        "LIMIT 1000;")[0]
    # offset >= total (e.g. an empty index) returns the reference's
    # bare-[] form (query.cc:796-799), not an envelope dict.  The bare
    # form is ONLY ever empty in the reference; assert that so engine
    # drift (a non-empty bare list) fails loudly instead of silently
    # comparing an empty frame.
    if not isinstance(env, dict):
        assert env == [], f"bare non-dict envelope must be []: {env!r}"
    rows = [(r["_key"], r["_header"], r["_header_key"])
            for r in (env["result"] if isinstance(env, dict) else [])]
    return spark.createDataFrame(
        rows, "key string, header string, header_key string")


@gate("q13_topk_page", ORACLE_POSTINGS + """
SELECT a.doc_id, d.n_chars::DOUBLE AS score
FROM (SELECT * FROM idx WHERE keyword = 'spark') a
JOIN documents d ON d.doc_id = a.doc_id
ORDER BY score DESC, a.doc_id ASC
LIMIT 20 OFFSET 5
""")
def q13_topk_page(spark, sf_dir):
    """T1: top-k page with OFFSET (query.cc:795-807); doc_id tiebreak is
    this engine's documented determinism addition."""
    return _dsl(spark, sf_dir,
                "QUERY (spark ORDER BY len:chars) LIMIT 20 OFFSET 5;")


@gate("q14_random_sample", ORACLE_POSTINGS + """
SELECT doc_id, score FROM idx
WHERE keyword = 'spark'
ORDER BY (doc_id * 2654435761 + 1234) % 4294967296, doc_id
LIMIT 25
""")
def q14_random_sample(spark, sf_dir):
    """T3: deterministic sample (query.cc:549-568; seedable hash-order
    divergence documented in operators/set_algebra.py)."""
    return _dsl(spark, sf_dir, "QUERY (RANDOM_SAMPLE(spark, 25));")


@gate("q15_select_matrix", ORACLE_POSTINGS + """
SELECT sel.doc_id,
       'doc' || (CASE WHEN length(sel.doc_id::VARCHAR) > 6 THEN sel.doc_id::VARCHAR ELSE lpad(sel.doc_id::VARCHAR, 6, '0') END) || '.example.com' AS key,
       coalesce(ps.score, 'NaN'::DOUBLE) AS f_spark,
       CASE WHEN d.lang = 'en' THEN 1.0 ELSE 'NaN'::DOUBLE END AS f_en,
       coalesce(d.n_chars::DOUBLE, 'NaN'::DOUBLE) AS f_len
FROM (SELECT DISTINCT doc_id FROM idx
      WHERE keyword IN ('fast', 'slow')) sel
JOIN documents d ON d.doc_id = sel.doc_id
LEFT JOIN (SELECT doc_id, score FROM idx WHERE keyword = 'spark') ps
  ON ps.doc_id = sel.doc_id
""")
def q15_select_matrix(spark, sf_dir):
    """SELECT feature matrix (select.cc:80-154): NaN missing, all-zero
    keyword (lang:en) reports 1.0 presence."""
    eng = _engine(spark, sf_dir)
    return eng.select_df(
        [parse_query("spark"), parse_query("lang:en"),
         parse_query("len:chars")],
        parse_query("fast OR slow"),
        field_names=["f_spark", "f_en", "f_len"])


# ---------------------------------------------------------------------------
# Time-series layer (S7-S9, A3-A5, X2-X3) over events
# ---------------------------------------------------------------------------

@gate("ts01_daily_rollup", """
SELECT event_type AS key, date_trunc('day', ts)::TIMESTAMP AS day,
       count(*) AS n, round(sum(value), 3) AS total,
       round(min(value), 3) AS vmin, round(max(value), 3) AS vmax
FROM events GROUP BY 1, 2
""")
def ts01_daily_rollup(spark, sf_dir):
    """Time-series rollup: per-series daily aggregates (the engine-side
    analogue of ca-dump's time-series scan, ca-dump.cc:148-216)."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy(F.col("event_type").alias("key"),
                      F.date_trunc("day", "ts").alias("day"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 3).alias("total"),
                 F.round(F.min("value"), 3).alias("vmin"),
                 F.round(F.max("value"), 3).alias("vmax")))


@gate("ts02_merge_sum", """
SELECT event_type AS key, ts, round(sum(value), 3) AS value
FROM events GROUP BY 1, 2
""")
def ts02_merge_sum(spark, sf_dir):
    """A3: merge-mode SUM — same (key, offset) scores summed
    (ca-load.cc:490-494).  Shards are simulated by splitting on
    event_id parity and re-merging."""
    e = load_table(spark, sf_dir, "events")
    s1 = e.filter(F.col("event_id") % 2 == 0)
    s2 = e.filter(F.col("event_id") % 2 == 1)
    merged = s1.unionByName(s2)
    return (merged.groupBy(F.col("event_type").alias("key"), "ts")
            .agg(F.round(F.sum("value"), 3).alias("value")))


@gate("ts03_pick_one", """
SELECT key, day, value FROM (
  SELECT event_type AS key, date_trunc('day', ts)::TIMESTAMP AS day, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY event_id) AS rn
  FROM events) t
WHERE rn = 1
""")
def ts03_pick_one(spark, sf_dir):
    """A5: merge-mode PICK-ONE — first wins (ca-load.cc:482-489), 'first'
    defined by event_id order."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type",
                           F.date_trunc("day", "ts")).orderBy("event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("event_type").alias("key"),
                    F.date_trunc("day", "ts").alias("day"), "value"))


@gate("ts04_asof_prior", """
WITH first_purchase AS (
  SELECT user_id, min(ts) AS p_ts FROM events
  WHERE event_type = 'purchase' GROUP BY 1
)
SELECT e.event_id, e.user_id,
       (epoch_us(fp.p_ts) - epoch_us(e.ts)) AS age_us
FROM events e JOIN first_purchase fp ON fp.user_id = e.user_id
WHERE e.ts < fp.p_ts
""")
def ts04_asof_prior(spark, sf_dir):
    """A11: timestamp-aware feature filter — keep events strictly older
    than the outcome event, score = age delta (correlate.cc:360-462),
    re-expressed as a single-shuffle as-of window (see
    functions.timeseries.asof_prior for why not aggregate+join)."""
    from cantera_table_spark.functions.timeseries import asof_prior
    e = load_table(spark, sf_dir, "events")
    return (asof_prior(e, F.col("event_type") == "purchase")
            .select("event_id", "user_id",
                    (F.unix_micros("p_ts") -
                     F.unix_micros("ts")).alias("age_us")))


# ---------------------------------------------------------------------------
# Relational analytics over the TPC-H-ish star schema (bench headliners)
# ---------------------------------------------------------------------------

@gate("tpch_q1_pricing", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return (l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


@gate("tpch_q3_revenue", """
SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
       AS revenue, o.o_orderdate
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey LIMIT 10
""")
def tpch_q3_revenue(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # Reduce orders through the broadcast BUILDING-customer filter first
    # (~1/5 selectivity), so the expensive lineitem join shuffles only the
    # surviving orders rather than the full table.
    building_orders = o.join(
        F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
        o.o_custkey == F.col("c_custkey"))
    return (l.join(building_orders, l.l_orderkey == F.col("o_orderkey"))
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select("o_orderkey", "revenue", "o_orderdate")
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


@gate("tpch_q5_region_volume", """
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
       AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def tpch_q5_region_volume(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    dims = (s.join(F.broadcast(
        n.join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
               n.n_regionkey == F.col("r_regionkey"))),
        s.s_nationkey == F.col("n_nationkey")))
    # broadcast-reduce lineitem to ASIA-supplier rows (~1/|regions|)
    # BEFORE the orderkey sort-merge join — the shuffled lineitem side
    # shrinks ~5x, same reorder rationale as tpch_q3
    return (l.join(F.broadcast(dims), l.l_suppkey == dims.s_suppkey)
            .join(o, l.l_orderkey == o.o_orderkey)
            .join(c, (c.c_custkey == o.o_custkey) &
                  (c.c_nationkey == F.col("s_nationkey")))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@gate("ev01_user_running", """
SELECT event_id, user_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY ts NULLS FIRST, event_id) AS seq,
       round(sum(value) OVER (PARTITION BY user_id
             ORDER BY ts NULLS FIRST, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
       AS running_value
FROM events WHERE user_id < 50
""")
def ev01_user_running(spark, sf_dir):
    """Window functions (SURVEY.md §2.8 — the Spark-side analogue of the
    reference's prefix-sum scans).  Null ordering is EXPLICIT in the
    oracle: Spark ASC defaults to NULLS FIRST, DuckDB to NULLS LAST —
    a NULL-ts fixture row would silently renumber every seq after it.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("seq"),
        F.round(F.sum("value").over(wsum), 3).alias("running_value"))


# ---------------------------------------------------------------------------
# CORRELATE — supervised feature mining (correlate.cc; SURVEY.md §2.4 A8-A10)
# ---------------------------------------------------------------------------


# Shared CORRELATE mining-pipeline tail (kind detection -> cumulative
# split search -> range re-count -> support + rounded-cutoff filter):
# corr01 and corr02 differ only in how the class sets and the `k`
# feature table are built; the ~100-line tail INCLUDING the
# LOGIT_CUTOFF_R3 0.201 boundary lockstep must stay byte-identical on
# both, so it lives here exactly once (r11 review — two hand-synced
# copies drift silently until a sweep fails).
ORACLE_CORRELATE_TAIL = """
kind AS (
  SELECT keyword, max(abs(score)) > 0 AS continuous,
         count(cls) AS n_classes
  FROM k GROUP BY 1
),
classes AS (
  SELECT k.* FROM k JOIN kind USING (keyword)
  WHERE kind.continuous
    AND kind.n_classes >= (SELECT least(lim_a, lim_b) FROM params)
    AND k.cls IS NOT NULL
),
cum0 AS (
  SELECT keyword, score,
    count(*) FILTER (WHERE cls >= 0) OVER w AS cum_a,
    count(*) FILTER (WHERE cls <= 0) OVER w AS cum_b,
    count(*) OVER w AS cum_ab,
    count(*) FILTER (WHERE cls >= 0) OVER wt AS tot_a,
    count(*) FILTER (WHERE cls <= 0) OVER wt AS tot_b,
    count(*) OVER wt AS tot_ab
  FROM classes
  WINDOW w AS (PARTITION BY keyword ORDER BY score
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY keyword)
),
cum AS (SELECT DISTINCT * FROM cum0),
cand AS (
  SELECT *,
    CASE WHEN cum_a >= lim_a OR cum_b >= lim_b
         THEN abs(ln((cum_a + 1.0) / (cum_ab - cum_a + 1.0)) - prior)
         ELSE 0.0 END AS l_gain,
    CASE WHEN (tot_a - cum_a) >= lim_a OR (tot_b - cum_b) >= lim_b
         THEN abs(ln((tot_a - cum_a + 1.0) /
                     ((tot_ab - cum_ab) - (tot_a - cum_a) + 1.0)) - prior)
         ELSE 0.0 END AS r_gain
  FROM cum, params
),
cand2 AS (
  SELECT *, greatest(l_gain, r_gain) AS gain,
    lead(score) OVER (PARTITION BY keyword ORDER BY score) AS next_score,
    row_number() OVER (PARTITION BY keyword ORDER BY score) AS pos,
    count(*) OVER (PARTITION BY keyword) AS npos
  FROM cand
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY keyword
                                 ORDER BY gain DESC, score ASC) AS rk
    FROM cand2) t
  WHERE rk = 1
),
split AS (
  SELECT keyword,
         (pos > 1 AND pos < npos AND gain >= ln(1.05)) AS use_split,
         score AS mid, next_score
  FROM best
),
tasks AS (
  SELECT keyword, NULL::DOUBLE AS lo, NULL::DOUBLE AS hi FROM kind
    WHERE NOT continuous
  UNION ALL SELECT keyword, NULL, NULL FROM split WHERE NOT use_split
  UNION ALL SELECT keyword, NULL, mid FROM split WHERE use_split
  UNION ALL SELECT keyword, next_score, NULL FROM split WHERE use_split
),
counted AS (
  SELECT t.keyword, t.lo, t.hi,
    count(DISTINCT CASE WHEN cls = 1 THEN k.doc_id END) AS match_count_a,
    count(DISTINCT CASE WHEN cls = -1 THEN k.doc_id END) AS match_count_b
  FROM k JOIN tasks t ON t.keyword = k.keyword
  WHERE (t.lo IS NULL OR k.score >= t.lo)
    AND (t.hi IS NULL OR k.score <= t.hi)
  GROUP BY 1, 2, 3
)
SELECT round(ln((match_count_a + 1.0) / (match_count_b + 1.0)) - prior, 3)
         AS log_odds,
       match_count_a, match_count_b, keyword,
       lo AS min_score, hi AS max_score
FROM counted, params
WHERE (match_count_a >= lim_a OR match_count_b >= lim_b)
  -- rounded-boundary lockstep with correlate.py::LOGIT_CUTOFF_R3:
  -- the cutoff compares exact 3-decimal values, not the raw logit
  AND abs(round(ln((match_count_a + 1.0) / (match_count_b + 1.0)) - prior,
                3)) >= 0.201
  -- empty-class short-circuit in lockstep with correlate.cc:501 /
  -- correlate_sets: either class empty (B judged after the disjoint
  -- subtraction) -> NO output
  AND (SELECT count(*) FROM A) > 0
  AND (SELECT count(*) FROM B) > 0
"""


@gate("corr01_feature_mining", ORACLE_POSTINGS + """
, A AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en'),
B AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'es'
      AND doc_id NOT IN (SELECT doc_id FROM A)),
params AS (
  SELECT ln(((SELECT count(*) FROM A) + 1.0) /
            ((SELECT count(*) FROM B) + 1.0)) AS prior,
         greatest((SELECT count(*) FROM A) // 20, 1) AS lim_a,
         greatest((SELECT count(*) FROM B) // 20, 1) AS lim_b
),
kw_ok AS (
  SELECT keyword FROM idx GROUP BY 1
  HAVING count(*) >= (SELECT least(lim_a, lim_b) FROM params)
),
k AS (
  SELECT i.keyword, i.doc_id, i.score,
         CASE WHEN a.doc_id IS NOT NULL THEN 1
              WHEN b.doc_id IS NOT NULL THEN -1 END AS cls
  FROM idx i JOIN kw_ok USING (keyword)
  LEFT JOIN A a ON a.doc_id = i.doc_id
  LEFT JOIN B b ON b.doc_id = i.doc_id
),""" + ORACLE_CORRELATE_TAIL)
def corr01_feature_mining(spark, sf_dir):
    """A8-A10: CORRELATE QUERY (lang:en), (lang:es) — contingency counts,
    log-odds vs prior, min-support 5%, and single-split discretization of
    continuous features (correlate.cc:84-358)."""
    eng = _engine(spark, sf_dir)
    return eng.execute_script(
        "CORRELATE QUERY (lang:en), (lang:es);")[0]


# ---------------------------------------------------------------------------
# Training-data pipeline operators (north star: dedup, similarity search,
# text analysis, multimodal) — functions/{dedup,similarity,text,multimodal}
# ---------------------------------------------------------------------------

ORACLE_SHINGLES = """
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM arrs, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t(i)
)
"""


@gate("dd01_exact_dedup", """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
""")
def dd01_exact_dedup(spark, sf_dir):
    """Exact dedup: content-hash groupBy (map-side combinable)."""
    from cantera_table_spark.functions.dedup import exact_dedup
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@gate("dd02_minhash", ORACLE_SHINGLES + """
SELECT doc_id, i AS h_idx,
       min(((2 * i + 1) * (('0x' || substr(md5(shingle), 1, 8))::BIGINT)
            + 12345 * i + 1) % 4294967311) AS sig
FROM sh, unnest(range(0, 16)) AS h(i)
GROUP BY 1, 2
""")
def dd02_minhash(spark, sf_dir):
    """MinHash signatures (k=16) over 3-gram shingles; portable md5-based
    hash family so the oracle reproduces signatures bit-for-bit.
    r12: per-row fold + posexplode (zero shuffles) — bit-identical to
    the r11 groupBy form (tests/test_rowwise_rewrites.py)."""
    from cantera_table_spark.functions.dedup import (minhash_signature_rows,
                                                     shingle_arrays)
    arrs = shingle_arrays(load_table(spark, sf_dir, "documents"))
    return minhash_signature_rows(arrs, k=16)


@gate("dd03_ngram_jaccard", ORACLE_SHINGLES + """
, sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.12
""")
def dd03_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (threshold 0.12); shuffle only on
    shared shingles, never the full cross join."""
    from cantera_table_spark.functions.dedup import jaccard_pairs, shingles
    sh = shingles(load_table(spark, sf_dir, "documents"))
    return jaccard_pairs(sh, min_jaccard=0.12)


@gate("dd08_jaccard_stopshingle", ORACLE_SHINGLES + """
, sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 20),
ps AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ps a JOIN ps b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.12
""")
def dd08_jaccard_stopshingle(spark, sf_dir):
    """Stop-shingle-capped Jaccard (max_df=20): shingles above the
    document-frequency cap are excluded from pair formation — the
    boilerplate lever — while the per-doc sizes keep every shingle, so
    scores are lower bounds of dd03's.  The oracle replays the df
    filter exactly (pair shingles restricted, sizes unrestricted)."""
    from cantera_table_spark.functions.dedup import jaccard_pairs, shingles
    sh = shingles(load_table(spark, sf_dir, "documents"))
    return jaccard_pairs(sh, min_jaccard=0.12, max_df=20)


@gate("dd04_simhash", """
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
),
bits AS (
  SELECT doc_id, b.bit,
         sum((((('0x' || substr(md5(tok), 1, 8))::BIGINT >> b.bit) & 1)
              * 2 - 1)) AS s
  FROM toks, unnest(range(0, 32)) AS b(bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
         AS simhash
FROM bits GROUP BY 1
""")
def dd04_simhash(spark, sf_dir):
    """SimHash 32-bit signatures from distinct-token hash bits."""
    from cantera_table_spark.functions.dedup import simhash
    return simhash(load_table(spark, sf_dir, "documents"))


@gate("tx01_text_stats", """
WITH arrs AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_unique_tokens,
  round(len(list_distinct(toks)) / greatest(len(toks), 1), 4)
    AS type_token_ratio,
  CASE WHEN text IS NULL THEN NULL ELSE
  round(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                    (a, b) -> a + b) / greatest(len(toks), 1), 4)
  END AS avg_token_len,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        / greatest(length(text), 1), 4) AS alpha_ratio,
  round(length(regexp_replace(text, concat('[^.,;:!?', chr(39),
        '"()\\[\\]-]'), '', 'g')) / greatest(length(text), 1), 4)
    AS punct_ratio,
  round(len(list_filter(toks, t -> list_contains(
        ['the', 'a', 'of', 'and', 'to'], t))) / greatest(len(toks), 1), 4)
    AS stopword_ratio
FROM arrs
""")
def tx01_text_stats(spark, sf_dir):
    """Quality-scoring features (length/punct/stopword ratios)."""
    from cantera_table_spark.functions.text import with_text_stats
    d = load_table(spark, sf_dir, "documents")
    return with_text_stats(d).drop("text", "lang", "source", "n_chars")


@gate("tx02_token_counts", """
SELECT doc_id,
  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
    AS n_words,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
    AS n_bpe_tokens
FROM documents
""")
def tx02_token_counts(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish sub-word regex."""
    from cantera_table_spark.functions.text import with_token_counts
    d = load_table(spark, sf_dir, "documents")
    return with_token_counts(d).select("doc_id", "n_words", "n_bpe_tokens")


@gate("tx03_lang_id", """
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
ratios AS (
  SELECT doc_id, lang,
         round(len(list_filter(toks, t -> list_contains(sw, t)))
               / greatest(len(toks), 1), 6) AS ratio
  FROM arrs, (VALUES
    ('de', ['der', 'die', 'das', 'und', 'zu']),
    ('en', ['the', 'a', 'of', 'and', 'to']),
    ('es', ['el', 'la', 'de', 'y', 'que']),
    ('fr', ['le', 'la', 'de', 'et', 'que'])) AS l(lang, sw)
),
best AS (
  SELECT doc_id, ratio, lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY ratio DESC, lang DESC) AS rk
  FROM ratios
)
SELECT doc_id, ratio AS lang_ratio,
       CASE WHEN ratio > 0 THEN lang ELSE 'und' END AS pred_lang
FROM best WHERE rk = 1
""")
def tx03_lang_id(spark, sf_dir):
    """Stopword-overlap language ID (argmax over per-language ratios;
    ties break to the lexicographically greatest language — the
    array_max struct ordering)."""
    from cantera_table_spark.functions.text import with_lang_id
    d = load_table(spark, sf_dir, "documents")
    return with_lang_id(d).select("doc_id", "lang_ratio", "pred_lang")


@gate("tx04_fingerprint", """
SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
  list_reduce(
    list_prepend(0::BIGINT, list_transform(
      list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                  x -> x <> ''),
      x -> length(x)::BIGINT)),
    (acc, x) -> (acc * 31 + x) % 1000000007) END AS fingerprint
FROM documents
""")
def tx04_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (polynomial fold, mod 1e9+7)."""
    from cantera_table_spark.functions.text import with_fingerprint
    d = load_table(spark, sf_dir, "documents")
    return with_fingerprint(d).select("doc_id", "fingerprint")


ORACLE_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 10
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    round(
      list_reduce(list_prepend(0.0, list_transform(
        range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, b) -> a + b)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
       * sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b))),
      6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
)
"""


# Hyperplane-LSH signatures (sim03/sim05): +/-1 planes from md5 digest
# byte parity, per-plane dots as the same left fold Spark uses -> the
# signatures are bit-identical across engines.
ORACLE_HYPERSIG = """
WITH dims AS (SELECT len(embedding) AS dim FROM embeddings
              WHERE embedding IS NOT NULL LIMIT 1),
planes AS (
  SELECT j, list_transform(range(0, dim), d -> CASE WHEN
           (('0x' || substr(md5('plane:' || j || ':' || (d - (d % 16))),
                            ((d % 16) * 2) + 1, 2))::INT & 1) = 1
           THEN 1.0 ELSE -1.0 END) AS pw
  FROM dims, unnest(range(0, 16)) AS jj(j)
),
dots AS (
  SELECT e.vec_id, p.j,
    list_reduce(list_prepend(0.0, list_transform(
      range(1, len(e.embedding) + 1),
      i -> e.embedding[i]::DOUBLE * p.pw[i])), (a, b) -> a + b) AS dot
  FROM embeddings e, planes p
  WHERE e.embedding IS NOT NULL
),
hsigs AS (
  SELECT vec_id,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
           AS sig
  FROM dots GROUP BY 1
)
"""


@gate("sim01_brute_topk", ORACLE_COSINE + """
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos)) t
WHERE rank <= 5
""")
def sim01_brute_topk(spark, sf_dir):
    """Exact cosine top-5 neighbours for query vectors vec_id < 10 —
    identical left-fold double accumulation on both engines."""
    from cantera_table_spark.functions.similarity import brute_force_topk
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)



# Shared IVF probe replay (probe-side centroid scoring -> nprobe
# bucket pick -> in-bucket cosine rank -> NULL/NaN-safe top-k):
# sim02 and sim08 differ only in how the indexed vectors are produced
# (raw vs int8-quantized); the probe tail is byte-shared so a
# tie-break or NaN-guard fix cannot drift between them (r11 review).
ORACLE_IVF_PROBE_TAIL = """
probe_scored AS (
  SELECT q.query_id, q.qv, c.centroid_id,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1),
      i -> qv[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS ccos
  FROM q, c
),
probes AS (
  SELECT query_id, qv, centroid_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY ccos DESC, centroid_id) AS rk
    FROM probe_scored) t
  WHERE rk <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    round(
      list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1),
        i -> qv[i] * v[i])), (a, b) -> a + b)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
       * sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b))),
      6) AS cos
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM cand WHERE cos IS NOT NULL AND NOT isnan(cos)) t
WHERE rank <= 5
"""


@gate("sim02_ivf_topk", """
WITH c AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assign_scored AS (
  SELECT e.vec_id, c.centroid_id, e.v,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
      i -> v[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS acos
  FROM e, c
),
assign AS (
  SELECT vec_id, centroid_id AS cluster, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC, centroid_id) AS rk
    FROM assign_scored) t
  WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10),""" + ORACLE_IVF_PROBE_TAIL)
def sim02_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (scale path): bucket by nearest seed
    centroid, probe 2 buckets.  Every stage is deterministic (seeded
    centroids, bit-identical left-fold cosines), so the oracle replays
    the full assign -> probe -> exact-rank pipeline in SQL — the
    approximation is vs exhaustive search (recall floor in
    tests/test_similarity.py), not vs the oracle."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_topk, seed_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n=8)
    indexed = ivf_assign(emb, cents)
    return ivf_topk(indexed, cents, emb.filter(F.col("vec_id") < 10),
                    k=5, nprobe=2)


@gate("sim06_ivf_partitioned", _ORACLES["sim02_ivf_topk"])
def sim06_ivf_partitioned(spark, sf_dir):
    """The sim02 probe run against the PHYSICAL index layout:
    write_ivf_index persists the assignment partitionBy(cluster), the
    probe reads it back, and dynamic partition pruning skips unprobed
    cluster directories (plan pinned in test_plan_shapes).  Results
    must be layout-independent — the oracle is sim02's verbatim."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_topk, seed_centroids, write_ivf_index)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, n=8)
    path = _gate_tmp(sf_dir, "sim06")
    schema = write_ivf_index(ivf_assign(emb, cents), f"{path}/idx")
    # schema pinned by the writer, never inferred: an empty index
    # (legitimate at scale — a new shard with no vectors yet) has no
    # part files to infer from
    indexed = spark.read.schema(schema).parquet(f"{path}/idx")
    return ivf_topk(indexed, cents, emb.filter(F.col("vec_id") < 10),
                    k=5, nprobe=2)


@gate("mm05_frame_sample", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n FROM documents),
f AS (
  SELECT doc_id, i::INT AS frame_idx,
         lower(substr(hx, 2 * (i * 64) + 1, 8)) AS frame_hex
  FROM h, unnest(range(0, (n + 63) // 64)) AS t(i)
)
SELECT doc_id AS media_id, frame_idx, frame_hex FROM f
""")
def mm05_frame_sample(spark, sf_dir):
    """Video-style frame sampling plumbing: one output row per sampled
    64-byte window of each payload (the row-explosion shape of real
    frame extraction), frame_hex = first 4 bytes of the window.  The
    oracle replays the windowing over the same UTF-8 bytes; empty
    payloads produce zero frames on both sides."""
    from cantera_table_spark.functions.multimodal import (
        frame_sample, media_from_documents)
    d = load_table(spark, sf_dir, "documents")
    return frame_sample(media_from_documents(d), every_n_bytes=64)


@gate("dd05_embedding_neardup", ORACLE_COSINE.replace(
    "WHERE vec_id < 10", "") + """
SELECT query_id AS id_a, neighbor_id AS id_b, cos
FROM scored WHERE query_id < neighbor_id AND cos >= 0.8
""")
def dd05_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.8)."""
    from cantera_table_spark.functions.dedup import embedding_near_dup_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.8)


@gate("mm01_decode_media", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n FROM documents)
SELECT doc_id AS media_id,
       n::INTEGER AS n_bytes,
       lower(substr(hx, 1, 8)) AS header_hex,
       (list_reduce(list_prepend(0::BIGINT, list_transform(
          range(1, n + 1),
          i -> ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT)),
          (a, b) -> a + b)) % 2147483648 AS byte_checksum
FROM h
""")
def mm01_decode_media(spark, sf_dir):
    """Multimodal plumbing: opaque binary payloads 'decoded' by an
    Arrow-batched Pandas UDF (deterministic byte-level fake; codec stub
    marked in functions/multimodal.py)."""
    from cantera_table_spark.functions.multimodal import (
        decode_media, media_from_documents)
    d = _spread(load_table(spark, sf_dir, "documents"), spark)
    return decode_media(media_from_documents(d))


@gate("a06_posting_counts", ORACLE_POSTINGS + """
SELECT keyword, count(*) AS n_postings FROM idx GROUP BY 1
""")
def a06_posting_counts(spark, sf_dir):
    """A6: per-key posting counts (ca-dump --count, ca-dump.cc:340-367)."""
    from cantera_table_spark.sources.dump import dump_counts
    return dump_counts(_engine(spark, sf_dir).catalog)


@gate("ts05_prediction_bands", """
SELECT event_type AS key,
       round(quantile_cont(value, 0.05), 4) AS pct5,
       round(quantile_cont(value, 0.25), 4) AS pct25,
       round(quantile_cont(value, 0.75), 4) AS pct75,
       round(quantile_cont(value, 0.95), 4) AS pct95
FROM events GROUP BY 1
""")
def ts05_prediction_bands(spark, sf_dir):
    """Percentile prediction bands per series (the generator for the
    reference's score_pct5..95 band columns, ca-table.h:89-106)."""
    from cantera_table_spark.functions.timeseries import prediction_bands
    e = load_table(spark, sf_dir, "events")
    return prediction_bands(e.select(F.col("event_type").alias("key"),
                                     "value"))


@gate("ts06_band_outliers", """
WITH bands AS (
  SELECT event_type AS key,
         round(quantile_cont(value, 0.05), 4) AS pct5,
         round(quantile_cont(value, 0.25), 4) AS pct25,
         round(quantile_cont(value, 0.75), 4) AS pct75,
         round(quantile_cont(value, 0.95), 4) AS pct95
  FROM events GROUP BY 1
)
SELECT e.event_id, b.key, e.value,
       CASE WHEN e.value < b.pct5 THEN 'low' ELSE 'high' END AS direction
FROM events e JOIN bands b ON b.key = e.event_type
WHERE e.value < b.pct5 OR e.value > b.pct95
""")
def ts06_band_outliers(spark, sf_dir):
    """Out-of-band detection: values outside their series' 5-95 band."""
    from cantera_table_spark.functions.timeseries import band_outliers
    e = load_table(spark, sf_dir, "events")
    ts = e.select("event_id", F.col("event_type").alias("key"), "value")
    return band_outliers(ts).select("event_id", "key", "value", "direction")


@gate("q16_uri_decode", ORACLE_POSTINGS + """
SELECT doc_id, score FROM idx WHERE keyword = 'spark'
""")
def q16_uri_decode(spark, sf_dir):
    """X6: leaf identifiers are %-decoded before lookup (query.cc:203):
    'sp%61rk' finds the 'spark' postings."""
    return _dsl(spark, sf_dir, "QUERY (sp%61rk);")


@gate("x01_date_days", """
SELECT event_id, epoch_us(ts) // 86400000000 AS day_number
FROM events
""")
def x01_date_days(spark, sf_dir):
    """X1/X2: timestamp -> days-since-epoch (the reference's date scalar
    unit, query-parser.yy:204-210)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("event_id",
                    F.expr("unix_micros(ts) div 86400000000")
                    .alias("day_number"))


@gate("q17_external_expansion", ORACLE_POSTINGS + """
SELECT DISTINCT doc_id, 0.0::DOUBLE AS score FROM idx
WHERE keyword IN ('src:src12', 'src:src3', 'src:src7')
""")
def q17_external_expansion(spark, sf_dir):
    """S3: FIELD-in:KEY external-document expansion (query.cc:222-305)
    with an injected blob resolver: domain-ish names are extracted from
    the blob ('www.' stripped, <3-char names rejected) and looked up as
    FIELD:name; distinct doc union, scores zeroed."""
    eng = Engine(_engine(spark, sf_dir).catalog, unique_postings=True,
                 blob_fetcher=lambda key:
                 "{Header A} www.src12 en src3\nsrc7 x..")
    stmt = parse_script("QUERY (src-in:blobkey);")[0]
    return eng.query_df(stmt.query, limit=stmt.limit)


@gate("ts07_union_merge", """
SELECT event_type AS key, ts, max(value) AS value
FROM events GROUP BY 1, 2
""")
def ts07_union_merge(spark, sf_dir):
    """A4/J9: union merge mode — overlapping shards must agree on values
    (ca-load.cc:477-481); three overlapping event shards re-merge to the
    original table (k-way heap merge -> shuffle).  The input collapses
    duplicate (key, ts) rows first (max(value) — deterministic) so it
    SATISFIES union-merge's documented precondition; feeding genuinely
    conflicting duplicates is the error case, which merge_tables raises
    on by design (separately unit-tested)."""
    from cantera_table_spark.sources.ingest import merge_tables
    e = (load_table(spark, sf_dir, "events")
         .groupBy(F.col("event_type").alias("key"), "ts")
         .agg(F.max("value").alias("value")))
    shards = [e.filter(F.pmod(F.xxhash64("key", "ts"), 2) == i)
              for i in range(2)]
    # 10% overlap with agreeing values (same source rows)
    shards.append(e.filter(F.pmod(F.xxhash64("key", "ts"), 10) == 0))
    return merge_tables(shards, "union", caches=_GATE_CACHES)


@gate("q18_override_patch", ORACLE_POSTINGS + """
SELECT d.doc_id,
       'doc' || (CASE WHEN length(d.doc_id::VARCHAR) > 6 THEN d.doc_id::VARCHAR ELSE lpad(d.doc_id::VARCHAR, 6, '0') END) || '.example.com' AS key,
       CASE WHEN d.doc_id % 10 = 0 THEN 'OVERRIDDEN' ELSE d.source END
         AS source_final
FROM (SELECT DISTINCT doc_id FROM idx WHERE keyword = 'spark') r
JOIN documents d ON d.doc_id = r.doc_id
""")
def q18_override_patch(spark, sf_dir):
    """S5+J7+J8: summary fetch joined with the override patch layer
    (query.cc:809-890) as a DataFrame: override fields win over base
    fields (derived override table: every 10th doc)."""
    from cantera_table_spark.model import derive_documents
    docs = derive_documents(spark, sf_dir)
    overrides = (docs.filter(F.col("doc_id") % 10 == 0)
                 .select("key", F.to_json(F.struct(
                     F.lit("OVERRIDDEN").alias("source"))).alias("doc")))
    result = _dsl(spark, sf_dir, "QUERY (spark);")
    page = (result.join(docs, "doc_id")
            .join(overrides.withColumnRenamed("doc", "ov_doc"),
                  "key", "left"))
    base = F.get_json_object("doc", "$.source")
    patch = F.get_json_object("ov_doc", "$.source")
    return page.select("doc_id", "key",
                       F.coalesce(patch, base).alias("source_final"))


@gate("q19_keys_for", ORACLE_POSTINGS + """
SELECT 'doc' || (CASE WHEN length(p.doc_id::VARCHAR) > 6
                 THEN p.doc_id::VARCHAR
                 ELSE lpad(p.doc_id::VARCHAR, 6, '0') END)
       || '.example.com' AS key
FROM (SELECT a.doc_id
      FROM (SELECT * FROM idx WHERE keyword = 'spark') a
      JOIN documents d ON d.doc_id = a.doc_id
      ORDER BY d.n_chars DESC, a.doc_id ASC
      LIMIT 15 OFFSET 3) p
""")
def q19_keys_for(spark, sf_dir):
    """QUERY KEYS FOR — the keys-only statement variant (query.cc:
    908-918 prints bare key strings instead of JSON objects).  Runs the
    full statement path (parse -> compile -> threshold -> page ->
    summary join -> keys projection); ORDER BY len:chars gives a total
    (score desc, doc_id asc) order, so the page is deterministic."""
    eng = _engine(spark, sf_dir)
    keys = eng.execute_script(
        "QUERY KEYS FOR (spark ORDER BY len:chars) LIMIT 15 OFFSET 3;")[0]
    return spark.createDataFrame([(k,) for k in keys], "key string")


@gate("f32_01_score_fidelity", """
SELECT doc_id,
       CAST(CAST(n_chars * 1000.0 / 7.0 AS REAL) AS DOUBLE) AS score
FROM documents
WHERE CAST(CAST(n_chars * 1000.0 / 7.0 AS REAL) AS DOUBLE) > 30000.0
""")
def f32_01_score_fidelity(spark, sf_dir):
    """SURVEY §7 hard-item 3: reference scores are float32
    (ca-table.h:100).  Under ``f32_scores=True`` every leaf score is
    quantized through float32 on read (dsl/compiler.py), so score
    comparisons see exactly the values the reference stores.  The
    fixture score n_chars*1000/7 is non-representable in float32 at
    magnitude ~7e4 (f32 step ~0.008), so the quantization is visible
    far above any float-rounding tolerance; the oracle replays it by
    casting through REAL."""
    from cantera_table_spark.model import Catalog, derive_documents
    d = load_table(spark, sf_dir, "documents")
    postings = d.select(F.lit("len7").alias("keyword"), "doc_id",
                        (F.col("n_chars") * 1000.0 / 7.0).alias("score"))
    cat = Catalog(summaries=[derive_documents(spark, sf_dir)],
                  indexes=[postings])
    eng = Engine(cat, unique_postings=True, f32_scores=True)
    return eng.query_df(parse_query("len7>30000.0"), limit=-1)


@gate("f32_02_threshold_fidelity", """
WITH len7 AS (
  SELECT doc_id,
         CAST(CAST(n_chars * 1000.0 / 7.0 AS REAL) AS DOUBLE) AS score
  FROM documents
)
SELECT k.doc_id, k.score
FROM (SELECT DISTINCT doc_id FROM len7 WHERE score > 0) r
JOIN len7 k ON k.doc_id = r.doc_id
WHERE k.score >= 30000.001 AND k.score < 60000.5
""")
def f32_02_threshold_fidelity(spark, sf_dir):
    """F6 x SURVEY §7 hard-item 3: THRESHOLDS under ``f32_scores=True``.
    The threshold key's scores are float32-quantized before BOTH the
    [min, max) comparison and the score replacement (threshold_filter
    emits the k-score verbatim), so any missed quantization in the
    THRESHOLDS path shows up as a value-hash mismatch against the
    oracle's REAL-cast replay.  Complements f32_01, which covers only
    the ``=``/``>`` leaf comparisons."""
    from cantera_table_spark.model import Catalog, derive_documents
    d = load_table(spark, sf_dir, "documents")
    postings = d.select(F.lit("len7").alias("keyword"), "doc_id",
                        (F.col("n_chars") * 1000.0 / 7.0).alias("score"))
    cat = Catalog(summaries=[derive_documents(spark, sf_dir)],
                  indexes=[postings])
    eng = Engine(cat, unique_postings=True, f32_scores=True)
    stmt = parse_script(
        "QUERY (len7>0) THRESHOLDS 30000.001,60000.5 FOR KEY 'len7';")[0]
    return eng.query_df(stmt.query, thresholds=stmt.thresholds,
                        limit=stmt.limit, offset=stmt.offset)


@gate("cat01_multi_table", ORACLE_POSTINGS + """
SELECT 'doc' || (CASE WHEN length(p.doc_id::VARCHAR) > 6
                 THEN p.doc_id::VARCHAR
                 ELSE lpad(p.doc_id::VARCHAR, 6, '0') END)
       || '.example.com' AS key
FROM (SELECT a.doc_id
      FROM (SELECT * FROM idx WHERE keyword = 'spark') a
      JOIN (SELECT DISTINCT doc_id FROM idx
            WHERE keyword = 'fast') f ON f.doc_id = a.doc_id
      JOIN documents d ON d.doc_id = a.doc_id
      ORDER BY d.n_chars DESC, a.doc_id ASC
      LIMIT 25) p
""")
def cat01_multi_table(spark, sf_dir):
    """Multi-table catalog (reference schema.cc:60-118: a database is a
    LIST of summary/index member tables).  The index and summary tables
    are each split in two by doc_id parity and registered as separate
    catalog members; Catalog.index()/summary() union them, and a full
    statement (AND + ORDER BY rescore + page + summary key join) over
    the split catalog must equal the single-table oracle — the
    multi-table address space is lossless."""
    from cantera_table_spark.model import Catalog
    cat0 = _engine(spark, sf_dir).catalog
    idx, docs = cat0.index(), cat0.summary()
    even, odd = (F.col("doc_id") % 2 == 0), (F.col("doc_id") % 2 == 1)
    cat = Catalog(summaries=[docs.filter(even), docs.filter(odd)],
                  indexes=[idx.filter(even), idx.filter(odd)],
                  keyword_meta=cat0.keyword_meta)
    eng = Engine(cat, unique_postings=True)
    keys = eng.execute_script(
        "QUERY KEYS FOR (spark AND fast ORDER BY len:chars) LIMIT 25;")[0]
    return spark.createDataFrame([(k,) for k in keys], "key string")


@gate("ev02_sessionize", """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
    THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM marked
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 3) AS total_value
FROM sid GROUP BY user_id, s
""")
def ev02_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) — batch form of the custom
    stateful streaming operator (streaming/sessionize.py); the
    applyInPandasWithState variant is equivalence-tested in
    tests/test_sessionize.py."""
    from cantera_table_spark.streaming.sessionize import sessionize_batch
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = sessionize_batch(e, gap_seconds=1800)
    return out.withColumn("total_value", F.round("total_value", 3))


@gate("tx05_tfidf", ORACLE_POSTINGS + """
, df_ AS (SELECT keyword, count(*) AS df FROM postings GROUP BY 1),
n_ AS (SELECT count(*) AS n FROM documents)
SELECT p.keyword, p.doc_id,
       round(p.score * ln(n_.n / df_.df), 6) AS tfidf
FROM postings p, n_ JOIN df_ ON df_.keyword = p.keyword
""")
def tx05_tfidf(spark, sf_dir):
    """TF-IDF scoring over the derived postings — the canonical scored
    inverted index a training pipeline feeds retrieval with.  Corpus
    size N rides a broadcast one-row aggregate (the bm25_scores
    N/avgdl pattern, retrieval.py) instead of a driver-side count(), so
    the whole gate stays one lazy plan."""
    from cantera_table_spark.model import derive_postings
    p = derive_postings(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    n1 = docs.agg(F.count("*").cast("double").alias("__n"))
    dfreq = p.groupBy("keyword").agg(F.count("*").alias("df"))
    return (p.join(dfreq, "keyword")
            .crossJoin(F.broadcast(n1))
            .select("keyword", "doc_id",
                    F.round(F.col("score") * F.log(F.col("__n") /
                                                   F.col("df")), 6)
                    .alias("tfidf")))


@gate("sim03_lsh_neardup", ORACLE_HYPERSIG + """
, banded AS (
  SELECT h.vec_id, e.embedding::DOUBLE[] AS v, b.band,
         (h.sig >> (b.band * 4)) & 15 AS bits
  FROM hsigs h JOIN embeddings e ON e.vec_id = h.vec_id,
       unnest(range(0, 4)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                  a.v AS va, b.v AS vb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bits = b.bits
              AND a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b,
    round(
      list_reduce(list_prepend(0.0, list_transform(range(1, len(va) + 1),
        i -> va[i] * vb[i])), (a, b) -> a + b)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(va) + 1), i -> va[i] * va[i])), (a, b) -> a + b))
       * sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(vb) + 1), i -> vb[i] * vb[i])), (a, b) -> a + b))),
      6) AS cos
  FROM cand
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.3
""")
def sim03_lsh_neardup(spark, sf_dir):
    """Hyperplane-LSH embedding near-dup (scale path): signature-banded
    candidates, exact cosine verify.  The banding and cosines are
    deterministic md5/left-fold constructions, so the oracle replays
    the whole pipeline in SQL; approximation (recall vs the exhaustive
    dd05 pairing) is asserted in tests.  Threshold 0.3 (not the 0.8
    production default) so the synthetic fixture — random vectors, no
    true near-dups — yields a non-vacuous result set."""
    from cantera_table_spark.functions.similarity import lsh_near_dup_pairs
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(emb, threshold=0.3)


@gate("ts08_dsl_date_filter", """
WITH ts_postings AS (
  SELECT 'ts:' || event_type AS keyword, user_id AS doc_id,
         min(epoch_us(ts) // 86400000000)::DOUBLE AS score
  FROM events GROUP BY 1, 2
)
SELECT doc_id, score FROM ts_postings
WHERE keyword = 'ts:purchase' AND score >= 19725
""")
def ts08_dsl_date_filter(spark, sf_dir):
    """Posting lists double as time series (reference README.md:48-56;
    'timestamped' keywords carry dates as scores, keywords.h:18-45): the
    DSL's Date literals become day-numbers (X1) and compare against
    event-date scores.  2024-01-03 -> day 19725."""
    e = load_table(spark, sf_dir, "events")
    ts_postings = (e.groupBy(
        F.concat(F.lit("ts:"), F.col("event_type")).alias("keyword"),
        F.col("user_id").alias("doc_id"))
        .agg(F.min(F.expr("unix_micros(ts) div 86400000000"))
             .cast("double").alias("score")))
    base = _engine(spark, sf_dir).catalog
    cat = type(base)(summaries=base.summaries, indexes=[ts_postings],
                     keyword_meta=[("ts:", "timestamped")])
    eng = Engine(cat, unique_postings=True)
    stmt = parse_script("QUERY (ts:purchase >= 2024-01-03);")[0]
    return eng.query_df(stmt.query, limit=stmt.limit)


@gate("corr02_event_prediction", """
WITH user_events AS (
  SELECT 'ts:' || event_type AS keyword, user_id AS doc_id,
         min(epoch_us(ts) / 86400000000.0) AS score
  FROM events GROUP BY 1, 2
),
A AS (SELECT doc_id, score FROM user_events
      WHERE keyword = 'ts:purchase' AND score < 19723.5),
B0 AS (SELECT doc_id, score FROM user_events
       WHERE keyword = 'ts:purchase' AND score >= 19723.5),
B AS (SELECT * FROM B0 WHERE doc_id NOT IN (SELECT doc_id FROM A)),
-- FilterByTimestamp(keys, A, B): one row per (keyword, doc) when the
-- doc's earliest key time precedes its earliest set time; score = age
filtered AS (
  SELECT k.keyword, k.doc_id,
         coalesce(a.score, b.score) - k.score AS score
  FROM (SELECT keyword, doc_id, min(score) AS score
        FROM user_events WHERE keyword NOT IN ('ts:purchase')
        GROUP BY 1, 2) k
  LEFT JOIN A a ON a.doc_id = k.doc_id
  LEFT JOIN B b ON b.doc_id = k.doc_id
  WHERE coalesce(a.score, b.score) IS NOT NULL
    AND k.score < coalesce(a.score, b.score)
),
params AS (
  SELECT ln(((SELECT count(*) FROM A) + 1.0) /
            ((SELECT count(*) FROM B) + 1.0)) AS prior,
         greatest((SELECT count(*) FROM A) // 20, 1) AS lim_a,
         greatest((SELECT count(*) FROM B) // 20, 1) AS lim_b
),
kw_ok AS (
  SELECT keyword FROM filtered GROUP BY 1
  HAVING count(*) >= (SELECT least(lim_a, lim_b) FROM params)
),
k AS (
  SELECT f.keyword, f.doc_id, f.score,
         CASE WHEN a.doc_id IS NOT NULL THEN 1
              WHEN b.doc_id IS NOT NULL THEN -1 END AS cls
  FROM filtered f JOIN kw_ok USING (keyword)
  LEFT JOIN A a ON a.doc_id = f.doc_id
  LEFT JOIN B b ON b.doc_id = f.doc_id
),""" + ORACLE_CORRELATE_TAIL)
def corr02_event_prediction(spark, sf_dir):
    """A11 + A8-A10: event-prediction CORRELATE over timestamped
    keywords — which earlier event types predict a later purchase vs a
    later error (FilterByTimestamp sets-variant, correlate.cc:400-462,
    feeding the full mining pipeline).

    User-level time-series postings: keyword 'ts:<event_type>', doc =
    user, score = day of the user's first such event.  Query A =
    ts:purchase, B = ts:error; both primaries are timestamped so
    features are as-of filtered (only strictly-earlier events count,
    scored by age).  ts:purchase itself is excluded from the feature
    space (its postings ARE set A — self-features are degenerate).
    """
    e = load_table(spark, sf_dir, "events")
    # cached: set_a/set_b/keys and the as-of filter all branch off this
    # aggregate — uncached, the events re-aggregate once per branch
    ts_postings = _GATE_CACHES.persist(e.groupBy(
        F.concat(F.lit("ts:"), F.col("event_type")).alias("keyword"),
        F.col("user_id").alias("doc_id"))
        .agg(F.min(F.unix_micros("ts") / F.lit(86400000000.0))
             .alias("score")))
    purchase = ts_postings.filter(F.col("keyword") == "ts:purchase")
    set_a = (purchase.filter(F.col("score") < 19723.5)
             .select("doc_id", "score"))
    set_b = (purchase.filter(F.col("score") >= 19723.5)
             .select("doc_id", "score"))

    from cantera_table_spark.operators.correlate import (
        correlate_sets, filter_by_timestamp_sets)
    keys = ts_postings.filter(F.col("keyword") != "ts:purchase")
    # the grouped filter emits one row per (keyword, doc_id), so
    # unique_docs holds and the range counts are read off the split
    # search's prefix sums (the oracle's count(DISTINCT ...) degenerates
    # to count on unique rows)
    filtered = filter_by_timestamp_sets(keys, set_a, set_b)
    return correlate_sets(filtered, set_a, set_b, caches=_GATE_CACHES,
                          unique_docs=True)


# Shared LSH -> verify -> connected-components oracle body (dd06, dd12)
ORACLE_CC = """
, sigs AS (
  SELECT doc_id, i AS h_idx,
         min(((2 * i + 1) * (('0x' || substr(md5(shingle), 1, 8))::BIGINT)
              + 12345 * i + 1) % 4294967311) AS sig
  FROM sh, unnest(range(0, 16)) AS h(i)
  GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, (h_idx // 4) AS band,
         md5(string_agg(h_idx || ':' || sig, ','
                        ORDER BY h_idx || ':' || sig)) AS band_hash
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n / (sa.sz + sb.sz - n) >= 0.12
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
cc AS (
  WITH RECURSIVE reach(doc_id, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc_id
  )
  SELECT doc_id, min(lab) AS canonical_id FROM reach GROUP BY 1
)
"""


@gate("dd06_dedup_clusters", ORACLE_SHINGLES + ORACLE_CC + """
SELECT doc_id, canonical_id FROM cc
""")
def dd06_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup dedup decision on the SCALE path: MinHash
    banding -> candidate pairs -> exact Jaccard verify -> connected
    components; every doc maps to the minimum doc_id of its duplicate
    cluster (min-label propagation vs the oracle's recursive CTE, with
    the banding mirrored in SQL so the pruning is verified, not
    assumed)."""
    from cantera_table_spark.functions.dedup import (
        duplicate_clusters, exploded_shingles, jaccard_pairs,
        lsh_candidate_pairs_arrays, shingle_arrays)
    docs = load_table(spark, sf_dir, "documents")
    arrs = shingle_arrays(docs)
    cands = lsh_candidate_pairs_arrays(arrs, k=16, bands=4)
    pairs = (jaccard_pairs(exploded_shingles(arrs), min_jaccard=0.12,
                           candidates=cands)
             .select("doc_a", "doc_b"))
    return duplicate_clusters(docs.select("doc_id"), pairs,
                              caches=_GATE_CACHES)


@gate("tx06_quality_filter", """
WITH arrs AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id FROM arrs
WHERE len(toks) >= 40
  AND length(regexp_replace(text, concat('[^.,;:!?', chr(39),
      '"()\\[\\]-]'), '', 'g')) / greatest(length(text), 1) <= 0.2
  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      / greatest(length(text), 1) >= 0.6
  AND len(list_distinct(toks)) / greatest(len(toks), 1) >= 0.1
""")
def tx06_quality_filter(spark, sf_dir):
    """Corpus quality gate: threshold filters over the text-quality
    stats (the post-dedup filter stage of a pretraining pipeline)."""
    from cantera_table_spark.functions.text import quality_filter
    d = load_table(spark, sf_dir, "documents")
    return quality_filter(d, min_tokens=40).select("doc_id")


@gate("tx07_corpus_stats", """
WITH tok AS (
  SELECT d.doc_id, t.tok
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
),
agg AS (
  SELECT tok, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
  FROM tok GROUP BY 1
)
SELECT tok, doc_freq, term_freq,
       row_number() OVER (ORDER BY term_freq DESC, tok ASC) AS rank
FROM agg
""")
def tx07_corpus_stats(spark, sf_dir):
    """Corpus vocabulary statistics: doc/term frequency + dense
    frequency rank per token."""
    from cantera_table_spark.functions.text import corpus_token_stats
    d = load_table(spark, sf_dir, "documents")
    return corpus_token_stats(d, caches=_GATE_CACHES)


# ---------------------------------------------------------------------------
# Ingest surface (the reference's ca-load front door), LSH-first dedup,
# exact-checkable ANN stages, and the PARSE/SET statement surface.
# ---------------------------------------------------------------------------

def _gate_tmp(sf_dir: str, name: str) -> str:
    """Deterministic scratch path for ingest round-trip fixtures (one per
    (entry, sf) so concurrent gate runs at different SFs don't collide)."""
    import os
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/cantera_gate/{name}_{tag}"


@gate("in01_tsv_postings", """
SELECT 'L:' || lang AS keyword, doc_id, n_chars::DOUBLE AS score
FROM documents
WHERE n_chars >= 50
""")
def in01_tsv_postings(spark, sf_dir):
    """S7/S10/F7/F8 (ca-load.cc:233-391): TSV -> postings round-trip.

    A TSV derived from ``documents`` — keyword with an embedded literal
    tab (escaped on write), docname, score — is written and read back
    through ``read_tsv_postings`` with a score threshold (F7), key regex
    filter + prefix strip/add (F8), and docname -> doc_id resolution
    (S10; one orphan docname exercises the unknown-doc drop).  The
    oracle computes the same result straight from the parquet table, so
    escape/unescape must be an exact inverse pair for hashes to agree.
    """
    from cantera_table_spark.model import derive_documents
    from cantera_table_spark.sources.ingest import (escape_tsv,
                                                    read_tsv_postings)
    d = load_table(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    padded = F.when(F.length(ids) > 6, ids).otherwise(F.lpad(ids, 6, "0"))
    docname = F.concat(F.lit("doc"), padded, F.lit(".example.com"))
    keep = d.select(F.concat_ws(
        "\t",
        escape_tsv(F.concat(F.lit("lang\t"), F.col("lang"))),
        docname,
        F.col("n_chars").cast("double").cast("string")).alias("value"))
    noise = d.select(F.concat_ws(        # dropped by the key filter
        "\t", F.concat(F.lit("src:"), F.col("source")), docname,
        F.lit("1.0")).alias("value"))
    orphan = spark.createDataFrame(      # dropped by docname resolution
        [("lang\\tzz\tmissing.example.com\t999.0",)], "value string")
    path = _gate_tmp(sf_dir, "in01")
    (keep.unionByName(noise).unionByName(orphan)
     .coalesce(1).write.mode("overwrite").text(path))
    return read_tsv_postings(
        spark, path, derive_documents(spark, sf_dir), score_col=True,
        threshold=50.0, key_filter="^lang\t", strip_key_prefix="lang\t",
        add_key_prefix="L:")


@gate("in02_tsv_timeseries", """
SELECT event_type AS key, date_trunc('second', ts) AS ts, value
FROM events
WHERE value >= 100.0
""")
def in02_tsv_timeseries(spark, sf_dir):
    """S7/S9/F7 (ca-load.cc:255-281): TSV -> time series round-trip with
    a custom strptime-style date format.

    Events are formatted to ``KEY<TAB>yyyy/MM/dd HH:mm:ss<TAB>VALUE``
    lines (second truncation — the oracle date_truncs identically),
    written, and parsed back via ``read_tsv_timeseries``; one
    unparseable-date line exercises the try_to_timestamp drop and the
    load threshold keeps values >= 100.  Values round-trip exactly
    (shortest double repr on write, exact parse on read).
    """
    from cantera_table_spark.sources.ingest import read_tsv_timeseries
    e = load_table(spark, sf_dir, "events")
    lines = e.select(F.concat_ws(
        "\t", F.col("event_type"),
        F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
        F.col("value").cast("string")).alias("value"))
    bad = spark.createDataFrame([("oops\tnot-a-date\t150.0",)],
                                "value string")
    path = _gate_tmp(sf_dir, "in02")
    lines.unionByName(bad).coalesce(1).write.mode("overwrite").text(path)
    return read_tsv_timeseries(spark, path,
                               date_format="yyyy/MM/dd HH:mm:ss",
                               threshold=100.0)


@gate("st01_stream_ingest", """
SELECT event_type AS key, date_trunc('second', ts) AS ts, value
FROM events
WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
""")
def st01_stream_ingest(spark, sf_dir):
    """Streaming ingest edge end-to-end (reference stdin ingest,
    ca-load.cc:895-907, re-expressed as a Structured Streaming file
    source): events are formatted to TSV drops, ``stream_tsv_timeseries``
    parses them (same unescape + try_to_timestamp as batch in02, one
    unparseable-date line exercises the drop), and
    ``start_parquet_sink`` commits them with trigger(availableNow) —
    the run-once form of the always-on 100 TB sink.  The gate reads the
    sink back, so the oracle verifies the whole
    file-source -> parse -> checkpointed-parquet-commit path, not just
    the plan."""
    import shutil
    from cantera_table_spark.streaming.ingest import (start_parquet_sink,
                                                      stream_tsv_timeseries)
    e = load_table(spark, sf_dir, "events")
    # only well-formed rows are TSV-representable: concat_ws SKIPS null
    # fields, which would silently shift columns in the drop
    e = e.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull()
                 & F.col("value").isNotNull())
    lines = e.select(F.concat_ws(
        "\t", F.col("event_type"),
        F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
        F.col("value").cast("string")).alias("value"))
    bad = spark.createDataFrame([("oops\tnot-a-date\t150.0",)],
                                "value string")
    base = _gate_tmp(sf_dir, "st01")
    shutil.rmtree(base, ignore_errors=True)
    # two files = two source "drops" discovered by the stream
    lines.unionByName(bad).coalesce(2).write.mode("overwrite") \
        .text(f"{base}/src")
    stream = stream_tsv_timeseries(spark, f"{base}/src",
                                   date_format="yyyy/MM/dd HH:mm:ss")
    q = start_parquet_sink(stream, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return spark.read.parquet(f"{base}/sink").select("key", "ts", "value")


@gate("st02_stream_windowed_rollup", """
WITH e AS (SELECT event_type AS key, date_trunc('second', ts) AS ts,
                  value FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
mx AS (SELECT max(ts) AS m FROM e)
SELECT key, date_trunc('hour', ts) AS window_start,
       count(*) AS n, round(sum(value), 3) AS total
FROM e
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <=
       (SELECT m - INTERVAL 2 HOUR FROM mx)
""")
def st02_stream_windowed_rollup(spark, sf_dir):
    """Watermarked streaming rollup end-to-end: the st01 TSV drop runs
    through windowed_rollup (1-hour event-time windows, 2-hour
    watermark) into an append-mode availableNow sink.  Append mode
    emits exactly the FINALIZED windows — window_end <= final
    watermark = max(ts) - 2h (single data batch + the no-data flush
    batch make that boundary deterministic; emission rule probed and
    pinned here) — so the oracle is the batch rollup restricted to
    closed windows: the watermark semantics themselves are what the
    hash match verifies."""
    import shutil
    from cantera_table_spark.streaming.ingest import (
        start_parquet_sink, stream_tsv_timeseries, windowed_rollup)
    e = load_table(spark, sf_dir, "events")
    e = e.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull()
                 & F.col("value").isNotNull())
    lines = e.select(F.concat_ws(
        "\t", F.col("event_type"),
        F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
        F.col("value").cast("string")).alias("value"))
    base = _gate_tmp(sf_dir, "st02")
    shutil.rmtree(base, ignore_errors=True)
    lines.coalesce(1).write.mode("overwrite").text(f"{base}/src")
    stream = windowed_rollup(
        stream_tsv_timeseries(spark, f"{base}/src",
                              date_format="yyyy/MM/dd HH:mm:ss"),
        window="1 hour", watermark="2 hours")
    q = start_parquet_sink(stream, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/sink")
            .select("key", "window_start", "n",
                    F.round("total", 3).alias("total")))


@gate("dd07_lsh_jaccard", ORACLE_SHINGLES + """
, sigs AS (
  SELECT doc_id, i AS h_idx,
         min(((2 * i + 1) * (('0x' || substr(md5(shingle), 1, 8))::BIGINT)
              + 12345 * i + 1) % 4294967311) AS sig
  FROM sh, unnest(range(0, 16)) AS h(i)
  GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, (h_idx // 4) AS band,
         md5(string_agg(h_idx || ':' || sig, ','
                        ORDER BY h_idx || ':' || sig)) AS band_hash
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.12
""")
def dd07_lsh_jaccard(spark, sf_dir):
    """LSH-first exact Jaccard — the 100 TB dedup path: MinHash banding
    prunes to candidate pairs BEFORE the shingle self-join, so hot
    shingles never form the quadratic pair blow-up (dd03 is the
    unpruned oracle baseline).  Banding is md5-portable, so the oracle
    reproduces candidates bit-for-bit and the whole pipeline
    hash-matches."""
    from cantera_table_spark.functions.dedup import (
        exploded_shingles, jaccard_pairs, lsh_candidate_pairs_arrays,
        shingle_arrays)
    arrs = shingle_arrays(load_table(spark, sf_dir, "documents"))
    cands = lsh_candidate_pairs_arrays(arrs, k=16, bands=4)
    return jaccard_pairs(exploded_shingles(arrs), min_jaccard=0.12,
                         candidates=cands)


@gate("sim04_ivf_assign", """
WITH c AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
    list_reduce(list_prepend(0.0, list_transform(
      range(1, len(e.embedding) + 1),
      i -> e.embedding[i]::DOUBLE * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(e.embedding) + 1),
         i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
         (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS cos
  FROM embeddings e, c
)
SELECT vec_id, centroid_id AS cluster FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, centroid_id) AS rk
  FROM scored) t
WHERE rk = 1
""")
def sim04_ivf_assign(spark, sf_dir):
    """IVF index build stage, exact-checkable: nearest-seed-centroid
    assignment with identical left-fold double accumulation on both
    engines, so the bucketing that sim02's approximate top-k relies on
    is itself hash-verified."""
    from cantera_table_spark.functions.similarity import (ivf_assign,
                                                          seed_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    return (ivf_assign(emb, seed_centroids(emb, n=8))
            .select("vec_id", "cluster"))


@gate("sim05_hyperplane_sig", ORACLE_HYPERSIG + """
SELECT vec_id, sig FROM hsigs
""")
def sim05_hyperplane_sig(spark, sf_dir):
    """Hyperplane-LSH signature stage of sim03, exact-checkable: the
    +/-1 planes derive from md5 digest byte parity (deterministic, no
    RNG), and per-plane dots use the same left fold on both engines, so
    the banding input to the near-dup join is hash-verified."""
    from cantera_table_spark.functions.similarity import (
        hyperplane_signature)
    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_signature(emb, n_bits=16).select("vec_id", "sig")


_PARSE_STMTS = [
    'PARSE (spark AND fast OR slow ORDER BY len:chars);',
    'PARSE (spark AND NOT slow);',
    'PARSE (~fast MAX(spark));',
    'PARSE (fast>1.5 AND spark<=3 OR RANDOM_SAMPLE(slow, 7));',
    'PARSE (in-lang:en AND "query");',
]

_PARSE_ECHOES = [
    '(((spark AND fast) OR slow) ORDER BY len:chars)',
    '(spark AND NOT slow)',
    '(~fast AND MAX(spark))',
    '((fast>1.5 AND spark<=3) OR RANDOM_SAMPLE(slow, 7))',
    '(in-lang:en AND query)',
]


def _values_oracle(rows: list[tuple], cols: str) -> str:
    vals = ", ".join(
        "(" + ", ".join(
            str(v) if isinstance(v, int) and not isinstance(v, bool)
            else "'" + str(v).replace("'", "''") + "'"
            for v in row) + ")"
        for row in rows)
    return f"SELECT * FROM (VALUES {vals}) AS t({cols})"


@gate("p01_parse_echo", _values_oracle(
    [(i, s, e) for i, (s, e) in enumerate(zip(_PARSE_STMTS, _PARSE_ECHOES))],
    "stmt_no, stmt, echo"))
def p01_parse_echo(spark, sf_dir):
    """stmt PARSE (query.cc:630-724): canonical echo of the parsed query
    — precedence parenthesization, operator casing, juxtaposition -> AND,
    quoted reserved words unquoted.  Literal oracle (the echoes are
    deterministic strings)."""
    eng = _engine(spark, sf_dir)
    rows = [(i, s, eng.execute_script(s)[0])
            for i, s in enumerate(_PARSE_STMTS)]
    return spark.createDataFrame(
        rows, "stmt_no int, stmt string, echo string")


@gate("set01_session_state", _values_oracle(
    [(0, "output_format", "csv"), (1, "output_format", "json"),
     (2, "time_format", "%Y-%m-%d"), (3, "output_format", "json")],
    "step, parameter, value"))
def set01_session_state(spark, sf_dir):
    """stmt SET (statement.cc:35-48): OUTPUT FORMAT / TIME FORMAT are
    session state with no output; each step records the engine state
    after one SET executes (default csv, then two mutations, then a
    no-op re-set).  Literal oracle."""
    eng = _engine(spark, sf_dir)
    rows = [(0, "output_format", eng.output_format)]
    eng.execute_script("SET OUTPUT FORMAT JSON;")
    rows.append((1, "output_format", eng.output_format))
    eng.execute_script("SET TIME FORMAT '%Y-%m-%d';")
    rows.append((2, "time_format", eng.time_format))
    eng.execute_script("SET OUTPUT FORMAT JSON;")
    rows.append((3, "output_format", eng.output_format))
    return spark.createDataFrame(rows, "step int, parameter string, "
                                       "value string")


@gate("mm02_decode_bmp", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
b AS (
  SELECT doc_id, i % 3 AS ch,
         ('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT AS byte
  FROM h, unnest(range(0, 192)) AS t(i)
)
SELECT doc_id AS media_id, 8 AS width, 8 AS height,
       avg(byte) FILTER (ch = 0) AS mean_b,
       avg(byte) FILTER (ch = 1) AS mean_g,
       avg(byte) FILTER (ch = 2) AS mean_r
FROM b GROUP BY 1
""")
def mm02_decode_bmp(spark, sf_dir):
    """REAL image decode: each document's bytes cycle into the raw
    pixel buffer of a genuine 8x8 24-bit BMP (encode_bmp), and
    decode_images parses the container back — header fields, bottom-up
    rows, channel planes — via Arrow-batched mapInPandas.  The oracle
    recomputes the per-channel means straight from the source bytes;
    channel means are exact doubles (integer sums / 64), so the
    comparison is bit-exact with no rounding."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (decode_images,
                                                          encode_bmp)
    d = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
         .filter(F.length("text") > 0))

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (192 // len(raw) + 1))[:192]
                data.append(encode_bmp(buf, 8, 8))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return decode_images(media)


@gate("mm06_decode_png", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
b AS (
  SELECT doc_id, i % 3 AS ch,
         ('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT AS byte
  FROM h, unnest(range(0, 192)) AS t(i)
)
SELECT doc_id AS media_id, 8 AS width, 8 AS height,
       avg(byte) FILTER (ch = 2) AS mean_b,
       avg(byte) FILTER (ch = 1) AS mean_g,
       avg(byte) FILTER (ch = 0) AS mean_r
FROM b GROUP BY 1
""")
def mm06_decode_png(spark, sf_dir):
    """REAL PNG decode: document bytes cycle into the RGB pixel buffer
    of a genuine zlib-compressed 8x8 PNG (encode_png), and
    decode_images dispatches on the PNG magic — chunk walk, inflate,
    scanline unfiltering — via Arrow-batched mapInPandas.  The oracle
    recomputes the channel means from the source bytes (RGB order,
    vs BMP's BGR in mm02); exact doubles, no rounding."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (decode_images,
                                                          encode_png)
    d = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
         .filter(F.length("text") > 0))

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (192 // len(raw) + 1))[:192]
                data.append(encode_png(buf, 8, 8))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return decode_images(media)


@gate("mm08_decode_jpeg", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
b AS (
  SELECT doc_id,
         ('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT AS byte
  FROM h, unnest(range(0, 4)) AS t(i)
)
SELECT doc_id AS media_id, 16 AS width, 16 AS height,
       sum(byte) / 4.0 AS mean_b, sum(byte) / 4.0 AS mean_g,
       sum(byte) / 4.0 AS mean_r
FROM b GROUP BY 1
""")
def mm08_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode: each document's first four bytes
    become four constant-gray 8x8 blocks of a genuine JFIF payload
    (encode_jpeg — DCT, Annex K quantization + Huffman, byte stuffing)
    and decode_images dispatches on the FFD8 magic — marker walk,
    canonical Huffman decode, dequant, IDCT, YCbCr->RGB — via
    Arrow-batched mapInPandas.  Constant blocks round-trip EXACTLY at
    quality 90 (DC quant error < 0.5/pixel; law-tested in
    test_jpeg_constant_block_exact_law), so the oracle recomputes the
    channel means from the source bytes: mean = (b0+b1+b2+b3)/4, an
    exact power-of-two division on both sides."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (
        constant_block_frame, decode_images, encode_jpeg)
    d = _spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .filter(F.length("text") > 0), spark)

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                vals = (raw * (4 // len(raw) + 1))[:4]
                data.append(encode_jpeg(constant_block_frame(vals),
                                        16, 16, 90))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return decode_images(media)


@gate("mm09_video_frames", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
b AS (
  SELECT doc_id, (i // 4) AS fi,
         ('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT AS byte
  FROM h, unnest(range(0, 8)) AS t(i)
)
SELECT doc_id AS media_id, fi::INT AS frame_idx, 16 AS width,
       16 AS height, sum(byte) / 4.0 AS mean_r,
       sum(byte) / 4.0 AS mean_g, sum(byte) / 4.0 AS mean_b
FROM b GROUP BY 1, 2
""")
def mm09_video_frames(spark, sf_dir):
    """REAL video-container frame sampling: each document's first
    eight bytes become two 4-constant-block frames of a genuine
    Motion-JPEG AVI (encode_avi_mjpeg — RIFF hdrl/movi/idx1, one
    baseline-JPEG chunk per frame) and avi_frame_stats walks the
    container back, JPEG-decoding every frame, via Arrow-batched
    mapInPandas.  Constant blocks round-trip exactly (the mm08
    contract), so the oracle recomputes each frame's channel means
    straight from the source bytes: frame f block k reads byte
    (4f+k) mod n."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (
        avi_frame_stats, constant_block_frame, encode_avi_mjpeg)
    d = _spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .filter(F.length("text") > 0), spark)

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (8 // len(raw) + 1))[:8]
                frames = [constant_block_frame(buf[4 * f:4 * f + 4])
                          for f in range(2)]
                data.append(encode_avi_mjpeg(frames, 16, 16))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return avi_frame_stats(media)


@gate("mm10_ipv_video", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
b AS (
  SELECT doc_id, (i // 4) AS fi,
         ('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT AS byte
  FROM h, unnest(range(0, 12)) AS t(i)
)
SELECT doc_id AS media_id, fi::INT AS frame_idx, (fi = 0) AS is_key,
       16 AS width, 16 AS height, sum(byte) / 4.0 AS mean_r,
       sum(byte) / 4.0 AS mean_g, sum(byte) / 4.0 AS mean_b
FROM b GROUP BY 1, 2, 3
""")
def mm10_ipv_video(spark, sf_dir):
    """Delta-frame (inter-coded) video: each document's first twelve
    bytes become three 4-constant-block frames of an IPV1 stream
    (encode_ipv, gop=3 -> one I-frame + two wrap-delta P-frames, each
    JPEG-coded) and ipv_frame_stats walks the container back,
    reconstructing every P-frame against its running reference, via
    Arrow-batched mapInPandas.  Constant blocks round-trip exactly
    through BOTH the intra JPEG and the mod-256 delta planes (the mm08
    contract extended — multimodal.encode_ipv), so the oracle
    recomputes each frame's channel means straight from the source
    bytes: frame f block k reads byte (4f+k) mod n; only frame 0 is a
    keyframe at gop=3."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (
        constant_block_frame, encode_ipv, ipv_frame_stats)
    d = _spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .filter(F.length("text") > 0), spark)

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (12 // len(raw) + 1))[:12]
                frames = [constant_block_frame(buf[4 * f:4 * f + 4])
                          for f in range(3)]
                data.append(encode_ipv(frames, 16, 16, gop=3))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return ipv_frame_stats(media)


@gate("mm03_decode_wav", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
s AS (
  SELECT doc_id,
         abs((('0x' || substr(hx, (2 * (i % n) + 1)::INT, 2))::INT
              - 128) * 256) AS a
  FROM h, unnest(range(0, 64)) AS t(i)
)
SELECT doc_id AS media_id, 1 AS n_channels, 8000 AS sample_rate,
       64 AS n_frames, avg(a) AS mean_abs
FROM s GROUP BY 1
""")
def mm03_decode_wav(spark, sf_dir):
    """REAL audio decode: 64 int16 PCM samples derived from each
    document's bytes are packed into a genuine mono WAV (encode_wav,
    stdlib wave writer) and decode_audio parses the RIFF container back
    (channels, rate, frames, mean |amplitude|).  The oracle recomputes
    from the source bytes; mean_abs is an exact double (integer sum /
    64)."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (decode_audio,
                                                          encode_wav)
    d = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
         .filter(F.length("text") > 0))

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (64 // len(raw) + 1))[:64]
                data.append(encode_wav([(b - 128) * 256 for b in buf]))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return decode_audio(media)


@gate("dp01_dump_index", ORACLE_POSTINGS + """
SELECT p.keyword,
       'doc' || (CASE WHEN length(doc_id::VARCHAR) > 6 THEN doc_id::VARCHAR ELSE lpad(doc_id::VARCHAR, 6, '0') END) || '.example.com' AS doc_key,
       p.score
FROM idx p WHERE p.keyword LIKE 'lang:%'
""")
def dp01_dump_index(spark, sf_dir):
    """S6/J7 (ca-dump.cc:96-129): full-scan dump of the index joined to
    document names, with the prefix seek filter — the ca-dump surface,
    previously pytest-only."""
    from cantera_table_spark.sources.dump import dump_index_with_summaries
    return dump_index_with_summaries(_engine(spark, sf_dir).catalog,
                                     key_filter="^lang:")


@gate("dp02_dump_timeseries", """
SELECT event_type AS key, strftime(ts, '%Y/%m/%d %H:%M') AS time, value
FROM events
""")
def dp02_dump_timeseries(spark, sf_dir):
    """S6/X3 (ca-dump.cc:148-216): time-series dump under a custom
    strftime-style format (minute truncation exercises real
    formatting, not just default rendering)."""
    from cantera_table_spark.model import derive_timeseries
    from cantera_table_spark.sources.dump import dump_timeseries
    return dump_timeseries(derive_timeseries(spark, sf_dir),
                           time_format="yyyy/MM/dd HH:mm")


@gate("sk01_salted_rollup", ORACLE_POSTINGS + """
SELECT keyword, count(*) AS n, round(sum(score), 3) AS total
FROM idx GROUP BY 1
""")
def sk01_salted_rollup(spark, sf_dir):
    """Skew lever 2 (operators/skew.py): two-phase salted count+sum
    over the whole index must equal the plain aggregate — the oracle IS
    the plain aggregate, so the salting's algebraic correctness is
    driver-verified (hot keys split across n_salts reducers, partials
    recombined)."""
    from cantera_table_spark.operators.skew import salted_count_sum
    idx = _engine(spark, sf_dir).catalog.index()
    out = salted_count_sum(idx, ["keyword"], "score", n_salts=8)
    return out.select("keyword", "n",
                      F.round("total", 3).alias("total"))


@gate("x02_export_results", ORACLE_POSTINGS + """
SELECT p.doc_id,
       '{"_key":"doc' || (CASE WHEN length(p.doc_id::VARCHAR) > 6 THEN p.doc_id::VARCHAR ELSE lpad(p.doc_id::VARCHAR, 6, '0') END)
       || '.example.com"'
       || (CASE WHEN d.lang IS NULL THEN ''
                ELSE ',"lang":"' || d.lang || '"' END)
       || (CASE WHEN d.source IS NULL THEN ''
                ELSE ',"source":"' || d.source || '"' END)
       || (CASE WHEN d.n_chars IS NULL THEN ''
                ELSE ',"n_chars":' || d.n_chars END)
       || '}' AS result_json
FROM idx p JOIN documents d ON d.doc_id = p.doc_id
WHERE p.keyword = 'slow'
""")
def x02_export_results(spark, sf_dir):
    """Distributed full-result JSON export (query.cc:862-890
    concatenation scheme): every matching doc becomes one JSON line
    assembled executor-side — the path for exporting millions of
    results without driver collection; the oracle rebuilds the exact
    strings."""
    eng = _engine(spark, sf_dir)
    return eng.export_results(parse_query("slow"))


@gate("mm04_thumbnail", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
px AS (
  SELECT doc_id, ch.ch,
         ('0x' || substr(hx,
             (2 * ((((rr.r * 2) * 8 + cc.c * 2) * 3 + ch.ch) % n)
              + 1)::INT, 2))::INT AS byte
  FROM h,
       unnest(range(0, 4)) AS rr(r),
       unnest(range(0, 4)) AS cc(c),
       unnest(range(0, 3)) AS ch(ch)
)
SELECT doc_id AS media_id, 4 AS width, 4 AS height,
       avg(byte) FILTER (ch = 0) AS mean_b,
       avg(byte) FILTER (ch = 1) AS mean_g,
       avg(byte) FILTER (ch = 2) AS mean_r
FROM px GROUP BY 1
""")
def mm04_thumbnail(spark, sf_dir):
    """Distributed thumbnailing: synthesize an 8x8 BMP per document,
    nearest-neighbour resize to 4x4 (resize_bmp_nearest: real pixel
    indexing, re-encoded BMP), decode the thumbnail.  The oracle
    samples the same pixel grid (rows/cols 0,2,4,6 of the cycled byte
    buffer) straight from the source bytes — resize + both codec passes
    are verified value-exact."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (
        decode_images, encode_bmp, resize_bmp_nearest)
    d = _spread(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .filter(F.length("text") > 0), spark)

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (192 // len(raw) + 1))[:192]
                data.append(resize_bmp_nearest(encode_bmp(buf, 8, 8), 4, 4))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return decode_images(media)


@gate("tx08_repetition", """
WITH arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, 1 AS k, toks[i] AS gram
  FROM arrs, unnest(range(1, greatest(len(toks), 0) + 1)) AS t(i)
  UNION ALL
  SELECT doc_id, 2, array_to_string(list_slice(toks, i, i + 1), ' ')
  FROM arrs, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t(i)
  UNION ALL
  SELECT doc_id, 3, array_to_string(list_slice(toks, i, i + 2), ' ')
  FROM arrs, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t(i)
),
c AS (SELECT doc_id, k, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
a AS (
  SELECT doc_id,
         sum(CASE WHEN k = 1 THEN cnt END) AS tot1,
         count(CASE WHEN k = 1 THEN 1 END) AS dist1,
         sum(CASE WHEN k = 2 THEN cnt END) AS tot2,
         max(CASE WHEN k = 2 THEN cnt END) AS mx2,
         sum(CASE WHEN k = 3 THEN cnt END) AS tot3,
         max(CASE WHEN k = 3 THEN cnt END) AS mx3
  FROM c GROUP BY 1
)
SELECT d.doc_id,
       round(coalesce((tot1 - dist1)::DOUBLE / tot1, 0.0), 6)
         AS dup_token_frac,
       round(coalesce(mx2::DOUBLE / tot2, 0.0), 6) AS top_bigram_frac,
       round(coalesce(mx3::DOUBLE / tot3, 0.0), 6) AS top_trigram_frac
FROM documents d LEFT JOIN a USING (doc_id)
""")
def tx08_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-token
    fraction and most-frequent-bigram/-trigram fractions per document
    (explode -> groupBy, never a per-row quadratic scan)."""
    from cantera_table_spark.functions.text import with_repetition_stats
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition_stats(d).drop("text")


@gate("tx09_pii_scrub", r"""
WITH dirty AS (
  SELECT doc_id,
    text
    || (CASE WHEN doc_id % 3 = 0
        THEN ' user' || doc_id::VARCHAR || '@mail.example.com'
        ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0
        THEN ' 10.' || (doc_id % 256)::VARCHAR || '.0.'
             || (doc_id % 100)::VARCHAR
        ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0
        THEN ' +1 555 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text,
      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text, '\+\d{1,2} \d{3} \d{4}')) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(text,
      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\+\d{1,2} \d{3} \d{4}', '<PHONE>', 'g') AS text_clean
FROM dirty
""")
def tx09_pii_scrub(spark, sf_dir):
    """PII count + redaction over a deterministically dirtied corpus
    (synthetic emails/IPs/phones injected per doc_id residue, same
    recipe in the oracle).  Pure regexp column expressions — one
    codegen'd scan, zero shuffles."""
    from cantera_table_spark.functions.text import (
        scrub_pii, with_pii_stats)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sid = F.col("doc_id").cast("string")
    dirty = d.withColumn("text", F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" user"), sid,
                        F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" 10."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".0."),
                        (F.col("doc_id") % 100).cast("string"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" +1 555 "),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit(""))))
    return (scrub_pii(with_pii_stats(dirty))
            .select("doc_id", "n_email", "n_ipv4", "n_phone",
                    "text_clean"))


@gate("dd09_decontaminate", ORACLE_SHINGLES + """
, bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 23 = 0),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM sh JOIN bench USING (shingle)
  WHERE doc_id % 23 <> 0
  GROUP BY 1
)
SELECT d.doc_id, coalesce(h.n, 0) AS n_contaminated_shingles,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 23 <> 0
""")
def dd09_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per corpus doc, count of 3-gram
    shingles shared with the held-out benchmark slice (doc_id % 23 = 0)
    via a broadcast semi-structure — corpus shingles never shuffle."""
    from cantera_table_spark.functions.dedup import decontaminate
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 23 == 0)
    corpus = d.filter(F.col("doc_id") % 23 != 0)
    return decontaminate(corpus, bench, n=3)


@gate("ds01_stratified_sample", """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('samp:' || doc_id::VARCHAR), doc_id
         ) AS sample_rank
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 25
""")
def ds01_stratified_sample(spark, sf_dir):
    """Deterministic stratified quota sampling (25 docs per language,
    smallest salted-md5 hash wins — a stable uniform permutation the
    oracle replays bit-for-bit)."""
    from cantera_table_spark.functions.sampling import stratified_sample
    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", quota=25)


@gate("st03_stream_dedup", """
SELECT DISTINCT md5(text) AS content_hash FROM documents
""")
def st03_stream_dedup(spark, sf_dir):
    """Streaming exact dedup end-to-end on the bounded-state scale
    path: documents stream in as TSV drops with synthetic event times,
    dropDuplicatesWithinWatermark keeps the first row per content
    hash, and the availableNow parquet sink commits the survivors.
    The surviving hash SET is deterministic (survivor rows are not,
    across a shuffled source), so the gate returns hashes only; the
    oracle is the batch distinct.  Text rides the TSV drop through the
    engine's escape/unescape pair (X5, format.cc:247-268) so embedded
    tabs/newlines round-trip losslessly; empty text coalesces back
    from the csv reader's empty-field NULL."""
    import shutil
    from cantera_table_spark.sources.ingest import (escape_tsv,
                                                    _unescape_tsv)
    from cantera_table_spark.streaming.ingest import (
        start_parquet_sink, streaming_exact_dedup)
    d = load_table(spark, sf_dir, "documents")
    lines = d.select(F.concat_ws(
        "\t", F.col("doc_id").cast("string"),
        escape_tsv(F.col("text"))).alias("value"))
    base = _gate_tmp(sf_dir, "st03")
    shutil.rmtree(base, ignore_errors=True)
    lines.coalesce(2).write.mode("overwrite").text(f"{base}/src")
    raw = (spark.readStream.option("sep", "\t").option("quote", "")
           .schema("doc_id long, text string").csv(f"{base}/src"))
    stream = (raw.withColumn(
        "text", F.coalesce(_unescape_tsv(F.col("text")), F.lit("")))
        .withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))))
    deduped = streaming_exact_dedup(stream, hash_cols=("text",),
                                    ts_col="ts", watermark="1 hour")
    q = start_parquet_sink(deduped, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/sink")
            .select("content_hash").distinct())


@gate("mm07_decode_gif", """
WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents WHERE octet_length(encode(text)) > 0),
px AS (
  SELECT doc_id, ff.f AS frame_idx,
         ('0x' || substr(hx, 2 * ((ff.f * 16 + pp.p) % n) + 1, 2))::INT
           AS byte
  FROM h, unnest([0, 2]) AS ff(f), unnest(range(0, 16)) AS pp(p)
)
SELECT doc_id AS media_id, frame_idx, 4 AS width, 4 AS height,
       avg(byte) AS mean_r, avg(byte) AS mean_g, avg(byte) AS mean_b
FROM px GROUP BY 1, 2
""")
def mm07_decode_gif(spark, sf_dir):
    """Animated-GIF frame sampling end-to-end on a REAL container
    format: each doc becomes a 3-frame 4x4 greyscale GIF (indices =
    cycled UTF-8 bytes), written by the real LZW encoder, decoded by
    the real LZW decoder, frames 0 and 2 sampled (every_n=2).  The
    oracle recomputes per-frame means straight from the cycled source
    bytes, so palette mapping + LZW both passes are value-verified."""
    import pandas as pd
    from cantera_table_spark.functions.multimodal import (
        encode_gif, gif_frame_stats)
    d = (load_table(spark, sf_dir, "documents").select("doc_id", "text")
         .filter(F.length("text") > 0))

    def synth(it):
        for pdf in it:
            data = []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                buf = (raw * (48 // len(raw) + 1))[:48]
                data.append(encode_gif(
                    [buf[f * 16:(f + 1) * 16] for f in range(3)], 4, 4))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "data": data})

    media = d.mapInPandas(synth, "media_id long, data binary")
    return gif_frame_stats(media, every_n=2)


@gate("ds02_weighted_sample", """
WITH q(lang, quota) AS (VALUES ('en', 40), ('de', 10), ('es', 15),
                               ('zh', 20)),
r AS (
  SELECT d.lang, d.doc_id,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5('samp:' || d.doc_id::VARCHAR), d.doc_id
         ) AS sample_rank
  FROM documents d JOIN q USING (lang)
)
SELECT r.lang, r.doc_id, r.sample_rank
FROM r JOIN q USING (lang) WHERE r.sample_rank <= q.quota
""")
def ds02_weighted_sample(spark, sf_dir):
    """Data-mixing form of stratified sampling: per-language budgets
    (en 40 / de 10 / es 15 / zh 20; fr deliberately absent — no quota,
    no rows).  The literal max-quota rank filter keeps Spark's
    WindowGroupLimit; the broadcast quota table refines per stratum."""
    from cantera_table_spark.functions.sampling import stratified_sample
    d = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", {"en": 40, "de": 10, "es": 15, "zh": 20})


@gate("dd10_line_dedup", """
WITH lined AS (
  SELECT doc_id,
         coalesce(array_to_string(list_slice(toks, 1, 10), ' '), '')
         || chr(10) || 'shared boilerplate footer line' || chr(10) ||
         coalesce(array_to_string(list_slice(toks, 11, 20), ' '), '')
           AS text
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS toks
        FROM documents)
),
lines AS (
  SELECT doc_id, u.i - 1 AS pos, parts[u.i] AS line,
         trim(parts[u.i]) AS key
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM lined),
       unnest(range(1, len(parts) + 1)) AS u(i)
),
rk AS (
  SELECT doc_id, pos, line, key,
         row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
  FROM lines
),
keep AS (SELECT doc_id, pos, line FROM rk WHERE key = '' OR rn = 1),
tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1)
SELECT t.doc_id, t.n_lines,
       t.n_lines - count(k.pos) AS n_removed,
       coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text
FROM tot t LEFT JOIN keep k USING (doc_id)
GROUP BY t.doc_id, t.n_lines
""")
def dd10_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line dedup: every non-blank line survives
    only at its first (doc_id, pos) occurrence.  The fixture corpus is
    single-line bags of words, so the gate synthesizes a lined corpus
    deterministically (10-token prefix line, a shared boilerplate
    footer planted in EVERY document, 10-token suffix line); the
    boilerplate line must survive exactly once and prefix/suffix
    collisions dedup on first occurrence.  The oracle replays the
    synthesis and the first-occurrence rule with a window."""
    from cantera_table_spark.functions.text import dedup_lines, tokens
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.slice(toks, 1, 10)),
            F.lit("shared boilerplate footer line"),
            F.concat_ws(" ", F.slice(toks, 11, 10))).alias("text"))
    return dedup_lines(lined)


@gate("tx10_lm_score", """
WITH toks AS (
  SELECT doc_id, t.i, l[t.i] AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS l
        FROM documents),
       unnest(range(1, len(l) + 1)) AS t(i)
),
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks QUALIFY w2 IS NOT NULL
),
uni AS (SELECT tok AS w1, count(*) AS c1 FROM toks GROUP BY 1),
v AS (SELECT count(*)::DOUBLE AS vv FROM uni),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
sc AS (
  SELECT b.doc_id, ln((c.c12 + 1) / (u.c1 + v.vv)) AS logp
  FROM big b JOIN c12 c USING (w1, w2) JOIN uni u USING (w1), v
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(-avg(logp), 6) AS avg_nll,
         round(exp(-avg(logp)), 4) AS ppl
  FROM sc GROUP BY 1
)
SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       a.avg_nll AS nll_avg, a.ppl
FROM documents d LEFT JOIN agg a USING (doc_id)
""")
def tx10_lm_score(spark, sf_dir):
    """Bigram-LM perplexity quality score (CCNet/KenLM-shaped filter)
    trained on the corpus itself with add-one smoothing; identical
    double expression tree on both engines, averages rounded.  avg_nll
    is surfaced as nll_avg so the comparator's alphabetical column
    sort leads with the non-null unique doc_id (avg_nll is NULL for
    sub-2-token docs, and a NULL in the first sorted column breaks
    row ordering)."""
    from cantera_table_spark.functions.text import lm_quality_score
    return (lm_quality_score(load_table(spark, sf_dir, "documents"))
            .select("doc_id", "n_bigrams",
                    F.col("avg_nll").alias("nll_avg"), "ppl"))


@gate("ds03_pack_sequences", """
WITH RECURSIVE base AS (
  SELECT doc_id, doc_id % 4 AS shard,
         coalesce(len(list_filter(
             regexp_split_to_array(lower(text), '[^a-z]+'),
             x -> x <> '')), 0)::BIGINT AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 4
                            ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS fill, 0::BIGINT AS bin
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.shard, b.rn, b.doc_id, b.n_tokens,
         CASE WHEN p.fill + b.n_tokens <= 200
              THEN p.fill + b.n_tokens ELSE b.n_tokens END,
         CASE WHEN p.fill + b.n_tokens <= 200
              THEN p.bin ELSE p.bin + 1 END
  FROM pack p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1
)
SELECT doc_id, shard, bin, n_tokens, n_tokens > 200 AS oversize
FROM pack
""")
def ds03_pack_sequences(spark, sf_dir):
    """Greedy sequential token packing into capacity-200 bins across 4
    shards (training-batch assembly).  Spark packs each shard with one
    Arrow-batched linear scan; the oracle replays the identical greedy
    recurrence as a recursive CTE."""
    from cantera_table_spark.functions.packing import pack_sequences
    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, capacity=200, n_shards=4)


@gate("sim07_quantized_topk", """
WITH vals AS (
  SELECT vec_id, u.i AS dim, embedding[u.i]::DOUBLE AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM vals GROUP BY 1),
deq AS (
  SELECT v.vec_id, v.dim,
         CASE WHEN s.mx = s.mn THEN s.mn
              ELSE s.mn + (least(floor(((v.x - s.mn) * 255.0)
                                       / (s.mx - s.mn)), 255.0)
                           * (s.mx - s.mn)) / 255.0 END AS xq
  FROM vals v JOIN stats s USING (dim)
),
vecs AS (SELECT vec_id, list(xq ORDER BY dim) AS v FROM deq GROUP BY 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM vecs),
scored AS (
  SELECT query_id, neighbor_id,
    round(
      list_reduce(list_prepend(0.0, list_transform(
        range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, b) -> a + b)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
       * sqrt(list_reduce(list_prepend(0.0, list_transform(
           range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b))),
      6) AS cos
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos)) t
WHERE rank <= 5
""")
def sim07_quantized_topk(spark, sf_dir):
    """Exact cosine top-5 over int8-scalar-quantized embeddings (the
    4x-smaller index a 100 TB ANN deployment persists): global
    per-dimension floor quantization, dequantize, then the sim01
    brute-force ranking.  The oracle replays quantization and cosine
    with the identical IEEE expression order, so scores match
    bit-for-bit before rounding."""
    from cantera_table_spark.functions.similarity import (
        brute_force_topk, quantize_embeddings)
    emb = load_table(spark, sf_dir, "embeddings")
    # cache: the corpus side and the (broadcast) query side both read
    # the quantized table — without it the stats aggregate + transform
    # subtree executes twice
    qd = _GATE_CACHES.persist(quantize_embeddings(emb))
    return brute_force_topk(qd, qd.filter(F.col("vec_id") < 10), k=5,
                            vec_col="embedding_q")


@gate("ds04_shuffle_shards", """
WITH r AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('shuf:' || doc_id::VARCHAR), doc_id
         ) AS shuffle_rank
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, shuffle_rank, (shuffle_rank - 1) % 4 AS shard FROM r
""")
def ds04_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle for training order: salted-md5
    permutation, distributed global rank, round-robin shard.  The
    oracle replays the permutation with a plain window."""
    from cantera_table_spark.functions.packing import shuffle_shards
    d = load_table(spark, sf_dir, "documents")
    return shuffle_shards(d, n_shards=4)


@gate("dd11_repeated_spans", """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
eligible AS (SELECT doc_id, toks, len(toks) AS n_tokens
             FROM base WHERE len(toks) >= 3),
wins AS (
  SELECT doc_id, n_tokens, u.i AS pos,
         md5(array_to_string(list_slice(toks, u.i, u.i + 2), ' ')) AS wh
  FROM eligible, unnest(range(1, n_tokens - 1)) AS u(i)
),
dup AS (
  SELECT wh FROM (SELECT wh, doc_id FROM wins GROUP BY 1, 2) t
  GROUP BY wh HAVING count(*) >= 2
),
hits AS (SELECT w.* FROM wins w JOIN dup USING (wh)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                        ORDER BY pos) <= 3
              THEN 0 ELSE 1 END AS newspan
  FROM hits
),
sids AS (
  SELECT doc_id, pos,
         sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
spans AS (
  SELECT doc_id, sid, count(*) AS nwin,
         max(pos) + 2 - min(pos) + 1 AS toklen
  FROM sids GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(nwin)::BIGINT AS n_shared_windows,
         sum(toklen)::BIGINT AS rep_toks
  FROM spans GROUP BY 1
)
SELECT e.doc_id, e.n_tokens, e.n_tokens - 2 AS n_windows,
       coalesce(a.n_shared_windows, 0) AS n_shared_windows,
       coalesce(a.n_spans, 0) AS n_spans,
       round(coalesce(a.rep_toks, 0) / e.n_tokens, 6)
         AS repeated_token_frac
FROM eligible e LEFT JOIN agg a USING (doc_id)
""")
def dd11_repeated_spans(spark, sf_dir):
    """Exact-substring repetition across documents (Lee et al. 2021
    style): 3-token windows shared by >= 2 docs, merged into maximal
    per-doc spans; per-doc coverage stats.  Two-phase distinct count,
    hash-keyed hit join, per-doc span windows — the oracle replays the
    span-merge recurrence with lag/sum windows."""
    from cantera_table_spark.functions.dedup import repeated_spans
    d = load_table(spark, sf_dir, "documents")
    return repeated_spans(d, n=3, min_docs=2)


@gate("tx11_length_quantiles", """
WITH counts AS (
  SELECT lang,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> ''))::DOUBLE AS n_tokens
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       round(quantile_cont(n_tokens, 0.5), 6) AS p50,
       round(quantile_cont(n_tokens, 0.9), 6) AS p90,
       round(quantile_cont(n_tokens, 0.99), 6) AS p99
FROM counts GROUP BY lang
""")
def tx11_length_quantiles(spark, sf_dir):
    """Per-language token-count distribution quantiles (the numbers a
    corpus curator sets length-filter thresholds from).  Spark's exact
    `percentile` and DuckDB's `quantile_cont` share the same
    linear-interpolation definition, so values match to rounding.
    Exact percentile sorts per group — fine for bounded group counts
    (languages); at 100 TB switch to approx_percentile and drop the
    oracle to a tolerance check."""
    from cantera_table_spark.functions.text import tokens
    d = load_table(spark, sf_dir, "documents")
    nt = d.select("lang",
                  F.size(tokens(F.col("text"))).cast("double")
                  .alias("n_tokens"))
    return (nt.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.percentile("n_tokens", F.lit(0.5)), 6)
                 .alias("p50"),
                 F.round(F.percentile("n_tokens", F.lit(0.9)), 6)
                 .alias("p90"),
                 F.round(F.percentile("n_tokens", F.lit(0.99)), 6)
                 .alias("p99")))


@gate("st04_stream_sessionize", """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
    THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM marked
),
sess AS (
  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 3) AS total_value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY min(ts) DESC) AS rk
  FROM sid GROUP BY user_id, s
),
mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sess, mx
WHERE rk > 1
   OR (epoch_us(session_end) // 1000 + 1800 * 1000)
      < (mx_us // 1000 - 3600 * 1000)
""")
def st04_stream_sessionize(spark, sf_dir):
    """The custom stateful streaming operator end-to-end: events stream
    in from a file drop, applyInPandasWithState folds them into
    gap-1800s sessions, the availableNow parquet sink commits emitted
    sessions.  One source file -> one micro-batch, so the emitted set
    is deterministic: every gap-closed session, PLUS the open sessions
    the availableNow wrap-up batch flushes by event-time timeout —
    Spark fires a timeout when the final watermark (max event time -
    1 h) strictly passes the session's timeout timestamp (end + gap,
    millisecond precision).  Only users active within the trailing
    watermark+gap horizon stay open/unemitted.  The oracle replays the
    gap-merge AND the timeout rule."""
    import shutil
    from cantera_table_spark.streaming.ingest import start_parquet_sink
    from cantera_table_spark.streaming.sessionize import sessionize_stream
    e = load_table(spark, sf_dir, "events")
    e = e.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    lines = e.select(F.concat_ws(
        "\t", F.col("user_id").cast("string"),
        F.unix_micros("ts").cast("string"),
        F.col("value").cast("string")).alias("value"))
    base = _gate_tmp(sf_dir, "st04")
    shutil.rmtree(base, ignore_errors=True)
    lines.coalesce(1).write.mode("overwrite").text(f"{base}/src")
    raw = (spark.readStream.option("sep", "\t").option("quote", "")
           .schema("user_id long, ts_us long, value double")
           .csv(f"{base}/src"))
    stream = (raw.select("user_id",
                         F.timestamp_micros(F.col("ts_us")).alias("ts"),
                         "value"))
    sess = sessionize_stream(stream, gap_seconds=1800)
    q = start_parquet_sink(sess, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/sink")
            .select("user_id", "session_start", "session_end", "n_events",
                    F.round("total_value", 3).alias("total_value")))


@gate("tx12_bpe_pairs", """
WITH words AS (
  SELECT t.tok AS w, count(*) AS freq
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
  GROUP BY 1
),
pairs AS (
  SELECT freq, substr(w, u.i, 2) AS pair
  FROM words, unnest(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
)
SELECT pair, sum(freq)::BIGINT AS pair_count FROM pairs GROUP BY 1
ORDER BY pair_count DESC, pair LIMIT 30
""")
def tx12_bpe_pairs(spark, sf_dir):
    """BPE tokenizer-training pair statistics: corpus-weighted adjacent
    character-pair counts over the word-frequency table (O(vocabulary)
    after the first collapse), top-30 merge candidates."""
    from cantera_table_spark.functions.text import bpe_pair_stats
    d = load_table(spark, sf_dir, "documents")
    return (bpe_pair_stats(d)
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(30))


@gate("dd12_dedup_apply", ORACLE_SHINGLES + ORACLE_CC + """
, absorbed AS (
  SELECT canonical_id, count(*) - 1 AS n_duplicates_removed
  FROM cc GROUP BY 1
)
SELECT d.doc_id, d.text, a.n_duplicates_removed
FROM documents d
JOIN cc c ON c.doc_id = d.doc_id AND c.canonical_id = d.doc_id
JOIN absorbed a ON a.canonical_id = d.doc_id
""")
def dd12_dedup_apply(spark, sf_dir):
    """The dedup DECISION applied: run the full LSH -> verify ->
    cluster pipeline, keep only canonical documents, count absorbed
    duplicates per survivor — the end-to-end near-dedup a corpus
    curator actually ships."""
    from cantera_table_spark.functions.dedup import (
        apply_dedup, duplicate_clusters, exploded_shingles, jaccard_pairs,
        lsh_candidate_pairs_arrays, shingle_arrays)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    arrs = shingle_arrays(d)
    cands = lsh_candidate_pairs_arrays(arrs, k=16, bands=4)
    pairs = jaccard_pairs(exploded_shingles(arrs), min_jaccard=0.12,
                          candidates=cands)
    clusters = duplicate_clusters(d.select("doc_id"), pairs,
                                  caches=_GATE_CACHES)
    return apply_dedup(d, clusters)


@gate("ds05_packed_text", """
WITH RECURSIVE base AS (
  SELECT doc_id, text, doc_id % 4 AS shard,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> ''))::BIGINT AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 4
                            ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT shard, rn, doc_id, text, n_tokens, n_tokens AS fill,
         0::BIGINT AS bin
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.shard, b.rn, b.doc_id, b.text, b.n_tokens,
         CASE WHEN p.fill + b.n_tokens <= 200
              THEN p.fill + b.n_tokens ELSE b.n_tokens END,
         CASE WHEN p.fill + b.n_tokens <= 200
              THEN p.bin ELSE p.bin + 1 END
  FROM pack p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1
)
SELECT shard, bin, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
FROM pack GROUP BY 1, 2
""")
def ds05_packed_text(spark, sf_dir):
    """Training sequences materialized from the packing assignment:
    per (shard, bin), member text concatenated in doc_id order with a
    blank-line separator."""
    from cantera_table_spark.functions.packing import (
        assemble_packed_text, pack_sequences)
    d = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(d, capacity=200, n_shards=4)
    return assemble_packed_text(d, packed)


@gate("tx13_chunking", """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
eligible AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0)
SELECT doc_id, u.i AS chunk_id, (1 + u.i * 24) AS chunk_start,
       len(list_slice(toks, 1 + u.i * 24, least(1 + u.i * 24 + 31, n)))
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, 1 + u.i * 24,
                                  least(1 + u.i * 24 + 31, n)), ' ')
         AS chunk_text
FROM eligible, unnest(range(0, (n + 23) // 24)) AS u(i)
WHERE 1 + u.i * 24 <= n
""")
def tx13_chunking(spark, sf_dir):
    """Overlapping token-window chunking (chunk=32, overlap=8, stride
    24) — the embedding-side splitter.  Zero-shuffle, pure codegen."""
    from cantera_table_spark.functions.text import chunk_documents
    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


@gate("ir01_bm25", ORACLE_POSTINGS + """
, dfreq AS (SELECT keyword, count(*) AS df FROM postings GROUP BY 1),
dlen AS (SELECT doc_id, sum(score) AS dl FROM postings GROUP BY 1),
corpus AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dlen)
SELECT p.keyword, p.doc_id,
       round(ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1)
             * p.score * 2.2
             / (p.score + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl)), 6)
         AS bm25
FROM postings p
JOIN dfreq f USING (keyword)
JOIN dlen l USING (doc_id), corpus c
""")
def ir01_bm25(spark, sf_dir):
    """Okapi BM25 weights (k1=1.2, b=0.75) over the derived
    term-frequency postings — identical arithmetic expression tree on
    both engines, rounded after the full formula."""
    from cantera_table_spark.functions.retrieval import bm25_scores
    from cantera_table_spark.model import derive_postings
    # cache the derived postings: bm25's plan is a diamond (scoring,
    # document-frequency, corpus-stats branches), and a live
    # tokenize->explode->groupBy lineage re-executes per branch (the
    # scaling harness's own bm25 case materializes for the same
    # reason — r11 review)
    p = _GATE_CACHES.persist(derive_postings(spark, sf_dir))
    return bm25_scores(p)


@gate("ir02_rrf_hybrid", ORACLE_POSTINGS + """
, kw AS (
  -- rank <= 1000 mirrors the engine's KW_CANDIDATES top-k bound:
  -- top_k's (score DESC, doc_id ASC) total order makes the cut
  -- identical to filtering the unbounded ranking at 1000
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM postings WHERE keyword = 'spark') kwall
  WHERE rank <= 1000
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id,
    list_reduce(list_prepend(0.0, list_transform(
      range(1, len(qv) + 1), i -> qv[i] * e.embedding[i]::DOUBLE)),
      (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(e.embedding) + 1),
         i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
         (a, b) -> a + b))) AS cos
  FROM embeddings e, q WHERE e.vec_id <> 0
),
vec AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY round(cos, 6) DESC,
                                      doc_id) AS rank
    FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos)) t
  WHERE rank <= 100
),
contrib AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM kw
  UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM vec
),
fused AS (
  SELECT doc_id, round(sum(c), 6) AS rrf, count(*) AS n_lists
  FROM contrib GROUP BY 1
)
SELECT doc_id, rrf, n_lists,
       row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
FROM fused
""")
def ir02_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of a keyword ranking
    (postings for 'spark', tf-ordered) with a vector ranking (cosine
    top-100 for embedding 0).  doc_id and vec_id share the id space in
    the fixture corpus, as they would in a real hybrid index.

    BOTH candidate lists are bounded BEFORE their single-partition
    rank: the kw side through ``top_k`` (TakeOrderedAndProject — the
    engine's own T1 page pattern), the vector side by k=100.  Without
    the kw bound a hot keyword makes the row_number window
    corpus-sized through one task (r10 verdict finding)."""
    from cantera_table_spark.functions.retrieval import rrf_fuse
    from cantera_table_spark.functions.similarity import brute_force_topk
    from cantera_table_spark.model import derive_postings
    from cantera_table_spark.operators import set_algebra as sa
    p = derive_postings(spark, sf_dir)
    kw = (sa.top_k(p.filter(F.col("keyword") == "spark")
                   .select("doc_id", "score"), KW_CANDIDATES)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.col("score").desc(),
                             F.col("doc_id").asc())))
          .select("doc_id", "rank"))
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=100)
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse({"kw": kw, "vec": vec}, k=60)


@gate("ml01_logreg_quality", """
WITH arrs AS (
  SELECT doc_id, text, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id,
    round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
          / greatest(length(text), 1), 4) AS x1,
    round(len(list_filter(toks, t -> list_contains(
          ['the', 'a', 'of', 'and', 'to'], t)))
          / greatest(len(toks), 1), 4) AS x2,
    len(toks) / 100.0 AS x3,
    (lang = 'en')::INT AS y
  FROM arrs
),
-- trainable rows only: NULL label/features contribute nothing to the
-- sums, so they must not inflate the divisor (lockstep with
-- ml.logreg_train_score's filtered N); NaN features are excluded the
-- same way — one NaN row would turn every gradient sum, weight, and
-- score NaN on BOTH engines (r12 review, lockstep with the engine's
-- float/double feature guard)
tfeats AS (
  SELECT * FROM feats
  WHERE y IS NOT NULL AND x1 IS NOT NULL AND NOT isnan(x1)
    AND x2 IS NOT NULL AND NOT isnan(x2)
    AND x3 IS NOT NULL AND NOT isnan(x3)
),
w1 AS (
  SELECT -(sum((1/(1+exp(-(0.0))) - y))/count(*)) AS b,
         -(sum((1/(1+exp(-(0.0))) - y)*x1)/count(*)) AS a1,
         -(sum((1/(1+exp(-(0.0))) - y)*x2)/count(*)) AS a2,
         -(sum((1/(1+exp(-(0.0))) - y)*x3)/count(*)) AS a3
  FROM tfeats
),
w2 AS (
  SELECT
    w1.b  - sum((1/(1+exp(-(w1.b + w1.a1*x1 + w1.a2*x2 + w1.a3*x3)))
                 - y))/count(*) AS b,
    w1.a1 - sum((1/(1+exp(-(w1.b + w1.a1*x1 + w1.a2*x2 + w1.a3*x3)))
                 - y)*x1)/count(*) AS a1,
    w1.a2 - sum((1/(1+exp(-(w1.b + w1.a1*x1 + w1.a2*x2 + w1.a3*x3)))
                 - y)*x2)/count(*) AS a2,
    w1.a3 - sum((1/(1+exp(-(w1.b + w1.a1*x1 + w1.a2*x2 + w1.a3*x3)))
                 - y)*x3)/count(*) AS a3
  FROM tfeats, w1 GROUP BY w1.b, w1.a1, w1.a2, w1.a3
),
w3 AS (
  SELECT
    w2.b  - sum((1/(1+exp(-(w2.b + w2.a1*x1 + w2.a2*x2 + w2.a3*x3)))
                 - y))/count(*) AS b,
    w2.a1 - sum((1/(1+exp(-(w2.b + w2.a1*x1 + w2.a2*x2 + w2.a3*x3)))
                 - y)*x1)/count(*) AS a1,
    w2.a2 - sum((1/(1+exp(-(w2.b + w2.a1*x1 + w2.a2*x2 + w2.a3*x3)))
                 - y)*x2)/count(*) AS a2,
    w2.a3 - sum((1/(1+exp(-(w2.b + w2.a1*x1 + w2.a2*x2 + w2.a3*x3)))
                 - y)*x3)/count(*) AS a3
  FROM tfeats, w2 GROUP BY w2.b, w2.a1, w2.a2, w2.a3
)
SELECT f.doc_id, f.y,
       round(1/(1+exp(-(w3.b + w3.a1*f.x1 + w3.a2*f.x2 + w3.a3*f.x3))), 4)
         AS p_en
FROM feats f, w3
""")
def ml01_logreg_quality(spark, sf_dir):
    """Trainable quality classifier: 3 full-batch gradient steps of
    logistic regression (bias + alpha_ratio + stopword_ratio +
    n_tokens/100) against the weak label lang == 'en', then score the
    corpus.  The oracle unrolls the identical training recurrence as
    chained CTEs; features are identically rounded on both engines, so
    the only divergence is double-sum order, absorbed by the output
    rounding."""
    from cantera_table_spark.functions.ml import logreg_train_score
    from cantera_table_spark.functions.text import with_text_stats
    d = load_table(spark, sf_dir, "documents")
    st = (with_text_stats(d)
          .select("doc_id", "alpha_ratio", "stopword_ratio",
                  (F.col("n_tokens") / F.lit(100.0)).alias("len_f"),
                  (F.col("lang") == "en").cast("int").alias("y")))
    # register the trainable frame's cache so the with_text_stats
    # lineage runs once, not once per gradient step + scoring (4x the
    # corpus tokenize at larger SFs — r11 review); the gate scope
    # releases it like every other gate intermediate
    scored, _w = logreg_train_score(
        st, ["alpha_ratio", "stopword_ratio", "len_f"], "y",
        steps=3, lr=1.0, out_col="p_en", caches=_GATE_CACHES)
    return scored.select("doc_id", "y", "p_en")


@gate("ev03_funnel", """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
s0 AS (
  SELECT user_id, min(ts) AS stage_0_ts FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
  SELECT e.user_id, min(e.ts) AS stage_1_ts
  FROM ev e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.stage_0_ts GROUP BY 1
),
j1 AS (SELECT s0.user_id, s0.stage_0_ts, s1.stage_1_ts
       FROM s0 LEFT JOIN s1 USING (user_id)),
s2 AS (
  SELECT e.user_id, min(e.ts) AS stage_2_ts
  FROM ev e JOIN j1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > j1.stage_1_ts GROUP BY 1
)
SELECT j1.user_id, j1.stage_0_ts, j1.stage_1_ts, s2.stage_2_ts,
       CASE WHEN s2.stage_2_ts IS NOT NULL THEN 3
            WHEN j1.stage_1_ts IS NOT NULL THEN 2
            ELSE 1 END AS funnel_depth
FROM j1 LEFT JOIN s2 USING (user_id)
""")
def ev03_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase: stage k counts only
    strictly after the key's qualifying stage k-1 time; depth = how
    far each user progressed."""
    from cantera_table_spark.functions.timeseries import funnel
    e = load_table(spark, sf_dir, "events")
    return funnel(e, ["view", "click", "purchase"])


@gate("ev04_retention", """
WITH acts AS (
  SELECT DISTINCT user_id AS k,
         epoch_us(ts) // (86400000000 * 7) AS p
  FROM events WHERE ts IS NOT NULL
),
first AS (SELECT k, min(p) AS c FROM acts GROUP BY 1)
SELECT c AS cohort_period, p - c AS periods_since,
       count(DISTINCT k) AS n_active
FROM acts JOIN first USING (k) GROUP BY 1, 2
""")
def ev04_retention(spark, sf_dir):
    """Weekly cohort retention matrix: users cohorted by first-active
    week, distinct-active counts per (cohort, weeks-since)."""
    from cantera_table_spark.functions.timeseries import retention_cohorts
    e = load_table(spark, sf_dir, "events")
    return retention_cohorts(e, period_days=7)


@gate("sim08_quantized_ivf", """
WITH vals AS (
  SELECT vec_id, u.i AS dim, embedding[u.i]::DOUBLE AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
),
stats AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM vals GROUP BY 1),
deq AS (
  SELECT v.vec_id, v.dim,
         CASE WHEN s.mx = s.mn THEN s.mn
              ELSE s.mn + (least(floor(((v.x - s.mn) * 255.0)
                                       / (s.mx - s.mn)), 255.0)
                           * (s.mx - s.mn)) / 255.0 END AS xq
  FROM vals v JOIN stats s USING (dim)
),
vecs AS (SELECT vec_id, list(xq ORDER BY dim) AS v FROM deq GROUP BY 1),
c AS (SELECT vec_id AS centroid_id, v AS cv
      FROM vecs ORDER BY vec_id LIMIT 8),
assign_scored AS (
  SELECT e.vec_id, c.centroid_id, e.v,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
      i -> v[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS acos
  FROM vecs e, c
),
assign AS (
  SELECT vec_id, centroid_id AS cluster, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC, centroid_id) AS rk
    FROM assign_scored) t
  WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),""" + ORACLE_IVF_PROBE_TAIL)
def sim08_quantized_ivf(spark, sf_dir):
    """The full scale-path ANN index composed end-to-end: int8 scalar
    quantization (4x-smaller stored vectors) + IVF cluster bucketing +
    2-bucket probe — search runs entirely in dequantized space.  The
    oracle chains the quantization CTE into the sim02 IVF replay, so
    every stage of the composed index is hash-verified."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_topk, quantize_embeddings, seed_centroids)
    emb = load_table(spark, sf_dir, "embeddings")
    qd = _GATE_CACHES.persist(quantize_embeddings(emb))
    base = qd.select("vec_id", F.col("embedding_q").alias("embedding"))
    cents = seed_centroids(base, n=8)
    indexed = ivf_assign(base, cents)
    return ivf_topk(indexed, cents,
                    base.filter(F.col("vec_id") < 10), k=5, nprobe=2)


# ORACLE_CC with identity edges: the exact-then-near pipeline also
# merges byte-identical documents too short to shingle, so the oracle
# adds a star of identity edges (doc <-> its content-hash group's min
# id) to the near-dup edge set before the reachability CTE.
_IDENT_EDGES = """ident AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_id, rep FROM ident WHERE doc_id <> rep
  UNION SELECT rep, doc_id FROM ident WHERE doc_id <> rep
),"""
_PLAIN_EDGES = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),"""
assert _PLAIN_EDGES in ORACLE_CC
ORACLE_CC_IDENT = ORACLE_CC.replace(_PLAIN_EDGES, _IDENT_EDGES)


@gate("dd13_dedup_pipeline", ORACLE_SHINGLES + ORACLE_CC_IDENT + """
SELECT doc_id, canonical_id FROM cc
""")
def dd13_dedup_pipeline(spark, sf_dir):
    """The production dedup composition: exact-collapse identical texts
    by content hash, run MinHash/LSH/Jaccard/connected-components on
    unique-text representatives only, expand labels over the corpus —
    clone-count-invariant near-dup work (functions/dedup.py
    near_dup_clusters docstring has the equivalence argument).  The
    oracle runs the near-dup reachability over the FULL corpus plus
    identity edges, which the collapsed pipeline must reproduce."""
    from cantera_table_spark.functions.dedup import near_dup_clusters
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_clusters(docs, caches=_GATE_CACHES)


@gate("ts09_asof_join", """
WITH l AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL
),
r AS (
  SELECT user_id, ts, value FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL
),
u AS (
  SELECT user_id, ts, 1 AS side, event_id FROM l
  UNION ALL
  SELECT user_id, ts, 0, NULL FROM r
),
m AS (
  SELECT user_id, ts, side, event_id,
         max(CASE WHEN side = 0 THEN ts END)
           OVER (PARTITION BY user_id
                 ORDER BY ts ASC NULLS FIRST, side ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS r_ts
  FROM u
),
rmax AS (SELECT user_id, ts, max(value) AS value FROM r GROUP BY 1, 2)
SELECT m.user_id, m.ts, m.event_id, m.r_ts, rmax.value AS r_value
FROM m LEFT JOIN rmax
  ON m.user_id = rmax.user_id AND m.r_ts = rmax.ts
WHERE m.side = 1
""")
def ts09_asof_join(spark, sf_dir):
    """General as-of JOIN (A11 family generalized, correlate.cc:360-462;
    pandas merge_asof semantics): every view event gets the latest
    at-or-before purchase of the same user, with the purchase's value
    attached — union + one window, no join of the two event sets.  The
    oracle replays the same visibility rule with a window max and
    resolves the equal-timestamp tie (max value) via an aggregated
    right side."""
    from cantera_table_spark.functions.timeseries import asof_join
    e = load_table(spark, sf_dir, "events")
    left = (e.filter(F.col("event_type") == "view")
            .select("user_id", "ts", "event_id"))
    right = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "value"))
    return asof_join(left, right, key_col="user_id", ts_col="ts",
                     value_cols=("value",))


@gate("ev05_interval_join", """
SELECT c.event_id AS click_id, c.user_id, c.ts,
       p.event_id AS purchase_id, p.ts AS win_start
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts <= c.ts AND c.ts < p.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""")
def ev05_interval_join(spark, sf_dir):
    """Binned interval join: clicks landing inside [purchase_ts,
    purchase_ts + 1h) windows of the same user.  The theta condition
    becomes an equi-join on (user_id, hour-bin) + residual predicate —
    no BroadcastNestedLoop/cartesian (timeseries.interval_join
    docstring has the cost model)."""
    from cantera_table_spark.functions.timeseries import interval_join
    e = load_table(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      "user_id", "ts"))
    pur = (e.filter(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("purchase_id"), "user_id",
                   F.col("ts").alias("win_start"),
                   (F.col("ts") + F.expr("INTERVAL 1 HOUR"))
                   .alias("win_end")))
    out = interval_join(clicks, pur, ts_col="ts", start_col="win_start",
                        end_col="win_end", key_col="user_id",
                        bin_width_s=3600)
    return out.select("click_id", "user_id", "ts", "purchase_id",
                      "win_start")


@gate("dd14_incremental_dedup", """
WITH h AS (
  SELECT doc_id, text, coalesce(md5(text), '-') AS ch, doc_id % 2 AS side
  FROM documents
),
corpus AS (SELECT * FROM h WHERE side = 0),
batch AS (SELECT * FROM h WHERE side = 1),
reps AS (
  SELECT min(doc_id) AS doc_id, ch, count(*) AS n_copies
  FROM batch GROUP BY ch
),
surv0 AS (
  SELECT r.doc_id, r.n_copies, b.text
  FROM reps r JOIN batch b USING (doc_id)
  WHERE r.ch NOT IN (SELECT ch FROM corpus)
),
pool AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT doc_id, text FROM surv0
),
arrs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM pool
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
  FROM arrs, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t(i)
),
sigs AS (
  SELECT doc_id, i AS h_idx,
         min(((2 * i + 1) * (('0x' || substr(md5(shingle), 1, 8))::BIGINT)
              + 12345 * i + 1) % 4294967311) AS sig
  FROM sh, unnest(range(0, 16)) AS h(i)
  GROUP BY 1, 2
),
banded AS (
  SELECT doc_id, (h_idx // 4) AS band,
         md5(string_agg(h_idx || ':' || sig, ','
                        ORDER BY h_idx || ':' || sig)) AS band_hash
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
),
ver AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.12
),
rej AS (
  SELECT doc_b AS doc_id FROM ver WHERE doc_b % 2 = 1
  UNION
  SELECT doc_a FROM ver WHERE doc_a % 2 = 1 AND doc_b % 2 = 0
)
SELECT doc_id, n_copies FROM surv0
WHERE doc_id NOT IN (SELECT doc_id FROM rej)
""")
def dd14_incremental_dedup(spark, sf_dir):
    """Incremental cross-batch dedup: even doc_ids play the existing
    corpus, odd doc_ids the newly-crawled batch; admitted = batch reps
    that are neither exact- nor near-duplicates (jaccard >= 0.12) of
    the corpus or an earlier batch doc.  The oracle replays the exact
    hash screen, the MinHash/LSH banding, the candidate-restricted
    Jaccard verify, and the greedy rejection rule."""
    from cantera_table_spark.functions.dedup import incremental_dedup
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup(batch, corpus, min_jaccard=0.12)


@gate("ds06_mixture_sample", """
WITH d AS (
  SELECT source, doc_id,
         coalesce(len(list_filter(
             regexp_split_to_array(lower(text), '[^a-z]+'),
             x -> x <> '')), 0)::BIGINT AS n_tokens,
         md5('samp:' || doc_id::VARCHAR) AS h
  FROM documents WHERE doc_id IS NOT NULL
),
q AS (SELECT * FROM (VALUES ('src0', 1200), ('src1', 400), ('src2', 400))
      t(source, quota)),
c AS (
  SELECT d.source, d.doc_id, d.n_tokens, q.quota,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY d.source ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM d JOIN q USING (source)
)
SELECT source, doc_id, n_tokens FROM c WHERE cum < quota
""")
def ds06_mixture_sample(spark, sf_dir):
    """Domain-mixture token-budget sampling: sources src0/src1/src2
    weighted 3:1:1 over a 2000-token budget, filled greedily in
    deterministic hash order.  The Spark side runs the COARSE two-phase
    plan (bucket cumsum + boundary-bucket refinement) while the oracle
    is the naive per-stratum running sum — the hash match IS the
    equivalence proof at gate scale."""
    from cantera_table_spark.functions.sampling import mixture_sample
    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, {"src0": 3.0, "src1": 1.0, "src2": 1.0},
                          total_tokens=2000)


@gate("sim09_pq_topk", """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
seeds0 AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
seeds AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM seeds0
),
cb AS (
  SELECT s.sub_idx, code,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS cv
  FROM seeds, unnest(range(0, 4)) AS s(sub_idx)
),
subs AS (
  SELECT vec_id, s.sub_idx,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS sv
  FROM vecs, unnest(range(0, 4)) AS s(sub_idx)
),
enc_scored AS (
  SELECT subs.vec_id, subs.sub_idx, cb.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(sv) + 1),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))),
           (a, b) -> a + b) AS d
  FROM subs JOIN cb USING (sub_idx)
),
codes AS (
  SELECT vec_id, sub_idx, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_idx
                                 ORDER BY d, code) AS rk
    FROM enc_scored) t
  WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, sub_idx, sv AS qv
      FROM subs WHERE vec_id < 10),
lut AS (
  SELECT q.query_id, q.sub_idx, cb.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(qv) + 1),
             i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))),
           (a, b) -> a + b) AS pd
  FROM q JOIN cb USING (sub_idx)
),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         round(sum(l.pd), 6) AS approx_d2
  FROM codes c JOIN lut l ON l.sub_idx = c.sub_idx AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
""")
def sim09_pq_topk(spark, sf_dir):
    """Product-quantization ANN end-to-end: m=4 subspaces, 8 centroids
    each (seeded deterministically), vectors stored as 4 one-byte
    codes, search by asymmetric-distance LUT join — every stage
    (codebook, encoding argmin, ADC sum, ranking) replayed and
    hash-verified by the oracle."""
    from cantera_table_spark.functions.similarity import (
        pq_codebook, pq_encode, pq_topk)
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("embedding").isNotNull()))
    cb = pq_codebook(emb, m=4, ksub=8)
    codes = pq_encode(emb, cb, m=4)
    return pq_topk(codes, cb, emb.filter(F.col("vec_id") < 10), k=5, m=4)


@gate("st05_stream_stream_join", """
SELECT v.user_id::VARCHAR AS key,
       date_trunc('second', v.ts) AS l_ts,
       v.event_id AS view_id,
       date_trunc('second', p.ts) AS r_ts,
       p.event_id AS purchase_id
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND date_trunc('second', p.ts) <= date_trunc('second', v.ts)
 AND date_trunc('second', v.ts) <
     date_trunc('second', p.ts) + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
  AND v.user_id IS NOT NULL AND p.user_id IS NOT NULL
  AND v.ts IS NOT NULL AND p.ts IS NOT NULL
  AND v.event_id IS NOT NULL AND p.event_id IS NOT NULL
""")
def st05_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream join end-to-end: view and purchase
    events arrive as two independent TSV file streams, inner-join on
    user inside [purchase_ts, purchase_ts + 1h), availableNow into a
    checkpointed parquet sink.  One batch + flush processes everything,
    so the emitted pairs equal the batch interval join — which is
    exactly what the oracle replays (state-eviction semantics are the
    streaming-only difference, documented on stream_stream_join)."""
    import shutil
    from cantera_table_spark.streaming.ingest import (
        start_parquet_sink, stream_stream_join, stream_tsv_timeseries)
    e = load_table(spark, sf_dir, "events")
    ok = (F.col("user_id").isNotNull() & F.col("ts").isNotNull()
          & F.col("event_id").isNotNull())
    base = _gate_tmp(sf_dir, "st05")
    shutil.rmtree(base, ignore_errors=True)
    for kind, sub in [("view", "views"), ("purchase", "purchases")]:
        (e.filter(ok & (F.col("event_type") == kind))
         .select(F.concat_ws(
             "\t", F.col("user_id"),
             F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
             F.col("event_id").cast("string")).alias("value"))
         .coalesce(2).write.mode("overwrite").text(f"{base}/{sub}"))
    views = (stream_tsv_timeseries(spark, f"{base}/views",
                                   date_format="yyyy/MM/dd HH:mm:ss")
             .select("key", F.col("ts").alias("l_ts"),
                     F.col("value").cast("long").alias("view_id")))
    purchases = (stream_tsv_timeseries(spark, f"{base}/purchases",
                                       date_format="yyyy/MM/dd HH:mm:ss")
                 .select("key", F.col("ts").alias("r_ts"),
                         F.col("value").cast("long").alias("purchase_id")))
    joined = stream_stream_join(views, purchases, key_col="key",
                                left_ts="l_ts", right_ts="r_ts",
                                max_span="1 hour", watermark="2 hours")
    q = start_parquet_sink(joined, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/sink")
            .select("key", "l_ts", "view_id", "r_ts", "purchase_id"))


@gate("tx15_ppl_buckets", """
WITH toks AS (
  SELECT doc_id, t.i, l[t.i] AS tok
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> x <> '') AS l
        FROM documents),
       unnest(range(1, len(l) + 1)) AS t(i)
),
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM toks QUALIFY w2 IS NOT NULL
),
uni AS (SELECT tok AS w1, count(*) AS c1 FROM toks GROUP BY 1),
v AS (SELECT count(*)::DOUBLE AS vv FROM uni),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
sc AS (
  SELECT b.doc_id, ln((c.c12 + 1) / (u.c1 + v.vv)) AS logp
  FROM big b JOIN c12 c USING (w1, w2) JOIN uni u USING (w1), v
),
agg AS (
  SELECT doc_id, round(-avg(logp), 6) AS avg_nll FROM sc GROUP BY 1
),
scores AS (
  SELECT d.doc_id, a.avg_nll FROM documents d LEFT JOIN agg a USING (doc_id)
),
cut AS (
  SELECT quantile_cont(avg_nll, 1.0/3.0) AS q1,
         quantile_cont(avg_nll, 2.0/3.0) AS q2
  FROM scores
)
SELECT doc_id, avg_nll AS nll_avg,
       CASE WHEN avg_nll IS NULL THEN 'empty'
            WHEN avg_nll <= cut.q1 THEN 'head'
            WHEN avg_nll <= cut.q2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scores, cut
""")
def tx15_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity buckets from the corpus's own
    avg_nll terciles — broadcast percentile cutoffs + map-side CASE,
    no global sort.  The oracle replays the bigram LM (tx10's CTEs)
    and the tercile split with the shared interpolation definition."""
    from cantera_table_spark.functions.text import ppl_buckets
    return (ppl_buckets(load_table(spark, sf_dir, "documents"),
                        caches=_GATE_CACHES)
            .select("doc_id", F.col("avg_nll").alias("nll_avg"),
                    "ppl_bucket"))


@gate("tx16_kmv_distinct", """
WITH toks AS (
  SELECT d.source, t.tok
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
),
h AS (
  SELECT DISTINCT source,
         ((('0x' || substr(md5(tok), 1, 8))::BIGINT + 1)
          / 4294967296.0) AS u
  FROM toks
),
rk AS (
  SELECT source, u,
         row_number() OVER (PARTITION BY source ORDER BY u) AS r
  FROM h
),
agg AS (
  SELECT source, count(*) AS nd,
         max(CASE WHEN r = 64 THEN u END) AS uk
  FROM rk GROUP BY 1
)
SELECT source,
       CASE WHEN nd < 64 THEN nd::DOUBLE
            ELSE round(63.0 / uk, 4) END AS est_distinct,
       least(nd, 64)::INT AS n_mins
FROM agg
""")
def tx16_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch: per-source distinct-token estimates
    from the 64 smallest portable hashes — bounded mergeable state
    (mapInPandas partials + one k-min merge), and because
    k-min-of-distinct is order- and partition-independent, the oracle
    replays the APPROXIMATE estimator exactly."""
    from cantera_table_spark.functions.sketches import kmv_distinct
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"),
                           lambda x: x != "")).alias("tok"))
    return kmv_distinct(toks, value_col="tok", group_col="source", k=64)


@gate("ev07_rollup_day", """
SELECT CASE WHEN grouping(event_type) = 1 THEN '(all)'
            ELSE coalesce(event_type, '(null)') END AS event_type,
       CASE WHEN grouping(d) = 1 THEN '(all)'
            ELSE coalesce(strftime(d, '%Y-%m-%d'), '(null)') END AS day,
       2 * grouping(event_type) + grouping(d) AS gid,
       count(*) AS n, round(sum(value), 3) AS total
FROM (SELECT event_type, date_trunc('day', ts) AS d, value FROM events)
GROUP BY ROLLUP (event_type, d)
HAVING NOT (grouping(event_type) = 1 AND grouping(d) = 1
            AND count(*) = 0)
""")
def ev07_rollup_day(spark, sf_dir):
    """Hierarchical ROLLUP aggregate (event_type -> day subtotals ->
    grand total), one expand-and-aggregate pass.  Subtotal levels are
    labeled '(all)' via the grouping() flags — distinct from genuine
    NULL data, which labels '(null)' — so the result is null-free and
    comparator-safe on every column.

    Documented divergence (empty input only): ANSI/DuckDB emit the
    grand-total grouping set as one zero-count row even over an empty
    table; Spark's rollup emits nothing.  The engine keeps Spark's
    semantics (empty in -> empty out, like every other operator here);
    the oracle's HAVING drops exactly that zero-count grand-total row,
    which can exist only when the table is empty — on any non-empty
    input the clause matches nothing."""
    e = (load_table(spark, sf_dir, "events")
         .select("event_type",
                 F.date_trunc("day", F.col("ts")).alias("day"), "value"))
    lab_et = (F.when(F.grouping("event_type") == 1, F.lit("(all)"))
              .otherwise(F.coalesce(F.col("event_type"),
                                    F.lit("(null)"))))
    lab_day = (F.when(F.grouping("day") == 1, F.lit("(all)"))
               .otherwise(F.coalesce(
                   F.date_format("day", "yyyy-MM-dd"), F.lit("(null)"))))
    return (e.rollup("event_type", "day")
            .agg(lab_et.alias("__et"), lab_day.alias("__day"),
                 (2 * F.grouping("event_type") +
                  F.grouping("day")).alias("gid"),
                 F.count("*").alias("n"),
                 F.round(F.sum("value"), 3).alias("total"))
            .select(F.col("__et").alias("event_type"),
                    F.col("__day").alias("day"), "gid", "n", "total"))


@gate("dd15_semantic_dedup", """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
c AS (SELECT vec_id AS centroid_id, v AS cv
      FROM vecs ORDER BY vec_id LIMIT 8),
sc AS (
  SELECT e.vec_id, c.centroid_id, e.v,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
      i -> v[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS acos
  FROM vecs e, c
),
assign AS (
  SELECT vec_id, centroid_id AS cluster, v FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC, centroid_id) AS rk
    FROM sc) t
  WHERE rk = 1
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(
    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1),
      i -> a.v[i] * b.v[i])), (x, y) -> x + y)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])), (x, y) -> x + y))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])), (x, y) -> x + y))),
    6) >= 0.35
)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
""")
def dd15_semantic_dedup(spark, sf_dir):
    """SemDeDup: embeddings cluster to the 8 seeded centroids; within
    each cluster, vectors at cosine >= 0.35 to a lower-id member are
    dropped — semantic near-dup pruning with the quadratic restricted
    to within-cluster pairs.  The oracle replays assignment, the
    within-cluster pair scan, and the keep/drop rule."""
    from cantera_table_spark.functions.similarity import semantic_dedup
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("embedding").isNotNull()))
    return semantic_dedup(emb, threshold=0.35, n_clusters=8,
                          caches=_GATE_CACHES)


@gate("sim10_ivfpq_topk", """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
c AS (SELECT vec_id AS centroid_id, v AS cv
      FROM vecs ORDER BY vec_id LIMIT 8),
assign_scored AS (
  SELECT e.vec_id, c.centroid_id,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
      i -> v[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(v) + 1), i -> v[i] * v[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS acos
  FROM vecs e, c
),
assign AS (
  SELECT vec_id, centroid_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY acos DESC, centroid_id) AS rk
    FROM assign_scored) t
  WHERE rk = 1
),
seeds0 AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
seeds AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM seeds0
),
cb AS (
  SELECT s.sub_idx, code,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS cv
  FROM seeds, unnest(range(0, 4)) AS s(sub_idx)
),
subs AS (
  SELECT vec_id, s.sub_idx,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS sv
  FROM vecs, unnest(range(0, 4)) AS s(sub_idx)
),
enc_scored AS (
  SELECT subs.vec_id, subs.sub_idx, cb.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(sv) + 1),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))),
           (a, b) -> a + b) AS d
  FROM subs JOIN cb USING (sub_idx)
),
codes AS (
  SELECT vec_id, sub_idx, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_idx
                                 ORDER BY d, code) AS rk
    FROM enc_scored) t
  WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
probe_scored AS (
  SELECT q.query_id, c.centroid_id,
    list_reduce(list_prepend(0.0, list_transform(range(1, len(qv) + 1),
      i -> qv[i] * cv[i])), (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(cv) + 1), i -> cv[i] * cv[i])), (a, b) -> a + b)))
    AS ccos
  FROM q, c
),
probes AS (
  SELECT query_id, centroid_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY ccos DESC, centroid_id) AS rk
    FROM probe_scored) t
  WHERE rk <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id
),
qsubs AS (
  SELECT vec_id AS query_id, sub_idx, sv AS qv
  FROM subs WHERE vec_id < 10
),
lut AS (
  SELECT q.query_id, q.sub_idx, cb.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(qv) + 1),
             i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))),
           (a, b) -> a + b) AS pd
  FROM qsubs q JOIN cb USING (sub_idx)
),
scored AS (
  SELECT l.query_id, cd.vec_id AS neighbor_id,
         round(sum(l.pd), 6) AS approx_d2
  FROM codes cd
  JOIN cand ca ON ca.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = ca.query_id
            AND l.sub_idx = cd.sub_idx AND l.code = cd.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
""")
def sim10_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed (FAISS IVFADC shape): probe 2 of 8 centroid
    buckets per query, ADC-score only the probed buckets' 4-byte PQ
    codes.  Every stage — assignment, codebook, encoding, probing,
    candidate restriction, ADC ranking — is replayed by the oracle."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivfpq_topk, pq_codebook, pq_encode, seed_centroids)
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("embedding").isNotNull()))
    cents = seed_centroids(emb, n=8)
    indexed = ivf_assign(emb, cents)
    cb = pq_codebook(emb, m=4, ksub=8)
    codes = pq_encode(emb, cb, m=4)
    return ivfpq_topk(indexed, cents, codes, cb,
                      emb.filter(F.col("vec_id") < 10),
                      k=5, nprobe=2, m=4)


@gate("tx17_wordpiece", """
WITH RECURSIVE
toks AS (
  SELECT d.doc_id, t.tok
  FROM documents d,
       unnest(list_filter(regexp_split_to_array(lower(d.text), '[^a-z]+'),
              x -> x <> '')) AS t(tok)
),
wcnt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
words AS (SELECT DISTINCT tok FROM wcnt),
vocab AS (
  SELECT tok AS piece FROM toks
  GROUP BY 1 HAVING count(*) >= 20 AND len(tok) <= 8
  UNION
  SELECT unnest(['a','b','c','d','e','f','g','h','i','j','k','l','m',
                 'n','o','p','q','r','s','t','u','v','w','x','y','z'])
),
r AS (
  SELECT tok, 1 AS pos, 0 AS n_pieces, 0 AS n_unk FROM words
  UNION ALL
  SELECT tok, pos + coalesce(step, 1), n_pieces + 1,
         n_unk + CASE WHEN step IS NULL THEN 1 ELSE 0 END
  FROM (
    SELECT tok, pos, n_pieces, n_unk,
      CASE WHEN substr(tok, pos, 8) IN (SELECT piece FROM vocab) THEN 8
           WHEN substr(tok, pos, 7) IN (SELECT piece FROM vocab) THEN 7
           WHEN substr(tok, pos, 6) IN (SELECT piece FROM vocab) THEN 6
           WHEN substr(tok, pos, 5) IN (SELECT piece FROM vocab) THEN 5
           WHEN substr(tok, pos, 4) IN (SELECT piece FROM vocab) THEN 4
           WHEN substr(tok, pos, 3) IN (SELECT piece FROM vocab) THEN 3
           WHEN substr(tok, pos, 2) IN (SELECT piece FROM vocab) THEN 2
           WHEN substr(tok, pos, 1) IN (SELECT piece FROM vocab) THEN 1
           END AS step
    FROM r WHERE pos <= len(tok)
  ) s
),
fin AS (SELECT tok, n_pieces, n_unk FROM r WHERE pos > len(tok)),
perdoc AS (
  SELECT w.doc_id, sum(w.cnt * f.n_pieces)::BIGINT AS n_pieces,
         sum(w.cnt * f.n_unk)::BIGINT AS n_unk
  FROM wcnt w JOIN fin f USING (tok) GROUP BY 1
)
SELECT d.doc_id, coalesce(p.n_pieces, 0) AS n_pieces,
       coalesce(p.n_unk, 0) AS n_unk
FROM documents d LEFT JOIN perdoc p USING (doc_id)
""")
def tx17_wordpiece(spark, sf_dir):
    """Tokenizer APPLICATION: greedy longest-match subword encoding
    under a corpus-derived vocab (frequent whole words <= 8 chars +
    single characters), reported as per-doc piece/UNK counts.  The
    greedy kernel runs over DISTINCT words only (the corpus joins the
    encoded word table); the oracle replays the same greedy recurrence
    as a recursive CTE.  The vocab is a PERSISTED tokenizer-file
    artifact (wordpiece_vocab_file — derived once by a Spark write
    job, loaded worker-side by the kernel): no driver collect anywhere
    on the path, the way a production vocab is a file, not a query.
    The artifact path embeds the documents table's mtime so regenerated
    testdata re-derives instead of reusing a stale vocab."""
    import os
    from cantera_table_spark.functions.text import (wordpiece_doc_stats,
                                                    wordpiece_vocab_file)
    docs = load_table(spark, sf_dir, "documents")
    try:
        mtime = int(os.path.getmtime(
            os.path.join(sf_dir, "documents.parquet")))
    except OSError:
        mtime = 0
    path = _gate_tmp(sf_dir, f"wordpiece_vocab_{mtime}")
    return wordpiece_doc_stats(docs, wordpiece_vocab_file(docs, path))


@gate("tpch_q6_forecast", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_forecast(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): a pure filter+aggregate
    whose entire WHERE clause must push into the parquet scan — the
    canonical predicate-pushdown/row-group-pruning demonstration; no
    shuffle beyond the single partial/final aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    f = l.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")) &
        (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) &
        (F.col("l_quantity") < 24))
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
        .alias("revenue"),
        F.count("*").alias("n_rows"))


@gate("ds07_sample_quantiles", """
WITH d AS (
  SELECT source, doc_id, n_chars,
         md5('samp:' || doc_id::VARCHAR) AS h
  FROM documents
),
rk AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS r
  FROM d
),
s AS (SELECT * FROM rk WHERE r <= 15)
SELECT source,
       round(quantile_cont(n_chars, 0.25), 4) AS q25,
       round(quantile_cont(n_chars, 0.50), 4) AS q50,
       round(quantile_cont(n_chars, 0.75), 4) AS q75
FROM s GROUP BY source
""")
def ds07_sample_quantiles(spark, sf_dir):
    """Sample-based quantile estimation, the 100 TB alternative to
    exact per-stratum percentiles (tx11): a deterministic 15-doc
    hash-order sample per source (stratified_sample's
    WindowGroupLimit-bounded plan — shuffle O(partitions * quota), not
    the corpus) feeds an exact percentile over the SAMPLE.  The
    estimator is approximate against the corpus but an exact, replayed
    function of the hash sample — so the driver hash-gate applies."""
    from cantera_table_spark.functions.sampling import stratified_sample
    docs = load_table(spark, sf_dir, "documents")
    samp = (stratified_sample(docs.select("source", "doc_id"),
                              "source", quota=15)
            .join(docs.select("doc_id", "n_chars"), "doc_id"))
    v = F.col("n_chars")
    return (samp.groupBy("source")
            .agg(F.round(F.percentile(v, F.lit(0.25)), 4).alias("q25"),
                 F.round(F.percentile(v, F.lit(0.50)), 4).alias("q50"),
                 F.round(F.percentile(v, F.lit(0.75)), 4).alias("q75")))


@gate("st06_stream_quality_dedup", """
WITH q AS (
  SELECT text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
)
SELECT DISTINCT md5(text) AS content_hash
FROM q
WHERE len(toks) >= 40
  AND length(regexp_replace(text, concat('[^.,;:!?', chr(39),
      '"()\\[\\]-]'), '', 'g')) / greatest(length(text), 1) <= 0.2
  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      / greatest(length(text), 1) >= 0.6
  AND len(list_distinct(toks)) / greatest(len(toks), 1) >= 0.1
""")
def st06_stream_quality_dedup(spark, sf_dir):
    """The streaming form of the pretraining front door: documents
    arrive as escaped TSV drops, the quality gate filters in-stream
    (pure column predicates — stream-safe), bounded-state exact dedup
    keeps the first arrival per content hash, availableNow commits the
    survivors.  Deterministic output = the surviving hash SET of
    quality-passing docs (st03's argument); the oracle is the batch
    filter + distinct."""
    import shutil
    from cantera_table_spark.sources.ingest import (_unescape_tsv,
                                                    escape_tsv)
    from cantera_table_spark.functions.text import quality_filter
    from cantera_table_spark.streaming.ingest import (
        start_parquet_sink, streaming_exact_dedup)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull())
    lines = d.select(F.concat_ws(
        "\t", F.col("doc_id").cast("string"),
        escape_tsv(F.col("text"))).alias("value"))
    base = _gate_tmp(sf_dir, "st06")
    shutil.rmtree(base, ignore_errors=True)
    lines.coalesce(2).write.mode("overwrite").text(f"{base}/src")
    raw = (spark.readStream.option("sep", "\t").option("quote", "")
           .schema("doc_id long, text string").csv(f"{base}/src"))
    stream = (raw.select("doc_id",
                         _unescape_tsv(F.col("text")).alias("text"))
              .withColumn("ts", F.timestamp_seconds(
                  F.lit(1704067200) + F.col("doc_id"))))
    passed = quality_filter(stream, min_tokens=40).select(
        "doc_id", "text", "ts")
    deduped = streaming_exact_dedup(passed, hash_cols=("text",),
                                    ts_col="ts", watermark="1 hour")
    q = start_parquet_sink(deduped, f"{base}/sink", f"{base}/ckpt")
    q.awaitTermination()
    return (spark.read.parquet(f"{base}/sink")
            .select("content_hash").distinct())


@gate("in03_json_ingest", """
SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type,
       value
FROM events
WHERE event_id IS NOT NULL
""")
def in03_json_ingest(spark, sf_dir):
    """JSON-lines source breadth (S8 columnfile analogue for the lake
    formats Spark reads natively): events round-trip through a
    JSON-lines drop with an EXPLICIT schema (schema-on-read without
    inference jobs — the 100 TB posture; inference scans the corpus
    twice) and must hash-match the canonical table."""
    import shutil
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull())
    base = _gate_tmp(sf_dir, "in03")
    shutil.rmtree(base, ignore_errors=True)
    (e.select("event_id",
              F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
              "user_id", "event_type", "value")
     .write.mode("overwrite").json(f"{base}/drop"))
    back = (spark.read.schema(
        "event_id long, ts string, user_id long, event_type string, "
        "value double").json(f"{base}/drop"))
    return back.select(
        "event_id",
        F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id", "event_type", "value")


@gate("in04_orc_ingest", """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_id IS NOT NULL
""")
def in04_orc_ingest(spark, sf_dir):
    """ORC source breadth: the same canonical events through an ORC
    round-trip — native columnar alternative to parquet with the same
    pushdown/pruning machinery; exact timestamp fidelity (no
    second-truncation needed, unlike the text formats)."""
    import shutil
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull())
    base = _gate_tmp(sf_dir, "in04")
    shutil.rmtree(base, ignore_errors=True)
    (e.select("event_id", "ts", "user_id", "event_type", "value")
     .write.mode("overwrite").orc(f"{base}/drop"))
    return spark.read.orc(f"{base}/drop")


@gate("ir03_bm25_hybrid", ORACLE_POSTINGS + """
, dfreq AS (SELECT keyword, count(*) AS df FROM postings GROUP BY 1),
dlen AS (SELECT doc_id, sum(score) AS dl FROM postings GROUP BY 1),
corpus AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dlen),
bm AS (
  SELECT p.doc_id,
         round(ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1)
               * p.score * 2.2
               / (p.score + 1.2 * (1 - 0.75 + 0.75 * l.dl / c.avgdl)), 6)
           AS bm25
  FROM postings p
  JOIN dfreq f USING (keyword)
  JOIN dlen l USING (doc_id), corpus c
  WHERE p.keyword = 'spark'
),
kw AS (
  -- rank <= 1000 mirrors the engine's KW_CANDIDATES top-k bound
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
    FROM bm) kwall
  WHERE rank <= 1000
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id,
    list_reduce(list_prepend(0.0, list_transform(
      range(1, len(qv) + 1), i -> qv[i] * e.embedding[i]::DOUBLE)),
      (a, b) -> a + b)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(qv) + 1), i -> qv[i] * qv[i])), (a, b) -> a + b))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(
         range(1, len(e.embedding) + 1),
         i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)),
         (a, b) -> a + b))) AS cos
  FROM embeddings e, q WHERE e.vec_id <> 0
),
vec AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY round(cos, 6) DESC,
                                      doc_id) AS rank
    FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos)) t
  WHERE rank <= 100
),
contrib AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM kw
  UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM vec
),
fused AS (
  SELECT doc_id, round(sum(c), 6) AS rrf, count(*) AS n_lists
  FROM contrib GROUP BY 1
)
SELECT doc_id, rrf, n_lists,
       row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
FROM fused
""")
def ir03_bm25_hybrid(spark, sf_dir):
    """The production hybrid-search composition: BM25-weighted keyword
    ranking (not raw tf — ir02's simpler variant) fused with the
    vector cosine ranking by reciprocal rank.  Every stage — BM25
    arithmetic, both rankings, the RRF sum — replays in the oracle.

    Like ir02, the kw candidate list is bounded to KW_CANDIDATES via
    ``top_k`` (TakeOrderedAndProject) before the single-partition
    rank window ever sees it."""
    from cantera_table_spark.functions.retrieval import (bm25_scores,
                                                         rrf_fuse)
    from cantera_table_spark.functions.similarity import brute_force_topk
    from cantera_table_spark.model import derive_postings
    from cantera_table_spark.operators import set_algebra as sa
    bm = bm25_scores(derive_postings(spark, sf_dir))
    kw = (sa.top_k(bm.filter(F.col("keyword") == "spark")
                   .select("doc_id", F.col("bm25").alias("score")),
                   KW_CANDIDATES)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.col("score").desc(),
                             F.col("doc_id").asc())))
          .select("doc_id", "rank"))
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=100)
           .select(F.col("neighbor_id").alias("doc_id"), "rank"))
    return rrf_fuse({"kw": kw, "vec": vec}, k=60)


@gate("ds08_hash_split", """
SELECT doc_id, source,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         (('0x' || substr(md5('samp:' || doc_id::VARCHAR), 1, 8))::BIGINT)
         / 4294967296.0 AS u
  FROM documents WHERE doc_id IS NOT NULL
)
""")
def ds08_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test hash split: a document's
    assignment is a pure function of its id — adding or removing other
    documents never moves it (the stability property eval-contamination
    audits need).  Pure map, zero shuffle."""
    from cantera_table_spark.functions.sampling import hash_split
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs.select("doc_id", "source"),
                      {"train": 0.8, "val": 0.1, "test": 0.1})


@gate("dd16_cut_spans", """
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
eligible AS (SELECT doc_id, toks, len(toks) AS n_tokens
             FROM base WHERE len(toks) >= 3),
wins AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(list_slice(toks, u.i, u.i + 2), ' ')) AS wh
  FROM eligible, unnest(range(1, n_tokens - 1)) AS u(i)
),
dup AS (
  SELECT wh FROM (SELECT wh, doc_id FROM wins GROUP BY 1, 2) t
  GROUP BY wh HAVING count(*) >= 2
),
hits AS (SELECT w.* FROM wins w JOIN dup USING (wh)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                        ORDER BY pos) <= 3
              THEN 0 ELSE 1 END AS newspan
  FROM hits
),
sids AS (
  SELECT doc_id, pos,
         sum(newspan) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
spans AS (
  SELECT doc_id, sid, min(pos) AS s, max(pos) + 2 AS e
  FROM sids GROUP BY 1, 2
),
keep AS (
  SELECT b.doc_id, u.i AS pos, b.toks[u.i] AS tok
  FROM base b, unnest(range(1, len(b.toks) + 1)) AS u(i)
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = b.doc_id
                      AND u.i BETWEEN s.s AND s.e)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM keep GROUP BY 1
)
SELECT b.doc_id, coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM base b LEFT JOIN agg a USING (doc_id)
""")
def dd16_cut_spans(spark, sf_dir):
    """The exact-substring dedup APPLY step: every 3-token window
    shared by >= 2 documents merges into spans (dd11's semantics) and
    is CUT from the token stream — the Lee et al. find-then-cut
    composition end-to-end, with the oracle replaying detection, span
    merge, and the token-level cut."""
    from cantera_table_spark.functions.dedup import cut_repeated_spans
    docs = load_table(spark, sf_dir, "documents")
    return cut_repeated_spans(docs, n=3, min_docs=2)


@gate("sim11_pq_trained", """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
seeds0 AS (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8),
seeds AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM seeds0
),
cb0 AS (
  SELECT s.sub_idx, code,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS cv
  FROM seeds, unnest(range(0, 4)) AS s(sub_idx)
),
subs AS (
  SELECT vec_id, s.sub_idx,
         list_slice(v, s.sub_idx * (len(v) // 4) + 1,
                    (s.sub_idx + 1) * (len(v) // 4)) AS sv
  FROM vecs, unnest(range(0, 4)) AS s(sub_idx)
),
enc0 AS (
  SELECT subs.vec_id, subs.sub_idx, cb0.code, subs.sv,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(sv) + 1),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))),
           (a, b) -> a + b) AS d
  FROM subs JOIN cb0 USING (sub_idx)
),
codes0 AS (
  SELECT vec_id, sub_idx, code, sv FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_idx
                                 ORDER BY d, code) AS rk
    FROM enc0) t
  WHERE rk = 1
),
memd AS (
  SELECT sub_idx, code, u.i AS dim, round(avg(sv[u.i]), 6) AS m
  FROM codes0, unnest(range(1, len(sv) + 1)) AS u(i)
  GROUP BY 1, 2, 3
),
cb1v AS (SELECT sub_idx, code, list(m ORDER BY dim) AS cv
         FROM memd GROUP BY 1, 2),
cb1 AS (
  SELECT c0.sub_idx, c0.code, coalesce(c1.cv, c0.cv) AS cv
  FROM cb0 c0 LEFT JOIN cb1v c1 USING (sub_idx, code)
),
enc1 AS (
  SELECT subs.vec_id, subs.sub_idx, cb1.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(sv) + 1),
             i -> (sv[i] - cv[i]) * (sv[i] - cv[i]))),
           (a, b) -> a + b) AS d
  FROM subs JOIN cb1 USING (sub_idx)
),
codes1 AS (
  SELECT vec_id, sub_idx, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub_idx
                                 ORDER BY d, code) AS rk
    FROM enc1) t
  WHERE rk = 1
),
q AS (SELECT vec_id AS query_id, sub_idx, sv AS qv
      FROM subs WHERE vec_id < 10),
lut AS (
  SELECT q.query_id, q.sub_idx, cb1.code,
         list_reduce(list_prepend(0.0, list_transform(
             range(1, len(qv) + 1),
             i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))),
           (a, b) -> a + b) AS pd
  FROM q JOIN cb1 USING (sub_idx)
),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         round(sum(l.pd), 6) AS approx_d2
  FROM codes1 c JOIN lut l ON l.sub_idx = c.sub_idx AND l.code = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_d2, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_d2, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 5
""")
def sim11_pq_trained(spark, sf_dir):
    """TRAINED product quantization, oracle-verified end-to-end: one
    Lloyd iteration per subspace (assign to seeded codebook, recompute
    centroids as member means rounded to 6 decimals — the quantization
    that makes training summation-order independent), then encode and
    ADC-search against the refined codebook.  The oracle replays
    seeding, assignment, the mean update, re-encoding, and ranking."""
    from cantera_table_spark.functions.similarity import (
        pq_encode, pq_topk, pq_train)
    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("embedding").isNotNull()))
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    codes = pq_encode(emb, cb, m=4)
    return pq_topk(codes, cb, emb.filter(F.col("vec_id") < 10), k=5, m=4)


@gate("tpch_q18_large_orders", """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY 1 HAVING sum(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice,
       round(sum(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN big b ON b.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
""")
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): the classic
    aggregate-as-join-filter pattern — the HAVING subquery reduces to
    a semi-filter key set BEFORE the 3-way join, so only qualifying
    orders' lineitems shuffle into the final aggregation (AQE
    broadcasts the tiny qualifying-key side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("__q"))
           .filter(F.col("__q") > 300)
           .select("l_orderkey"))
    return (o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "o_orderkey")
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(l, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice")
            .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty")))


@gate("ev08_top_events_per_user", """
SELECT user_id, event_id, value, rk FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rk
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
) t
WHERE rk <= 3
""")
def ev08_top_events_per_user(spark, sf_dir):
    """Top-N per group — the literal `row_number() <= N` filter form,
    which Spark's InferWindowGroupLimit rewrites into a per-input-
    partition partial top-N BEFORE the group exchange (pinned for
    stratified_sample in test_plan_shapes): shuffle volume is
    O(partitions * groups * N), not the corpus."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc())
    return (e.filter(F.col("user_id").isNotNull() &
                     F.col("value").isNotNull())
            .select("user_id", "event_id", "value")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3))


@gate("st07_stream_complete_totals", """
SELECT event_type AS key, count(*) AS n, round(sum(value), 3) AS total
FROM events
WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1
""")
def st07_stream_complete_totals(spark, sf_dir):
    """Complete-output-mode streaming aggregate (the live-dashboard
    shape): the whole running aggregate re-emits per trigger; with
    availableNow the final emission equals the batch group-by, which
    the oracle replays.  Complete mode requires a sink that replaces —
    parquet append cannot; memory sink stands in (at scale: a
    key-value/console dashboard sink)."""
    import shutil
    from cantera_table_spark.streaming.ingest import stream_tsv_timeseries
    e = load_table(spark, sf_dir, "events")
    e = e.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull()
                 & F.col("value").isNotNull())
    base = _gate_tmp(sf_dir, "st07")
    shutil.rmtree(base, ignore_errors=True)
    (e.select(F.concat_ws(
        "\t", F.col("event_type"),
        F.date_format("ts", "yyyy/MM/dd HH:mm:ss"),
        F.col("value").cast("string")).alias("value"))
     .coalesce(2).write.mode("overwrite").text(f"{base}/src"))
    stream = stream_tsv_timeseries(spark, f"{base}/src",
                                   date_format="yyyy/MM/dd HH:mm:ss")
    agg = (stream.groupBy("key")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("value"), 3).alias("total")))
    q = (agg.writeStream.format("memory").queryName("st07_totals")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table("st07_totals").select("key", "n", "total")


@gate("ts10_asof_forward_tol", """
WITH l AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL
),
r AS (
  SELECT user_id, ts, value FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL
),
u AS (
  SELECT user_id, ts, 1 AS side, event_id FROM l
  UNION ALL
  SELECT user_id, ts, 0, NULL FROM r
),
m AS (
  SELECT user_id, ts, side, event_id,
         min(CASE WHEN side = 0 THEN ts END)
           OVER (PARTITION BY user_id
                 ORDER BY ts DESC NULLS FIRST, side ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS m_ts
  FROM u
),
rmin AS (SELECT user_id, ts, min(value) AS value FROM r GROUP BY 1, 2),
tol AS (
  SELECT m.user_id, m.ts, m.event_id,
         CASE WHEN epoch_us(m.m_ts) - epoch_us(m.ts)
                   <= 1800000000 THEN m.m_ts END AS r_ts
  FROM m WHERE m.side = 1
)
SELECT t.user_id, t.ts, t.event_id, t.r_ts, rmin.value AS r_value
FROM tol t LEFT JOIN rmin
  ON t.user_id = rmin.user_id AND t.r_ts = rmin.ts
""")
def ts10_asof_forward_tol(spark, sf_dir):
    """The FORWARD + tolerance as-of path under the oracle: every view
    gets the earliest at-or-after purchase within 30 minutes (the
    conversion-attribution shape).  Same union+window plan as ts09
    mirrored (ts DESC NULLS FIRST; min struct; forward equal-ts ties
    resolve to min value); the tolerance nulls both match columns."""
    from cantera_table_spark.functions.timeseries import asof_join
    e = load_table(spark, sf_dir, "events")
    left = (e.filter(F.col("event_type") == "view")
            .select("user_id", "ts", "event_id"))
    right = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "value"))
    return asof_join(left, right, key_col="user_id", ts_col="ts",
                     value_cols=("value",), direction="forward",
                     tolerance_us=1_800_000_000)
