"""Plan-shape regression tests: the scale properties that make this
engine viable at 100 TB, pinned as assertions (SURVEY.md §4)."""

import pytest

from pyspark.sql import functions as F

from cantera_table_spark.dsl.parser import parse_script
from cantera_table_spark.engine import Engine
from cantera_table_spark.model import Catalog
from cantera_table_spark.session import CacheScope
from tests.plan_facts import plan_facts


@pytest.fixture(scope="module")
def parquet_catalog(spark, tmp_path_factory):
    """A parquet-backed catalog (file scans are what pushdown applies to)."""
    d = str(tmp_path_factory.mktemp("cat"))
    postings = spark.range(20_000).select(
        F.concat(F.lit("kw"), (F.col("id") % 50).cast("string"))
        .alias("keyword"),
        (F.col("id") % 3000).alias("doc_id"),
        (F.col("id") % 7).cast("double").alias("score"))
    (postings.repartition(8, "keyword")
     .sortWithinPartitions("keyword", "doc_id")
     .write.mode("overwrite").parquet(f"{d}/postings"))
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("key"),
        F.lit('{"a":1}').alias("doc"))
    docs.write.mode("overwrite").parquet(f"{d}/documents")
    return Catalog(
        summaries=[spark.read.parquet(f"{d}/documents")],
        indexes=[spark.read.parquet(f"{d}/postings")])


def q(spark, catalog, text, unique=True):
    eng = Engine(catalog, unique_postings=unique)
    stmt = parse_script(text)[0]
    return eng.query_df(stmt.query, thresholds=stmt.thresholds,
                        limit=stmt.limit, offset=stmt.offset)


def test_leaf_lookup_pushes_keyword_filter(spark, parquet_catalog):
    facts = plan_facts(q(spark, parquet_catalog, "QUERY (kw7);"))
    assert facts.pushed("EqualTo(keyword,kw7)")
    assert not facts.has_python_eval


def test_and_topk_is_shuffle_free_broadcast(spark, parquet_catalog):
    facts = plan_facts(
        q(spark, parquet_catalog, "QUERY (kw7 AND kw9) LIMIT 10;"))
    assert facts.n_shuffles == 0, facts.text
    assert facts.n_broadcasts >= 1
    assert facts.has_take_ordered        # top-k, not full sort
    assert facts.pushed("EqualTo(keyword,kw7)")
    assert facts.pushed("EqualTo(keyword,kw9)")


def test_semi_join_prunes_score_column_on_probe_side(spark,
                                                     parquet_catalog):
    facts = plan_facts(
        q(spark, parquet_catalog, "QUERY (kw7 AND kw9) LIMIT 10;"))
    # rhs scan must not read `score` (column pruning)
    rhs_schemas = [s for s in facts.read_schemas if "score" not in s]
    assert rhs_schemas, facts.read_schemas


def test_prefix_scan_pushes_startswith(spark, parquet_catalog):
    facts = plan_facts(q(spark, parquet_catalog, "QUERY (in-kw1:w);"))
    assert facts.pushed("StringStartsWith(keyword,kw1)")


def test_or_in_unique_mode_stays_shuffle_free(spark, parquet_catalog):
    facts = plan_facts(
        q(spark, parquet_catalog, "QUERY (kw7 OR kw9) LIMIT 10;"))
    assert facts.n_shuffles == 0, facts.text


def test_general_mode_dedup_costs_one_shuffle(spark, parquet_catalog):
    facts = plan_facts(
        q(spark, parquet_catalog, "QUERY (kw7) LIMIT 10;", unique=False))
    assert facts.n_shuffles == 1  # the ProcessQuery dedup groupBy


def _statement_plans(monkeypatch, catalog, text, unique=True):
    """Run one statement; return its result and the PlanFacts of every
    DataFrame it collected, in order (taken before each action runs)."""
    DataFrame = type(catalog.summary())
    plans, collect = [], DataFrame.collect

    def recording(self):
        plans.append(plan_facts(self))
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording)
    out = Engine(catalog, unique_postings=unique).execute_script(text)[0]
    monkeypatch.undo()
    return out, plans


def _operators(facts):
    """Physical operator lines from the root down, without the AQE
    wrapper."""
    ops = [ln.lstrip(" +-:") for ln in facts.text.splitlines()[1:]]
    return [op for op in ops
            if op and not op.startswith("AdaptiveSparkPlan")]


@pytest.mark.parametrize("text,unique", [
    ("QUERY (kw7 OR kw9) LIMIT 10 OFFSET 2;", True),
    ("QUERY (kw7) LIMIT 10;", False),
    ("QUERY (kw7) THRESHOLDS 1,3,6 FOR KEY 'kw7' LIMIT 10;", True)])
def test_exact_count_rides_the_topk_page(spark, parquet_catalog,
                                         monkeypatch, text, unique):
    """A QUERY takes its result-count from an observer directly
    under the top-k page — the job's result stage, no cache, no count
    job — then fetches the page's summaries by id, the ids pushed into
    the Parquet scan."""
    env, plans = _statement_plans(monkeypatch, parquet_catalog, text,
                                  unique)
    assert env["result-count"] > len(env["result"]) > 1
    assert len(plans) == 2, [p.text for p in plans]
    page, lookup = plans
    ops = _operators(page)
    assert ops[0].startswith("TakeOrderedAndProject(limit="), page.text
    assert "offset=2" in ops[0] or "OFFSET" not in text
    assert ops[1].startswith("CollectMetrics"), page.text
    # the top-k reads every row only if nothing below it is already
    # sorted in page order
    assert not ops[2].startswith("Sort"), page.text
    assert "InMemoryRelation" not in page.text
    assert lookup.pushed("In(doc_id"), lookup.text
    # a set reference, not inlined literals: one compiled class serves
    # every page (session.get_spark's InSet threshold)
    assert " INSET " in lookup.text, lookup.text


def test_select_matrix_has_no_python_eval(spark, parquet_catalog):
    from cantera_table_spark.dsl.parser import parse_query
    eng = Engine(parquet_catalog, unique_postings=True)
    df = eng.select_df([parse_query("kw3"), parse_query("kw4")],
                       parse_query("kw5"))
    facts = plan_facts(df)
    assert not facts.has_python_eval


def test_correlate_pipeline_shuffle_budget(spark, parquet_catalog):
    """CORRELATE is the heaviest statement; pin its shuffle count so a
    regression (e.g. a lost broadcast or an extra repartition) fails
    loudly rather than silently doubling the bill at scale."""
    eng = Engine(parquet_catalog, unique_postings=True)
    stmt = parse_script("CORRELATE QUERY (kw1), (kw2);")[0]
    df = eng.execute(stmt)
    facts = plan_facts(df)
    eng.release_caches()
    # distinct partitionings, not raw Exchange nodes: cached subtrees
    # (the class table) print their plans inline once per consumer
    assert len(facts.distinct_shuffle_keys()) <= 8, \
        facts.distinct_shuffle_keys()


def test_salted_aggregation_matches_plain(spark):
    from cantera_table_spark.operators.skew import salted_count_sum
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 8, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 100).cast("string")))
        .alias("key"),
        (F.col("id") % 7).cast("double").alias("v"))
    plain = {(r.key): (r.n, r.total) for r in
             df.groupBy("key").agg(F.count("*").alias("n"),
                                   F.sum("v").alias("total")).collect()}
    salted = {(r.key): (r.n, r.total) for r in
              salted_count_sum(df, ["key"], "v").collect()}
    assert salted == plain


def test_bucketed_postings_partition_pruning(spark, tmp_path_factory):
    """write_postings' bucket layout + the compiler's literal-bucket
    filter must produce real PartitionFilters on leaf lookups."""
    from cantera_table_spark.sources.ingest import write_postings
    d = str(tmp_path_factory.mktemp("bucketed"))
    postings = spark.range(10_000).select(
        F.concat(F.lit("kw"), (F.col("id") % 40).cast("string"))
        .alias("keyword"),
        (F.col("id") % 500).alias("doc_id"),
        F.lit(1.0).alias("score"))
    write_postings(postings, f"{d}/p", n_buckets=16)
    cat = Catalog(summaries=[], indexes=[spark.read.parquet(f"{d}/p")],
                  postings_buckets=16)
    facts = plan_facts(q(spark, cat, "QUERY (kw7);"))
    assert "PartitionFilters: [" in facts.text
    # the partition filter must be non-empty (bucket = <literal hash>)
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]+)\]", facts.text)
    assert pf and "bucket" in pf.group(1), facts.text
    # and results must be identical to an unbucketed catalog
    cat_nb = Catalog(summaries=[],
                     indexes=[spark.read.parquet(f"{d}/p")
                              .drop("bucket")])
    a = sorted((r.doc_id, r.score)
               for r in q(spark, cat, "QUERY (kw7);").collect())
    b = sorted((r.doc_id, r.score)
               for r in q(spark, cat_nb, "QUERY (kw7);").collect())
    assert a == b and len(a) == 250


def test_ivf_probe_partition_pruning(spark, tmp_path_factory):
    """SCALE.md's IVF claim, pinned: with the index written
    partitionBy(cluster), a probe's parquet scan must carry a dynamic
    partition-pruning filter on ``cluster`` (only probed bucket
    directories are read), and probe results must match the unpruned
    in-memory index."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_topk, seed_centroids, write_ivf_index)
    d = str(tmp_path_factory.mktemp("ivf"))
    emb = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 7).cast("double"),
                (F.col("id") % 5).cast("double"),
                (F.col("id") % 3).cast("double"),
                F.lit(1.0)).alias("embedding"))
    cents = seed_centroids(emb.filter(F.col("vec_id") > 0), n=4)
    indexed = ivf_assign(emb, cents)
    write_ivf_index(indexed, f"{d}/idx")
    idx = spark.read.parquet(f"{d}/idx")
    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_topk(idx, cents, queries, k=3, nprobe=1)
    facts = plan_facts(out)
    assert "dynamicpruning" in facts.text.lower(), facts.text
    got = sorted((r.query_id, r.rank, r.neighbor_id)
                 for r in out.collect())
    want = sorted((r.query_id, r.rank, r.neighbor_id)
                  for r in ivf_topk(indexed, cents, queries,
                                    k=3, nprobe=1).collect())
    assert got == want and got


def test_bloom_filter_write_roundtrip(spark, tmp_path_factory):
    """write_postings(bloom_filter=True) must produce readable files
    with identical results — the bloom is a scan accelerator, never a
    semantics change."""
    from cantera_table_spark.sources.ingest import write_postings
    d = str(tmp_path_factory.mktemp("bloom"))
    postings = spark.range(5_000).select(
        F.concat(F.lit("kw"), (F.col("id") % 200).cast("string"))
        .alias("keyword"),
        (F.col("id") % 400).alias("doc_id"),
        F.lit(1.0).alias("score"))
    write_postings(postings, f"{d}/p", n_buckets=8, bloom_filter=True)
    cat = Catalog(summaries=[], indexes=[spark.read.parquet(f"{d}/p")],
                  postings_buckets=8)
    rows = sorted((r.doc_id, r.score)
                  for r in q(spark, cat, "QUERY (kw7);").collect())
    assert len(rows) == 25
    facts = plan_facts(q(spark, cat, "QUERY (kw7);"))
    assert facts.pushed("EqualTo(keyword,kw7)")


def test_summary_ingest_id_assignment_is_distributed(spark, tmp_path_factory):
    """read_tsv_summaries doc_id assignment must not funnel the whole
    table through a single-task global sort: the numbering window is
    partitioned (by the range-partition id) and a range exchange is
    present instead of SinglePartition."""
    from cantera_table_spark.sources.ingest import read_tsv_summaries
    d = str(tmp_path_factory.mktemp("tsv"))
    with open(f"{d}/s.tsv", "w") as f:
        for i in range(500):
            f.write(f"k{i:04d}\t{{\"v\":{i}}}\n")
    out = read_tsv_summaries(spark, f"{d}/s.tsv")
    rows = {r.key: r.doc_id for r in out.collect()}
    assert rows["k0000"] == 0 and rows["k0499"] == 499
    facts = plan_facts(out)
    assert "rangepartitioning" in facts.text.replace(" ", "").lower()
    # the data-sized window partitions by the physical partition id
    assert "__gpid" in facts.text


def test_asof_prior_is_single_shuffle(spark):
    """asof_prior = one hash shuffle (the per-key window); no join, no
    second aggregation exchange."""
    from cantera_table_spark.functions.timeseries import asof_prior
    e = spark.range(1000).select(
        (F.col("id") % 37).alias("user_id"),
        F.col("id").alias("ts"),
        F.when(F.col("id") % 11 == 0, "purchase").otherwise("view")
        .alias("event_type"))
    out = asof_prior(e, F.col("event_type") == "purchase")
    facts = plan_facts(out)
    assert facts.n_shuffles == 1
    assert "Join" not in facts.text
    # correctness spot: every kept row precedes its user's first purchase
    first_p = {r.user_id: r.m for r in
               e.filter(F.col("event_type") == "purchase")
               .groupBy("user_id").agg(F.min("ts").alias("m")).collect()}
    for r in out.collect():
        assert r.ts < first_p[r.user_id]


def test_funnel_is_single_pass(spark):
    """funnel = ONE shuffle of the pre-filtered funnel events and ONE
    scan of the source, independent of stage count — no per-stage
    joins re-reading the events (the old k-joins formulation)."""
    from cantera_table_spark.functions.timeseries import funnel
    e = spark.range(2000).select(
        (F.col("id") % 53).alias("user_id"),
        F.col("id").cast("timestamp").alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy"),
                    F.lit("noise")),
            (F.col("id") % 4 + 1).cast("int")).alias("event_type"))
    out = funnel(e, ["view", "click", "buy"])
    facts = plan_facts(out)
    assert facts.n_shuffles == 1
    assert "Join" not in facts.text
    assert not facts.has_python_eval
    # one Range leaf = one scan of the events source
    assert facts.text.count("Range (") == 1


def test_repetition_stats_single_scan(spark):
    """with_repetition_stats is a pure map since r12: ONE scan, ONE
    tokenize, ZERO shuffles — the r11 explode->groupBy->join form had
    2 Range leaves and 2 corpus-scale exchanges (equivalence is pinned
    by tests/test_rowwise_rewrites.py; this pins the plan shape)."""
    from cantera_table_spark.functions.text import with_repetition_stats
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta word"),
                 F.col("id").cast("string")).alias("text"))
    facts = plan_facts(with_repetition_stats(docs))
    assert facts.text.count("Range (") == 1
    assert facts.n_shuffles == 0, facts.text
    assert not facts.has_python_eval


def test_incremental_dedup_collapse_is_combinable_aggregate(spark):
    """incremental_dedup's corpus exact-collapse must be a groupBy + min(struct) — map-side partial
    aggregation collapses a clone-flooded corpus BEFORE the shuffle,
    the case the collapse exists for.  A min-over-Window here would
    shuffle AND sort every clone row through the hash partitions.  The
    whole dd14-shaped plan is Window-free and JVM-side (no max_bucket
    -> no hot-bucket star window either)."""
    from cantera_table_spark.functions.dedup import incremental_dedup
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        # 50 distinct texts x 4 clones — the clone-flood shape
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 (F.col("id") % 50).cast("string")).alias("text"))
    out = incremental_dedup(docs.filter(F.col("doc_id") % 2 == 1),
                            docs.filter(F.col("doc_id") % 2 == 0),
                            min_jaccard=0.12)
    facts = plan_facts(out)
    assert "Window" not in facts.text
    assert "partial_min" in facts.text
    assert not facts.has_python_eval


def _formatted_node_counts(df):
    import collections
    import re
    from cantera_table_spark.plans.inspect import explain_str
    nodes = re.findall(r"^\(\d+\) (\S+)", explain_str(df, "formatted"),
                       re.M)
    return collections.Counter(nodes)


def test_incremental_dedup_single_pairs_consumption(spark):
    """dd14's rejection step must evaluate BOTH greedy rules (b-side
    batch member, a-side batch-vs-corpus) in ONE consumption of the
    pairs plan — the two-branch semi-join formulation it replaced
    executed the whole shingle->MinHash->LSH->Jaccard pipeline twice.
    Spark prints unreused subtrees inline once per consumer, so a
    reintroduced second consumption roughly DOUBLES the physical node
    census; pin the known-good single-consumption counts (measured at
    this exact fixture after the r12 map-only LSH rewrite:
    10 SortMergeJoin, 96 Generate, 94 Range — the rewrite cut SMJ from
    19 and traded the banding groupBys for per-row Generate barriers)
    with small headroom so the doubled plan fails loudly."""
    from cantera_table_spark.functions.dedup import incremental_dedup
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 (F.col("id") % 50).cast("string")).alias("text"))
    out = incremental_dedup(docs.filter(F.col("doc_id") % 2 == 1),
                            docs.filter(F.col("doc_id") % 2 == 0),
                            min_jaccard=0.12)
    c = _formatted_node_counts(out)
    assert c["SortMergeJoin"] <= 13, c["SortMergeJoin"]
    assert c["Generate"] <= 115, c["Generate"]
    assert c["Range"] <= 115, c["Range"]


def test_correlate_histogram_cached_once(spark):
    """The correlate shape: one cached class table (doc_id, cls) joined
    once; the postings shuffle ONCE into the per-(keyword, score)
    histogram, which is not cached — a single keyword partitioning of
    it carries every per-keyword Window (kind, support, split search,
    argmax), so no keyword list is broadcast back into it.  Without
    the unique_docs promise the raw class rows are persisted too,
    because the per-doc contingency count re-reads them.  Pins: the
    cache count, exactly one (keyword, score) exchange, no broadcast
    keyed by a string (the keyword list), every Window partitioned by
    keyword alone, and a small source-leaf count (a dropped persist
    re-expands the class-join subtree, multiplying Range leaves)."""
    import re
    from cantera_table_spark.operators.correlate import correlate_sets
    from cantera_table_spark.plans.inspect import explain_str
    postings = spark.range(20_000).select(
        F.concat(F.lit("kw"), (F.col("id") % 50).cast("string"))
        .alias("keyword"),
        (F.col("id") % 3000).alias("doc_id"),
        (F.col("id") % 7).cast("double").alias("score"))
    a = postings.filter(F.col("keyword") == "kw1").select("doc_id",
                                                          "score")
    b = postings.filter(F.col("keyword") == "kw2").select("doc_id",
                                                          "score")
    # class table + raw class rows; class table only
    for unique_docs, n_caches in ((False, 2), (True, 1)):
        with CacheScope() as caches:
            out = correlate_sets(postings, a, b, caches=caches,
                                 unique_docs=unique_docs)
            assert len(caches) == n_caches, (unique_docs, len(caches))
            text = explain_str(out, "simple")
            assert len(re.findall(
                r"Exchange hashpartitioning\(keyword#\d+, score#\d+,",
                text)) == 1, text
            bcast = re.findall(
                r"BroadcastExchange HashedRelationBroadcastMode"
                r"\(List\((.*?)\),", text)
            assert bcast and not [k for k in bcast if "string" in k], bcast
            specs = re.findall(
                r"windowspecdefinition\((.*?)specifiedwindowframe", text)
            assert specs, text
            for spec in specs:
                part = [x for x in spec.rstrip(", ").split(", ")
                        if " ASC " not in x and " DESC " not in x]
                assert len(part) == 1 and re.fullmatch(
                    r"keyword#\d+", part[0]), spec
            c = _formatted_node_counts(out)
            assert c["Range"] <= 3, c["Range"]


def test_with_bands_is_single_shuffle_window(spark):
    """Per-row band attachment = ONE shuffle by series key with the
    percentiles in a Window — never a join against a per-series
    aggregate (the agg-then-join broadcast-flip class)."""
    from cantera_table_spark.functions.timeseries import with_bands
    ts = spark.range(5000).select(
        (F.col("id") % 97).cast("string").alias("key"),
        (F.col("id") % 13).cast("double").alias("value"))
    facts = plan_facts(with_bands(ts))
    assert facts.n_shuffles == 1
    assert "Join" not in facts.text
    assert "Window" in facts.text


def test_retention_is_two_aggregations_no_join(spark):
    """Retention = collect_set per key + the matrix aggregation; the
    cohort period is array_min of the per-key set, never a
    first-activity join back over the activity pairs."""
    from cantera_table_spark.functions.timeseries import retention_cohorts
    e = spark.range(5000).select(
        (F.col("id") % 89).alias("user_id"),
        (F.col("id") * 3600_000_000).cast("timestamp").alias("ts"))
    facts = plan_facts(retention_cohorts(e))
    assert facts.n_shuffles == 2
    assert "Join" not in facts.text


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast — corpus shingles never
    shuffle for the overlap join; the only hash shuffle is the per-doc
    count (plus the map-side combine of the benchmark distinct)."""
    from cantera_table_spark.functions.dedup import decontaminate
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 17).cast("string"),
                 F.lit(" x y z q r")).alias("text"))
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    corpus = docs.filter(F.col("doc_id") % 23 != 0)
    facts = plan_facts(decontaminate(corpus, bench, n=3))
    # shingle overlap + final doc join must both be broadcast joins;
    # any sort-merge join here would shuffle corpus-sized data
    assert facts.n_broadcasts >= 1
    assert "SortMergeJoin" not in facts.text
    assert not facts.has_python_eval


def test_stratified_sample_window_is_group_limited(spark):
    """Spark's InferWindowGroupLimit must kick in on the quota window:
    partial top-k per input partition BEFORE the stratum exchange, so
    shuffle volume is bounded by quota rows per (partition, stratum)."""
    from cantera_table_spark.functions.sampling import stratified_sample
    d = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"))
    facts = plan_facts(stratified_sample(d, "lang", 10))
    assert "WindowGroupLimit" in facts.text


def test_dedup_lines_uses_aggregation_not_window(spark):
    """First-occurrence winners must come from a map-side-combinable
    min(struct) aggregation keyed by the line — a row_number window
    over the line key would route every copy of a hot boilerplate line
    through one task.  No Window over the line key; no Python."""
    from cantera_table_spark.functions.text import dedup_lines
    d = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("line a\nshared\nline b"),
                 F.col("id").cast("string")).alias("text"))
    facts = plan_facts(dedup_lines(d))
    assert "Window" not in facts.text
    assert not facts.has_python_eval
    # winners aggregation + reassembly aggregation both partial-final
    assert "partial_min" in facts.text or "min(" in facts.text


def test_lm_score_broadcasts_vocab_and_stays_jvm(spark):
    """The one-row vocabulary aggregate must broadcast (never a
    shuffle-side cross join) and the whole score is codegen — no
    Python eval anywhere."""
    from cantera_table_spark.functions.text import lm_quality_score
    d = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma alpha beta").alias("text"))
    facts = plan_facts(lm_quality_score(d))
    assert facts.n_broadcasts >= 1
    assert not facts.has_python_eval


def test_lm_score_scores_distinct_bigrams(spark):
    """The r12 lm shape: occurrences pre-aggregate into per-(doc,
    bigram) counts map-side BEFORE any join — the scoring join and the
    per-doc mean run over the deduplicated table, never the raw
    exploded occurrences (the r11 shape joined occurrences to the
    count tables, an occurrence-scale shuffle once the vocabulary
    outgrows broadcast).  Pin: the (doc, w1, w2) pre-aggregation
    exchange exists, and no shuffle is keyed by w1 alone except the
    vocabulary-sized unigram rollup (i.e. at most one w1-only key)."""
    from cantera_table_spark.functions.text import lm_quality_score
    d = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma alpha beta").alias("text"))
    facts = plan_facts(lm_quality_score(d))
    # the COMPOSITE-key pre-aggregation operator exists (over a range
    # source it even needs no exchange — the doc rows are already
    # clustered; over a parquet scan it is the ONE occurrence-scale
    # shuffle).  keys=[doc_id, w1, ...] distinguishes it from the
    # final per-doc groupBy(doc_id), which the r11 shape also had.
    import re as _re
    assert _re.search(r"HashAggregate\(keys=\[doc_id#\d+L?, w1#", facts.text), \
        facts.text[:2000]
    w1_only = [k for k in facts.distinct_shuffle_keys()
               if "w1" in k and "w2" not in k]
    assert len(w1_only) <= 1, facts.distinct_shuffle_keys()


def test_repeated_spans_distinct_count_is_row_local(spark):
    """The r12 span shape: the first phase of the duplicated-window
    distinct count folds row-locally (array_distinct on the per-doc
    hash array), so NO exchange is keyed by (window-hash, doc) — the
    r11 shape shuffled every window occurrence through a
    groupBy(wh, doc_id) before the per-hash document count."""
    from cantera_table_spark.functions.dedup import repeated_spans
    d = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e f g a b c d e f g x y z").alias("text"))
    facts = plan_facts(repeated_spans(d, n=3, min_docs=2))
    assert not facts.has_python_eval
    keys = facts.distinct_shuffle_keys()
    assert not any(("wh" in k) and ("doc_id" in k) for k in keys), keys


def test_pack_sequences_single_shard_shuffle(spark):
    """Packing shuffles once on the shard key into the Arrow scan;
    token counting happens before the exchange (only doc_id + count
    move through it), and no second exchange follows."""
    from cantera_table_spark.functions.packing import pack_sequences
    d = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("one two three four five six").alias("text"))
    facts = plan_facts(pack_sequences(d, capacity=20, n_shards=4))
    assert facts.n_shuffles == 1
    # the exchange carries only the sized projection, not the text
    post = facts.text.index("Exchange hashpartitioning")
    assert "text" not in facts.text[post:]


def test_quantize_embeddings_broadcasts_stats_row(spark):
    """The per-dimension stats row joins in via broadcast nested loop;
    the corpus side must not shuffle at all."""
    from cantera_table_spark.functions.similarity import (
        quantize_embeddings)
    d = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(1), F.rand(2), F.rand(3)).alias("embedding"))
    facts = plan_facts(quantize_embeddings(d))
    assert facts.n_broadcasts >= 1
    assert "SortMergeJoin" not in facts.text
    assert not facts.has_python_eval


def test_bm25_broadcasts_corpus_stats_and_stays_jvm(spark):
    """BM25's N/avgdl row must broadcast; df/dl joins hit
    pre-aggregated tables; no Python anywhere."""
    from cantera_table_spark.functions.retrieval import bm25_scores
    p = spark.range(2000).select(
        F.concat(F.lit("kw"), (F.col("id") % 40).cast("string"))
        .alias("keyword"),
        (F.col("id") % 300).alias("doc_id"),
        ((F.col("id") % 5) + 1).cast("double").alias("score"))
    facts = plan_facts(bm25_scores(p))
    assert facts.n_broadcasts >= 1
    assert not facts.has_python_eval
    # dl rides a window over the doc_id shuffle, never a sort-merge
    # join against a per-document aggregate (superlinear once that
    # aggregate outgrows the broadcast threshold)
    assert "SortMergeJoin" not in facts.text
    assert "Window" in facts.text


def test_rrf_fuse_is_one_aggregation(spark):
    """The fuse is a single map-side-combinable aggregation over the
    unioned candidate lists — no joins between the lists."""
    from cantera_table_spark.functions.retrieval import rrf_fuse
    a = spark.range(100).select(F.col("id").alias("doc_id"),
                                (F.col("id") + 1).cast("int")
                                .alias("rank"))
    b = spark.range(50).select(F.col("id").alias("doc_id"),
                               (F.col("id") + 1).cast("int")
                               .alias("rank"))
    facts = plan_facts(rrf_fuse({"a": a, "b": b}))
    assert "Join" not in facts.text
    assert not facts.has_python_eval


def test_hybrid_kw_list_is_bounded(spark):
    """ir02/ir03 (r10 verdict finding): the keyword candidate list is
    cut to KW_CANDIDATES=1000 by TakeOrderedAndProject BEFORE its
    single-partition rank window — at 100 TB a hot keyword must never
    push a corpus-sized list through one task.  Pins (a) the top-k
    page exists at exactly the contract size, (b) the rank window
    consumes it DIRECTLY (TakeOrderedAndProject already emits one
    partition, so no exchange sits between), (c) the vector side
    stays per-query WindowGroupLimit-bounded."""
    from cantera_table_spark import gate
    from tests.conftest import SF_SMOKE
    from tests.test_tools import _load

    pl = _load("plan_lint")    # shared plan-tree-art parser
    qs = gate.queries()
    for name in ("ir02_rrf_hybrid", "ir03_bm25_hybrid"):
        try:
            text = plan_facts(qs[name](spark, SF_SMOKE)).text
        finally:
            gate.release_gate_caches()
        lines = text.splitlines()
        pages = [i for i, ln in enumerate(lines)
                 if f"TakeOrderedAndProject(limit={gate.KW_CANDIDATES}"
                 in ln]
        assert len(pages) == 1, (name, text)
        consumer = pl.direct_consumer(lines, pages[0])
        assert consumer is not None and \
            "Window [row_number()" in consumer, (name, consumer)
        assert "WindowGroupLimit" in text, name    # vec side bound


def test_asof_join_is_single_shuffle_window(spark):
    """General as-of join = ONE shuffle of the union by key + one
    Window; never a join of the two event sets (the asof_prior /
    with_bands AQE-broadcast-flip argument applies verbatim)."""
    from cantera_table_spark.functions.timeseries import asof_join
    left = spark.range(4000).select(
        (F.col("id") % 67).alias("user_id"),
        (F.col("id") * 60_000_000).cast("timestamp").alias("ts"),
        F.col("id").alias("event_id"))
    right = spark.range(1000).select(
        (F.col("id") % 67).alias("user_id"),
        (F.col("id") * 240_000_000).cast("timestamp").alias("ts"),
        (F.col("id") % 9).cast("double").alias("value"))
    facts = plan_facts(asof_join(left, right))
    assert facts.n_shuffles == 1
    assert "Join" not in facts.text
    assert "Window" in facts.text


def test_interval_join_is_equi_join_no_nested_loop(spark):
    """The binned interval join must plan as a hash/sort-merge EQUI
    join on (key, bin) — never BroadcastNestedLoopJoin or
    CartesianProduct, which is what the raw range predicate gives."""
    from cantera_table_spark.functions.timeseries import interval_join
    pts = spark.range(4000).select(
        F.col("id").alias("pid"), (F.col("id") % 67).alias("user_id"),
        (F.col("id") * 60_000_000).cast("timestamp").alias("ts"))
    iv = spark.range(500).select(
        F.col("id").alias("iid"), (F.col("id") % 67).alias("user_id"),
        (F.col("id") * 480_000_000).cast("timestamp").alias("s"),
        (F.col("id") * 480_000_000 + 3_600_000_000)
        .cast("timestamp").alias("e"))
    facts = plan_facts(interval_join(pts, iv, ts_col="ts", start_col="s",
                                     end_col="e", key_col="user_id"))
    assert "BroadcastNestedLoop" not in facts.text
    assert "CartesianProduct" not in facts.text
    assert "Join" in facts.text


def test_mixture_sample_coarse_windows_only_boundary_bucket(spark):
    """The coarse plan's full-corpus path must carry NO window — the
    running sum runs over the tiny (stratum, bucket) aggregate and the
    boundary bucket only; bucket offsets join back via broadcast."""
    from cantera_table_spark.functions.sampling import mixture_sample
    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
        F.lit("some words here repeated for tokens").alias("text"))
    w = {"0": 1.0, "1": 2.0, "2": 1.0}
    plan = mixture_sample(docs, w, total_tokens=5000)
    facts = plan_facts(plan)
    # windows exist (bucket offsets + boundary refinement) but every
    # window input is either the tiny (stratum, bucket) aggregate or
    # the single boundary bucket — the corpus-sized rows NEVER flow
    # through a window.  Plan text shows the offsets window once per
    # union branch (2) + the boundary refinement window (1); a naive
    # full-stratum cumsum plan would add a window over the corpus scan
    # and push the count higher with no broadcast.
    assert facts.text.count("Window") <= 3
    assert "BroadcastExchange" in facts.text


def test_pq_search_broadcasts_lut_no_vector_shuffle(spark):
    """ADC search: the per-query LUT must broadcast; the only
    aggregation shuffle is keyed by (query, vector) partial sums —
    the raw vectors never appear in the search plan."""
    from cantera_table_spark.functions.similarity import (
        pq_codebook, pq_encode, pq_topk)
    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double")
                  for i in range(8)]).alias("embedding"))
    cb = pq_codebook(emb, m=4, ksub=8)
    codes = pq_encode(emb, cb, m=4)
    facts = plan_facts(pq_topk(codes, cb, emb.filter(F.col("vec_id") < 5),
                               k=3, m=4))
    assert "BroadcastExchange" in facts.text


def test_ivf_assign_argmax_is_combinable_aggregate(spark):
    """The per-vector nearest-centroid argmax must be a partial-capable
    aggregation over the broadcast cross join (map-side combines N*k
    scored rows to ~N before the shuffle), NEVER a row_number window
    (which would shuffle and sort all N*k rows)."""
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_assign_hier, seed_centroids)
    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double")
                  for i in range(8)]).alias("embedding"))
    cents = seed_centroids(emb, n=6)
    for df in (ivf_assign(emb, cents),
               ivf_assign_hier(emb, cents, coarse_k=2, nprobe=1)):
        facts = plan_facts(df)
        assert "Window" not in facts.text, facts.text
        assert "partial_min" in facts.text.lower() \
            or "partial" in facts.text.lower(), facts.text
        assert "BroadcastExchange" in facts.text


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Bucketed co-located join: two tables bucketed 8-ways on the join
    key must SortMergeJoin with NO shuffle exchange — the layout every
    repeated big-big join (postings-to-postings at 100 TB) should be
    written into.  Pinned here because it is a property of our write
    path configuration, not of Catalyst defaults."""
    d = str(tmp_path_factory.mktemp("buck"))
    a = spark.range(20_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("va"))
    b = spark.range(20_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("vb"))
    for name, df in [("ta", a), ("tb", b)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.format("parquet").option("path", f"{d}/{name}")
         .bucketBy(8, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable(name))
    try:
        joined = spark.table("ta").join(spark.table("tb"), "doc_id")
        facts = plan_facts(joined)
        assert "SortMergeJoin" in facts.text or "Join" in facts.text
        assert facts.n_shuffles == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ta")
        spark.sql("DROP TABLE IF EXISTS tb")


def test_distinct_shuffle_keys_balances_nested_parens():
    """r11 plans-review finding: a nested call inside the partitioning
    expression must not truncate the captured key at the first ')' —
    two exchanges differing only past that paren are DISTINCT."""
    from tests.plan_facts import PlanFacts

    text = ("Exchange hashpartitioning(pmod(xxhash64(k#3), 8), 200)\n"
            "Exchange hashpartitioning(pmod(xxhash64(k#3), 16), 200)\n"
            "Exchange hashpartitioning(doc_id#5L, 32)\n")
    pf = PlanFacts(text=text, n_shuffles=3, n_broadcasts=0,
                   has_take_ordered=False, pushed_filters=[],
                   read_schemas=[], has_python_eval=False)
    assert pf.distinct_shuffle_keys() == {
        "pmod(xxhash64(k), 8), 200",
        "pmod(xxhash64(k), 16), 200",
        "doc_id, 32"}


def test_ann_rank_windows_are_group_limited(spark):
    """Every ANN ranking tail (brute force, IVF, the shared ADC rank)
    filters on ``row_number() <= k``, which Spark's
    InferWindowGroupLimit rewrites into a PARTIAL per-mapper top-k
    below the window exchange plus a Final one above it — so the
    exchange ships <= input_partitions * k rows per query and the
    final per-query window task sorts that bounded set, never the full
    candidate set (r12: a two-phase manual rewrite was prototyped,
    measured, and REVERTED once the plan showed the optimizer already
    provides the bound; this pin keeps the filter in the exact shape
    the rule recognizes).  Same rule stratified_sample leans on
    (test_stratified_sample_window_is_group_limited)."""
    import re

    from cantera_table_spark.functions.similarity import (
        brute_force_topk, ivf_assign, pq_codebook, pq_encode, pq_topk,
        seed_centroids, ivf_topk)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    cents = seed_centroids(emb, n=4)
    cb = pq_codebook(emb, m=4, ksub=8)
    plans = {
        "brute": brute_force_topk(emb, q, k=5),
        "ivf": ivf_topk(ivf_assign(emb, cents), cents, q, k=5, nprobe=2),
        "pq": pq_topk(pq_encode(emb, cb, m=4), cb, q, k=5, m=4),
    }
    for name, df in plans.items():
        text = plan_facts(df).text
        # the rank window's limit must appear in BOTH modes: Partial
        # (map-side, below the exchange) and Final
        modes = re.findall(r"WindowGroupLimit.*?(Partial|Final)", text)
        assert "Partial" in modes and "Final" in modes, (name, text)
