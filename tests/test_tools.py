"""Smoke tests for the dev tooling that the round workflow depends on
(the rotation planner feeds gate.py's _DRIVER_ORDER each round) and for
the gate cache scope that sweep tools drain."""

import ast
import importlib.util
import os

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rotate_window_proposal_invariants():
    rw = _load("rotate_window")
    from cantera_table_spark import gate
    order, stats = rw.propose(window=50, n_sentinels=12)
    registry = set(gate._QUERIES)
    # a full permutation of the registry, no inventions or duplicates
    assert len(order) == len(registry)
    assert set(order) == registry
    assert stats["registry"] == len(registry)
    head = set(order[:50])
    hist = rw.load_history(os.path.join(ROOT))
    never = registry - set(hist)
    # never-checked gates fill the window first; when debt exceeds the
    # non-sentinel capacity the overflow legitimately waits a round
    assert len(never & head) >= min(len(never), 50 - 12)
    # red-at-last-check gates are next in priority under the same cap
    red = {n for n, rs in hist.items()
           if n in registry and rs and not rs[max(rs)]}
    assert len((never | red) & head) >= min(len(never | red), 50 - 12)
    # every chosen sentinel sits inside the window (the reservation
    # the planner promises, regression-prone against truncation)
    assert set(stats["sentinels"]) <= head, \
        set(stats["sentinels"]) - head


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cache_scope_releases_on_exit_and_on_error(spark):
    """CacheScope unpersists every frame it persisted or checkpointed:
    on release(), and when its with block exits by an exception."""
    from pyspark import StorageLevel
    from cantera_table_spark.session import CacheScope
    before = _persistent_rdds(spark)
    scope = CacheScope()
    frames = [scope.persist(spark.range(i + 1)) for i in range(3)]
    for f in frames:
        f.count()
    assert len(scope) == 3 and _persistent_rdds(spark) != before
    # releasing one frame unpersists and drops only that frame
    scope.release(frames[1])
    assert len(scope) == 2 and not frames[1].is_cached
    assert frames[0].is_cached and frames[2].is_cached
    scope.release()
    assert len(scope) == 0 and _persistent_rdds(spark) == before

    with pytest.raises(RuntimeError, match="boom"):
        with CacheScope() as caches:
            caches.persist(spark.range(5)).count()
            caches.persist(spark.range(6), StorageLevel.DISK_ONLY).count()
            assert len(caches) == 2 and _persistent_rdds(spark) != before
            raise RuntimeError("boom")
    assert len(caches) == 0 and _persistent_rdds(spark) == before

    # a checkpoint's RDD is freed beside a persisted frame, and
    # releasing one checkpoint frees only its RDD
    with CacheScope() as caches:
        kept = caches.persist(spark.range(3))
        ck = [caches.checkpoint(spark.range(i + 4)) for i in range(2)]
        assert [f.count() for f in ck] == [4, 5] and kept.count() == 3
        assert len(caches) == 3
        assert len(_persistent_rdds(spark) - before) == 3
        caches.release(ck[0])
        assert len(caches) == 2 and kept.is_cached
        assert len(_persistent_rdds(spark) - before) == 2
        assert ck[1].count() == 5           # still reads its blocks
    assert len(caches) == 0 and _persistent_rdds(spark) == before


def test_queries_release_previous_gate_caches(spark):
    """A callable from queries() releases the gate scope before building
    its frame, so a caller that never drains holds at most one gate's
    caches."""
    from cantera_table_spark import gate as g
    qs = g.queries()
    qs["q01_and"](spark, SF_SMOKE).collect()     # warm shared postings
    before = _persistent_rdds(spark)
    qs["sim07_quantized_topk"](spark, SF_SMOKE).collect()
    assert len(g._GATE_CACHES) and _persistent_rdds(spark) != before
    qs["q01_and"](spark, SF_SMOKE)
    assert len(g._GATE_CACHES) == 0 and _persistent_rdds(spark) == before


# every gate whose body persists or checkpoints a frame (through the
# gate scope); corr01 (the Engine-held class table) and dd06
# (duplicate_clusters) run in the default tier, the rest in the slow one
CACHING_GATES = ["corr01_feature_mining", "dd06_dedup_clusters"] + [
    pytest.param(name, marks=pytest.mark.slow) for name in (
        "corr02_event_prediction", "dd12_dedup_apply",
        "dd13_dedup_pipeline", "dd15_semantic_dedup", "ir01_bm25",
        "ml01_logreg_quality", "sim07_quantized_topk",
        "sim08_quantized_ivf", "ts07_union_merge", "tx07_corpus_stats",
        "tx15_ppl_buckets")]


@pytest.mark.parametrize("name", CACHING_GATES)
def test_gate_caches_released(spark, name):
    """release_gate_caches() leaves the session's persistent RDDs as the
    gate found them: CORRELATE's class table included, which corr01's
    Engine persists."""
    from cantera_table_spark import gate as g
    qs = g.queries()
    qs["q01_and"](spark, SF_SMOKE).collect()     # warm shared postings
    before = _persistent_rdds(spark)
    qs[name](spark, SF_SMOKE).collect()
    g.release_gate_caches()
    assert _persistent_rdds(spark) == before


def test_native_state_store_conflict_raises(spark):
    """r9 review finding: an EXPLICIT different provider already on the
    session must raise a conflict, not be silently replaced — the conf
    is session-global and a checkpointed query cannot change provider
    between restarts."""
    import pytest

    from cantera_table_spark.streaming.sessionize import (
        _STATE_STORE_KEY, ensure_state_store_provider)
    prev = spark.conf.get(_STATE_STORE_KEY, None)
    try:
        spark.conf.set(_STATE_STORE_KEY, "com.example.OtherProvider")
        with pytest.raises(RuntimeError, match="already set"):
            ensure_state_store_provider(spark)
        # matching value: no-op, no raise
        from cantera_table_spark.streaming.sessionize import (
            ROCKSDB_STATE_STORE_PROVIDER)
        spark.conf.set(_STATE_STORE_KEY, ROCKSDB_STATE_STORE_PROVIDER)
        ensure_state_store_provider(spark)
    finally:
        if prev:
            spark.conf.set(_STATE_STORE_KEY, prev)
        else:
            try:
                spark.conf.unset(_STATE_STORE_KEY)
            except Exception:
                pass


def test_plan_lint_fold_recompute_detector(spark):
    """r10 verdict item 4: the sim01 defect class — a filter on the
    computed pair cosine re-inlines the whole O(d) fold into the join
    condition (Catalyst substitutes the alias's defining expression
    into every predicate; no new exchange, no new operator kind, so
    only bench medians noticed the 1.7x) — must now trip plan_lint
    structurally.  The shipped per-side _rankable form stays within
    the measured budget; the reverted form exceeds it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cantera_table_spark.functions.similarity import (brute_force_topk,
                                                          cosine)
    pl = _load("plan_lint")

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("float")
                  for i in range(4)]).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 2)

    good = brute_force_topk(emb, queries, k=5)
    n_good = pl.fold_count(pl.explain_str(good, "simple"))
    assert 0 < n_good <= pl.FOLD_BUDGET["sim01_brute_topk"], n_good
    # per-SIDE folds (_rankable norms) are exempt by design: the good
    # plan still prints them, only the PAIR fold is budgeted
    assert not [h for h in pl.lint_one("sim01_brute_topk", good)
                if h.startswith("FoldRecompute")]

    # the reverted (defect) form: no per-side prefilters, validity
    # decided by filtering the COMPUTED cosine column
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
    scored = (c.join(F.broadcast(q),
                     F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos", F.round(cosine(F.col("qv"),
                                                F.col("cv")), 6))
              .filter(F.col("cos").isNotNull() & ~F.isnan("cos")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    bad = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 5)
           .select("query_id", "neighbor_id", "cos", "rank"))
    n_bad = pl.fold_count(pl.explain_str(bad, "simple"))
    assert n_bad > pl.FOLD_BUDGET["sim01_brute_topk"], (n_bad, n_good)
    assert [h for h in pl.lint_one("sim01_brute_topk", bad)
            if h.startswith("FoldRecompute")]


def test_oracle_shared_fragments_in_lockstep():
    """r11 gate-registry review: the CORRELATE mining tail and the IVF
    probe replay now live in shared constants (byte-identity enforced
    here); the PQ ADC chain intentionally remains three contextual
    copies (their common suffix is only ~230 bytes — no clean
    boundary), so this test pins the INVARIANTS a drift would break:
    every copy carries the same deterministic `ORDER BY d, code`
    codebook tie-break and the same shared ADC-rank suffix."""
    from cantera_table_spark import gate

    o = gate.oracle_sql()
    assert gate.ORACLE_CORRELATE_TAIL in o["corr01_feature_mining"]
    assert gate.ORACLE_CORRELATE_TAIL in o["corr02_event_prediction"]
    assert gate.ORACLE_IVF_PROBE_TAIL in o["sim02_ivf_topk"]
    assert gate.ORACLE_IVF_PROBE_TAIL in o["sim08_quantized_ivf"]

    pq = [o[k] for k in ("sim09_pq_topk", "sim10_ivfpq_topk",
                         "sim11_pq_trained")]
    assert all("ORDER BY d, code" in s for s in pq)

    def common_suffix(a, b):
        i = 0
        while i < min(len(a), len(b)) and a[-1 - i] == b[-1 - i]:
            i += 1
        return i

    n = min(common_suffix(pq[0], pq[1]), common_suffix(pq[0], pq[2]))
    # the shared ADC-rank suffix (GROUP BY + final approx_d2 select)
    assert n >= 200 and "approx_d2" in pq[0][-n:], (n, pq[0][-50:])



def _source_files():
    """Every .py file of the repo outside tests/."""
    for dirpath, dirnames, filenames in os.walk(ROOT):
        top = os.path.relpath(dirpath, ROOT) == "."
        dirnames[:] = [d for d in dirnames if not d.startswith(".")
                       and not (top and d == "tests")]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _names_used(node):
    """Every identifier a node reads, imports or takes as an attribute.
    Docstrings and comments are not such nodes, so they never count."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _parts(stmt):
    """A top-level statement as (label, name, names it uses) triples. A
    class gives one for itself and one per method; dunder methods stay
    with the class, since Python calls them on its own."""
    if not isinstance(stmt, ast.ClassDef):
        name = getattr(stmt, "name", None)
        return [(name, name, set(_names_used(stmt)))]
    methods = [s for s in stmt.body
               if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))
               and not s.name.startswith("__")]
    rest = [s for s in stmt.body if s not in methods]
    rest += stmt.bases + stmt.keywords + stmt.decorator_list
    return [(stmt.name, stmt.name, {u for n in rest for u in _names_used(n)})
            ] + [(f"{stmt.name}.{m.name}", m.name, set(_names_used(m)))
                 for m in methods]


def _in_package(path):
    """True for the package's files, gate.py aside: its registry is the
    gates' entry point."""
    pkg = os.path.join(ROOT, "cantera_table_spark") + os.sep
    return path.startswith(pkg) and not path.endswith(os.sep + "gate.py")


def test_every_package_def_is_reached_outside_tests():
    """Each top-level def, class or class method in the package (gate.py
    aside) is reached from non-test code: the package's module-level
    statements, gate.py, bench.py, perfbench/, tools/ or
    __spark_entry__.py, directly or through other reached defs, and never
    only through its own body. A name that only tests reach is dead
    surface."""
    used, defs = set(), []
    for path in _source_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for stmt in tree.body:
            for label, name, names in _parts(stmt):
                names.discard(name)
                if _in_package(path) and name:
                    defs.append((os.path.relpath(path, ROOT), label, name,
                                 names))
                else:
                    used |= names
    grown = True
    while grown:
        grown = False
        for _, _, name, names in defs:
            if name in used and not names <= used:
                used |= names
                grown = True
    unreached = [f"{path}::{label}" for path, label, name, _ in sorted(defs)
                 if name not in used]
    assert not unreached, "\n".join(unreached)


def _options(fn, cls):
    """A def's parameters with defaults, as (name, position) pairs; the
    position counts the arguments a call passes (self aside), and is
    None for a keyword-only parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    bound = cls is not None and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list)
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i - bound) for i, arg in enumerate(pos) if i >= first]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def test_every_package_option_is_set_outside_tests():
    """Each parameter with a default of a top-level def or class method
    in the package (gate.py aside) is passed, by keyword or by position,
    in some non-test call of that name; a class's __init__ is called by
    the class's name, and a call that unpacks * or ** passes every
    parameter. An option that no caller sets has one value in use, so it
    belongs in a constant."""
    calls, options = {}, []
    for path in _source_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", getattr(n.func, "attr", None))
                calls.setdefault(name, []).append(n)
        if not _in_package(path):
            continue
        for stmt in tree.body:
            fns = [(stmt, None)] if isinstance(stmt, ast.FunctionDef) else []
            if isinstance(stmt, ast.ClassDef):
                fns = [(s, stmt.name) for s in stmt.body
                       if isinstance(s, ast.FunctionDef)]
            for fn, cls in fns:
                name = cls if fn.name == "__init__" else fn.name
                label = f"{cls}.{fn.name}" if cls else fn.name
                options += [(os.path.relpath(path, ROOT), label, name, opt)
                            for opt in _options(fn, cls)]

    def passes(call, param, position):
        return (any(isinstance(a, ast.Starred) for a in call.args)
                or any(k.arg in (None, param) for k in call.keywords)
                or (position is not None and len(call.args) > position))

    unset = [f"{path}::{label}({param})"
             for path, label, name, (param, position) in options
             if not any(passes(c, param, position)
                        for c in calls.get(name, []))]
    assert not unset, f"{len(unset)} options:\n" + "\n".join(unset)
