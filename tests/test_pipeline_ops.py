"""Tests for the training-data pipeline operators (dedup / similarity /
text / multimodal)."""

import pytest
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope
from tests.conftest import SF_SMOKE


def docs(spark):
    from cantera_table_spark.model import load_table
    return load_table(spark, SF_SMOKE, "documents")


def emb(spark):
    from cantera_table_spark.model import load_table
    return load_table(spark, SF_SMOKE, "embeddings")


def test_exact_dedup_finds_planted_duplicates(spark):
    from cantera_table_spark.functions.dedup import exact_dedup
    d = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string")
    out = {r.canonical_id: r.n_copies for r in exact_dedup(d).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_and_jaccard(spark):
    from cantera_table_spark.functions.dedup import jaccard_pairs, shingles
    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "z z z q q")],
        "doc_id long, text string")
    sh = shingles(d, n=3)
    # doc1: {a b c, b c d, c d e}; doc2: {a b c, b c d, c d x} -> 2/4
    out = {(r.doc_a, r.doc_b): r.jaccard
           for r in jaccard_pairs(sh).collect()}
    assert out == {(1, 2): 0.5}


def test_minhash_lsh_candidates_contain_near_dups(spark):
    from cantera_table_spark.functions.dedup import (
        lsh_candidate_pairs_arrays, minhash_signature_rows, shingle_arrays)
    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tomorrow"),
            (3, "completely different words about spark engines here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    arrs = shingle_arrays(d, n=2)
    assert minhash_signature_rows(arrs, k=16).count() == 3 * 16
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs_arrays(
        arrs, k=16, bands=4).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_simhash_similar_docs_close(spark):
    from cantera_table_spark.functions.dedup import simhash
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in simhash(d).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])


def test_brute_force_topk_shape_and_selfexclusion(spark):
    from cantera_table_spark.functions.similarity import brute_force_topk
    e = emb(spark)
    out = brute_force_topk(e, e.filter(F.col("vec_id") < 3), k=4)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert -1.0 <= r.cos <= 1.0


def test_ivf_recall_vs_brute_force(spark):
    from cantera_table_spark.functions.similarity import (
        brute_force_topk, ivf_assign, ivf_topk, seed_centroids)
    e = emb(spark)
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(e, q, k=5).collect()
    cents = seed_centroids(e, n=8)
    approx = ivf_topk(ivf_assign(e, cents), cents, q, k=5, nprobe=3).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_lang_id_and_stats(spark):
    from cantera_table_spark.functions.text import (with_lang_id,
                                                    with_text_stats)
    d = spark.createDataFrame(
        [(1, "the cat of the house and a dog"),
         (2, "el perro y la casa de que si"),
         (3, "xyzzy plugh")],
        "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in with_lang_id(d).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"
    st = with_text_stats(d).filter(F.col("doc_id") == 1).collect()[0]
    assert st.n_tokens == 8 and 0 < st.stopword_ratio <= 1


def test_fingerprint_properties(spark):
    from cantera_table_spark.functions.text import with_fingerprint
    d = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "aa bb cc"), (3, "aa bb cc dd")],
        "doc_id long, text string")
    fp = {r.doc_id: r.fingerprint for r in with_fingerprint(d).collect()}
    assert fp[1] == fp[2] != fp[3]


@pytest.mark.slow
def test_multimodal_decode_and_frames(spark):
    from cantera_table_spark.functions.multimodal import (
        decode_media, frame_sample, media_from_documents)
    media = media_from_documents(docs(spark).limit(5))
    dec = decode_media(media).collect()
    assert len(dec) == 5
    for r in dec:
        assert r.n_bytes > 0 and len(r.header_hex) == 8
        assert 0 <= r.byte_checksum < 2_147_483_648
    frames = frame_sample(media, every_n_bytes=64)
    got = frames.groupBy("media_id").count().collect()
    n_bytes = {r.media_id: r.n_bytes for r in dec}
    for r in got:
        expect = -(-n_bytes[r.media_id] // 64)
        assert r["count"] == expect


@pytest.mark.slow
def test_hyperplane_lsh_recall_on_planted_neardups(spark):
    import math
    from cantera_table_spark.functions.dedup import embedding_near_dup_pairs
    from cantera_table_spark.functions.similarity import lsh_near_dup_pairs
    # 3 clusters of near-identical vectors + isolated noise vectors,
    # deterministic construction
    rows = []
    vid = 0
    for c in range(1, 4):   # c=0 would be the all-zero vector
        base = [math.sin(0.7 * c * (d + 1)) for d in range(32)]
        for j in range(4):
            vec = [x + 0.01 * j * ((d % 3) - 1)
                   for d, x in enumerate(base)]
            rows.append((vid, vec))
            vid += 1
    for n in range(10):
        rows.append((vid, [math.cos(1.3 * vid * (d + 2))
                           for d in range(32)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.id_a, r.id_b)
             for r in embedding_near_dup_pairs(emb, 0.95).collect()}
    approx = {(r.id_a, r.id_b)
              for r in lsh_near_dup_pairs(emb, 0.95).collect()}
    assert exact, "fixture must contain near-dup pairs"
    assert approx <= exact          # verify step guarantees precision
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_duplicate_clusters_transitivity(spark, monkeypatch):
    from cantera_table_spark.functions import dedup
    from cantera_table_spark.functions.dedup import duplicate_clusters
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 1-3-5-7 (transitive), pair 2-6, singletons 0 and 4
    pairs = spark.createDataFrame(
        [(3, 5), (1, 3), (5, 7), (2, 6)], "doc_a long, doc_b long")
    want = {0: 0, 1: 1, 3: 1, 5: 1, 7: 1, 2: 2, 6: 2, 4: 4}
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    # driver union-find path (default: graph under the size gate)
    with CacheScope() as caches:
        out = {r.doc_id: r.canonical_id
               for r in duplicate_clusters(ids, pairs,
                                           caches=caches).collect()}
        assert out == want
        # distributed label-propagation path must produce the identical
        # labeling (SMALL_GRAPH_EDGES=0 forces it)
        monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
        out2 = {r.doc_id: r.canonical_id
                for r in duplicate_clusters(ids, pairs,
                                            caches=caches).collect()}
        # the converged round alone is held, still cached
        assert len(caches) == 1 and caches._frames[0].is_cached
    assert out2 == want
    # every cached round lived in the scope: nothing outlives it
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_near_dup_clusters_clone_invariant(spark):
    """The exact-then-near pipeline must (a) produce the same clusters
    as the raw near-dup stack for shingled docs, regardless of how many
    byte-identical clones exist, and (b) merge identical docs too short
    to shingle (which the raw stack leaves as singletons)."""
    from cantera_table_spark.functions.dedup import near_dup_clusters
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and then"
    rows = [(1, base), (2, near), (50, "totally different text about " +
                                   "spark engines and parquet files ok")]
    # clones of doc 1 (exact dups) and two identical too-short docs
    rows += [(10 + i, base) for i in range(5)]
    rows += [(30, "hi there"), (31, "hi there")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with CacheScope() as caches:
        out = {r.doc_id: r.canonical_id
               for r in near_dup_clusters(docs, min_jaccard=0.5,
                                          caches=caches).collect()}
    # base + its clones + the near-dup all collapse to min id 1
    assert out[1] == 1 and out[2] == 1
    assert all(out[10 + i] == 1 for i in range(5))
    # identical unshingleable docs merge to their min id
    assert out[30] == 30 and out[31] == 30
    # the unrelated doc stays a singleton
    assert out[50] == 50
    assert len(out) == len(rows)


@pytest.mark.slow
def test_brute_force_topk_skips_degenerate_vectors(spark):
    """r9 deferred divergence (a), pinned: a query with fewer than k
    non-degenerate candidates returns fewer than k rows — the window
    must not let NULL cosines (zero-norm / NULL vectors) fill trailing
    ranks."""
    from cantera_table_spark.functions.similarity import brute_force_topk
    inf = float("inf")
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
            (3, None), (4, [0.5, 0.5]), (5, [inf, 1.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id") == 0)
    jvm = sorted((r.neighbor_id, r.rank)
                 for r in brute_force_topk(e, q, k=5).collect())
    # only vec 1 and 4 are rankable: 2 rows, not 4 — vec 5's Inf
    # element (norm inf, every pair cosine NaN) must drop too, not
    # rank its NaN first (Spark orders NaN LARGEST)
    assert jvm == [(1, 1), (4, 2)]
    # all-pairs shape: NULL-vector and zero-norm QUERY rows drop too
    jvm_all = sorted((r.query_id, r.neighbor_id, r.cos, r.rank)
                     for r in brute_force_topk(e, e, k=5).collect())
    assert {q for q, *_ in jvm_all} == {0, 1, 4}   # 2, 3, 5 degenerate


def test_brute_force_topk_rounded_tie_orders_by_neighbor_id(spark):
    """r9 deferred divergence (b), pinned: sims that differ by ~1e-7
    (identical after the 6-decimal round) break ties by neighbor_id
    ascending, whatever the partitioning."""
    from cantera_table_spark.functions.similarity import brute_force_topk
    # all candidates nearly parallel to the query: unrounded cosines
    # differ at the 1e-8..1e-7 scale, all rounding to the same value
    base = [1.0, 1.0, 1.0, 1.0]
    rows = [(0, base)] + [
        (i, [1.0 + 1e-8 * i, 1.0, 1.0, 1.0]) for i in range(1, 7)]
    e = (spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
         .repartition(4))   # spread the candidates over partitions
    q = spark.createDataFrame([rows[0]],
                              "vec_id long, embedding array<double>")
    jvm = [(r.rank, r.neighbor_id, r.cos)
           for r in brute_force_topk(e, q, k=3).orderBy("rank").collect()]
    assert [n for _, n, _ in jvm] == [1, 2, 3]   # id-asc on the tie


def test_empty_input_schemas_preserve_id_types(spark):
    """r9 deferred divergence (c), pinned: empty-input fallbacks derive
    their schemas from the input id columns instead of hardcoding
    long — an empty int-id shard must union cleanly with a non-empty
    one."""
    from cantera_table_spark.functions.dedup import (
        lsh_candidate_pairs_arrays, shingle_arrays)
    from cantera_table_spark.functions.similarity import (
        hyperplane_signature)
    from pyspark.sql import types as T

    empty_int = spark.createDataFrame(
        [], "vec_id int, embedding array<float>")
    hs = hyperplane_signature(empty_int)
    assert hs.schema["vec_id"].dataType == T.IntegerType()
    assert hs.schema["v"].dataType == T.ArrayType(T.FloatType())
    assert hs.count() == 0

    empty_docs = spark.createDataFrame([], "doc_id int, text string")
    pairs = lsh_candidate_pairs_arrays(shingle_arrays(empty_docs))
    assert pairs.schema["doc_a"].dataType == T.IntegerType()
    assert pairs.schema["doc_b"].dataType == T.IntegerType()
    assert pairs.count() == 0


def test_bmp_codec_roundtrip_and_resize(spark):
    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        decode_bmp, decode_images, encode_bmp, resize_bmp_nearest)
    w, h = 5, 3                       # width 5 -> 15-byte rows, 1-byte pad
    pix = bytes(range(w * h * 3))
    d = decode_bmp(encode_bmp(pix, w, h))
    arr = np.frombuffer(pix, np.uint8).reshape(-1, 3)
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_b"] == arr[:, 0].mean()
    assert d["mean_r"] == arr[:, 2].mean()
    small = decode_bmp(resize_bmp_nearest(encode_bmp(pix, w, h), 2, 2))
    assert (small["width"], small["height"]) == (2, 2)
    # distributed decode + quarantine: a non-BMP payload NULLs out, not
    # crashes
    media = spark.createDataFrame(
        [(1, bytearray(encode_bmp(pix, w, h))), (2, bytearray(b"not a bmp"))],
        "media_id long, data binary")
    rows = {r.media_id: r for r in decode_images(media).collect()}
    assert rows[1].width == w and rows[1].mean_g == arr[:, 1].mean()
    assert rows[2].width is None and rows[2].mean_g is None


def test_jaccard_stop_shingle_cap(spark):
    """max_df drops high-document-frequency shingles from pair
    formation only: near-dup pairs sharing distinctive shingles
    survive with a lower-bound jaccard, and pairs glued together ONLY
    by boilerplate vanish instead of forming n^2/2 join rows."""
    from cantera_table_spark.functions.dedup import jaccard_pairs, shingles
    boiler = "all rights reserved copyright notice applies here"
    rows = [(i, f"unique body {i} " * 3 + boiler) for i in range(30)]
    rows += [(100, "the quick brown fox jumps over the lazy dog " + boiler),
             (101, "the quick brown fox jumps over the lazy cat " + boiler)]
    sh = shingles(spark.createDataFrame(rows, "doc_id long, text string"))

    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(sh).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in jaccard_pairs(sh, max_df=5).collect()}
    # the planted near-dup pair survives (its distinctive fox shingles
    # are rare) with a lower-bound score
    assert (100, 101) in capped
    assert capped[(100, 101)] <= full[(100, 101)]
    # boilerplate-only pairs (unique bodies, shared legal footer) are
    # pruned: every one of the ~30^2/2 pairs among docs 0..29 vanishes
    assert not any(a < 30 and b < 30 for a, b in capped)
    assert any(a < 30 and b < 30 for a, b in full)
    # no score ever inflated
    assert all(capped[p] <= full[p] for p in capped)


@pytest.mark.slow
def test_lsh_hot_bucket_bound(spark, monkeypatch):
    """VERDICT r2 item 5: a degenerate band bucket (hundreds of
    identical documents — the boilerplate-page shape) must not pair
    quadratically when max_bucket is set, and clustering over the
    bounded pairs must still merge the whole duplicate group."""
    from cantera_table_spark.functions import dedup
    from cantera_table_spark.functions.dedup import (
        duplicate_clusters, lsh_candidate_pairs_arrays, shingle_arrays)
    n_dup = 200
    rows = [(i, "the same boilerplate page content repeated verbatim "
                "across the corpus many times over") for i in range(n_dup)]
    rows += [(1000, "a genuinely different document about spark plans"),
             (1001, "another unrelated text with other words entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bounded = lsh_candidate_pairs_arrays(shingle_arrays(docs), k=16,
                                         bands=4, max_bucket=20)
    pairs = bounded.collect()
    # linear star, not ~n^2/2 quadratic: one hub pair per duplicate
    assert len(pairs) <= 4 * n_dup
    assert all(p.doc_a == 0 for p in pairs)   # hub = min doc_id

    # default path: the star graph is under SMALL_GRAPH_EDGES, so the
    # driver union-find runs and registers NO caches (nothing to free)
    with CacheScope() as held:
        clusters = duplicate_clusters(
            docs.select("doc_id"), bounded, caches=held)
        labels = {r.doc_id: r.canonical_id for r in clusters.collect()}
        assert all(labels[i] == 0 for i in range(n_dup))
        assert labels[1000] == 1000 and labels[1001] == 1001
        assert not held

    # distributed path (SMALL_GRAPH_EDGES=0): identical labels, and the
    # subgraph-label cache is surfaced through the caches contract
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    with CacheScope() as held:
        clusters_d = duplicate_clusters(
            docs.select("doc_id"), bounded, caches=held)
        labels_d = {r.doc_id: r.canonical_id
                    for r in clusters_d.collect()}
        assert labels_d == labels
        # only the converged round stays in the scope, and it is cached
        assert len(held) == 1 and held._frames[0].is_cached


@pytest.mark.slow
def test_mm_oracles_index_bytes_not_chars(spark, tmp_path):
    """The mm gate oracles must cycle over UTF-8 BYTES exactly like the
    Spark side's t.encode('utf-8') (ADVICE r2: character-positioned
    substr/ord diverges on any non-ASCII text).  Run gate query and
    DuckDB oracle over a tiny non-ASCII documents fixture and demand a
    value-exact match."""
    import duckdb
    import math

    from cantera_table_spark import gate as G
    docs = spark.createDataFrame(
        [(0, "héllo wörld"), (1, "日本語テキスト"), (2, "plain ascii"),
         (3, "éé"), (4, "mixed: ascii + ünïcode")],
        "doc_id long, text string")
    docs = docs.withColumn("lang", F.lit("xx")) \
        .withColumn("source", F.lit("s")) \
        .withColumn("n_chars", F.length("text").cast("long"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("mm01_decode_media", "mm02_decode_bmp",
                 "mm03_decode_wav", "mm04_thumbnail"):
        sdf = qs[name](spark, sf_dir)
        got = {tuple(r)[0]: tuple(r)[1:] for r in sdf.collect()}
        want = {tuple(r)[0]: tuple(r)[1:]
                for r in con.execute(oracles[name]).fetchall()}
        assert set(got) == set(want), name
        for k in want:
            for a, b in zip(got[k], want[k]):
                if isinstance(a, float):
                    assert math.isclose(a, b, rel_tol=0, abs_tol=0), \
                        (name, k, a, b)
                else:
                    assert a == b, (name, k, a, b)
    con.close()


def test_resize_handles_top_down_bmp():
    """A negative-height (top-down) BMP must resize without vertical
    mirroring: resize 4x4 -> 2x2 of a half-black/half-white image keeps
    black on top (ADVICE r2: resize ignored the top-down flag)."""
    import struct as _struct

    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        decode_bmp, encode_bmp, resize_bmp_nearest)
    w, h = 4, 4
    img = np.zeros((h, w, 3), np.uint8)        # image order, top row first
    img[:2] = 0                                 # top half black
    img[2:] = 255                               # bottom half white
    # bottom-up file buffer = image rows reversed
    bottom_up = encode_bmp(img[::-1].tobytes(), w, h)
    # top-down variant: same image, rows in image order, height negated
    top_down = bytearray(encode_bmp(img.tobytes(), w, h))
    _struct.pack_into("<i", top_down, 18 + 4, -h)
    for payload in (bottom_up, bytes(top_down)):
        thumb = resize_bmp_nearest(payload, 2, 2)
        d = decode_bmp(thumb)
        assert (d["width"], d["height"]) == (2, 2)
        # decode the thumbnail's pixel grid directly: row 0 (image
        # order) must be black, row 1 white — identical for both source
        # orientations
        pix_off = _struct.unpack_from("<I", thumb, 10)[0]
        stride = 2 * 3 + ((-(2 * 3)) % 4)      # rows pad to 4 bytes
        grid = np.stack([
            np.frombuffer(thumb, np.uint8, count=2 * 3,
                          offset=pix_off + r * stride).reshape(2, 3)
            for r in range(2)])[::-1]          # bottom-up -> image order
        assert grid[0].max() == 0 and grid[1].min() == 255


def test_doc_key_gates_survive_wide_doc_ids(spark, tmp_path):
    """Doc-key construction must not collide ids wider than the 6-digit
    pad: lpad TRUNCATES long strings, so 'doc1234567' would become
    'doc123456' without the length guard (model.derive_documents and
    every doc-key oracle carry the same CASE).  Run the doc-key gates
    against their oracles on a fixture straddling 1e6."""
    import duckdb

    from cantera_table_spark import gate as G
    docs = spark.createDataFrame(
        [(999999, "slow start"), (1000000, "slow middle"),
         (1234567, "fast end"), (7, "slow tail")],
        "doc_id long, text string")
    docs = docs.withColumn("lang", F.lit("xx")) \
        .withColumn("source", F.lit("s")) \
        .withColumn("n_chars", F.length("text").cast("long"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("dp01_dump_index", "x02_export_results"):
        got = sorted(tuple(r) for r in qs[name](spark, sf_dir).collect())
        want = sorted(tuple(r) for r in con.execute(oracles[name]).fetchall())
        assert got == want, name
        assert got, name                      # fixture actually matched
    # distinct ids stayed distinct through the key mapping
    keys = {r.key for r in
            G._engine(spark, sf_dir).catalog.summary().collect()}
    assert len(keys) == 4
    con.close()


def test_multimodal_gates_survive_non_ascii_text(spark, tmp_path):
    """The mm gates cycle DOCUMENT BYTES into pixel/sample buffers, and
    their oracles must index the same byte stream — an oracle that
    cycles by byte count but indexes by CHARACTER diverges the moment a
    document contains a multi-byte code point.  Pin the codec gates
    against their DuckDB oracles on a deliberately non-ASCII fixture
    (UTF-8 2-, 3-, and 4-byte sequences)."""
    import math

    import duckdb

    from cantera_table_spark import gate as G
    docs = spark.createDataFrame(
        [(1, "héllo wörld à la carte"),        # 2-byte sequences
         (2, "データ処理は楽しい"),              # 3-byte CJK
         (3, "rockets 🚀🚀 and 🎉 confetti"),   # 4-byte emoji
         (4, "plain ascii control row")],
        "doc_id long, text string")
    docs = docs.withColumn("lang", F.lit("xx")) \
        .withColumn("source", F.lit("s")) \
        .withColumn("n_chars", F.length("text").cast("long"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("mm02_decode_bmp", "mm03_decode_wav", "mm04_thumbnail",
                 "mm06_decode_png", "mm07_decode_gif",
                 "mm08_decode_jpeg", "mm09_video_frames"):
        sdf = qs[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted(tuple(norm(r[c]) for c in cols)
                     for r in sdf.collect())
        want = []
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        for r in cur.fetchall():
            d = dict(zip(ocols, r))
            want.append(tuple(norm(d[c]) for c in cols))
        assert got == sorted(want), name
        assert len(got) >= 4, name     # >= : mm07 emits rows per FRAME
    con.close()


@pytest.mark.slow
def test_text_gates_survive_null_and_empty_text(spark, tmp_path):
    """NULL/empty/whitespace text is the other fixture shape a
    regeneration can introduce.  Pin Spark == oracle on it for the
    text/dedup/packing gates: NULL text means NULL stats and NULL
    fingerprint (not 0), zero pack tokens (not a Python crash), and
    dd13 must not drop NULL-text docs through a null-key join."""
    import math

    import duckdb

    from cantera_table_spark import gate as G
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, None), (3, ""), (4, "   "), (5, "short"),
         (6, "the quick brown fox jumps over the lazy dog"),
         (7, None)],
        "doc_id long, text string")
    docs = docs.withColumn("lang", F.lit("xx")) \
        .withColumn("source", F.lit("s")) \
        .withColumn("n_chars",
                    F.coalesce(F.length("text"), F.lit(0)).cast("long"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    def skey(row):
        return tuple((x is None, str(type(x)), 0 if x is None else x)
                     for x in row)

    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("tx01_text_stats", "tx04_fingerprint", "tx10_lm_score",
                 "ds03_pack_sequences", "dd01_exact_dedup",
                 "dd13_dedup_pipeline", "dd10_line_dedup"):
        sdf = qs[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted((tuple(norm(r[c]) for c in cols)
                      for r in sdf.collect()), key=skey)
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        want = sorted((tuple(norm(dict(zip(ocols, r))[c]) for c in cols)
                       for r in cur.fetchall()), key=skey)
        assert got == want, name
    # dd13 specifically: both NULL-text docs present, merged together
    out = {r.doc_id: r.canonical_id
           for r in qs["dd13_dedup_pipeline"](spark, sf_dir).collect()}
    assert out[2] == 2 and out[7] == 2
    con.close()


@pytest.mark.slow
def test_gates_survive_empty_tables(spark, tmp_path):
    """Zero-row tables must yield zero-row results, not crashes —
    notably logreg training, whose full-batch gradient aggregate
    returns NULLs over an empty frame (zero update steps, not a
    float(None) fault)."""
    from cantera_table_spark import gate as G
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars long").coalesce(1) \
        .write.parquet(f"{sf_dir}/documents.parquet")
    spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, "
            "event_type string, value double").coalesce(1) \
        .write.parquet(f"{sf_dir}/events.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>").coalesce(1) \
        .write.parquet(f"{sf_dir}/embeddings.parquet")
    qs = G.queries()
    for name in ("q01_and", "corr01_feature_mining", "dd06_dedup_clusters",
                 "dd13_dedup_pipeline", "tx10_lm_score",
                 "ds03_pack_sequences", "sim07_quantized_topk",
                 "ml01_logreg_quality", "ev03_funnel", "ir01_bm25",
                 "mm08_decode_jpeg", "mm09_video_frames"):
        assert qs[name](spark, sf_dir).count() == 0, name


@pytest.mark.slow
def test_streaming_gates_survive_null_events(spark, tmp_path):
    """NULL ts/type/value events through the STREAMING path: concat_ws
    SKIPS null fields, so an unfiltered TSV drop silently shifts
    columns; sessionization (batch AND stream) drops null event times
    like the watermark would; the stream fold's session sum skips null
    values like SQL sum.  Gate == oracle on a null-shaped events
    fixture."""
    import math

    import duckdb

    from cantera_table_spark import gate as G
    ev = spark.createDataFrame(
        [(i, i % 5, f"2024-01-{(i % 27) + 1:02d} {(i % 23):02d}:00:00",
          ["view", "click", "purchase"][i % 3], float(i % 7))
         for i in range(60)]
        + [(100, 1, None, "view", 1.0),
           (101, 2, "2024-01-05 10:00:00", None, 2.0),
           (102, 3, "2024-01-06 10:00:00", "view", None)],
        "event_id long, user_id long, ts string, event_type string, "
        "value double")
    sf_dir = str(tmp_path)
    ev.withColumn("ts", F.to_timestamp("ts")).coalesce(1) \
        .write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS "
                f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 5)
        return v

    def skey(row):
        return tuple((x is None, str(type(x)), 0 if x is None else x)
                     for x in row)

    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("st01_stream_ingest", "st02_stream_windowed_rollup",
                 "st04_stream_sessionize", "ev02_sessionize",
                 "dp02_dump_timeseries", "ts07_union_merge"):
        sdf = qs[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted((tuple(norm(r[c]) for c in cols)
                      for r in sdf.collect()), key=skey)
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        want = sorted((tuple(norm(dict(zip(ocols, r))[c]) for c in cols)
                       for r in cur.fetchall()), key=skey)
        assert got == want, name
    con.close()


@pytest.mark.slow
def test_engine_gates_survive_null_doc_fields(spark, tmp_path):
    """NULL text/lang/source through the ENGINE path (derived postings,
    label postings, JSON export, CORRELATE): the export oracle must
    omit null JSON fields the way to_json does (not null the whole
    line), and CORRELATE with an empty class still reports the
    concentrated features with count 0 on the empty side."""
    import math

    import duckdb

    from cantera_table_spark import gate as G
    docs = spark.createDataFrame(
        [(1, "spark is fast and spark is slow sometimes", "en", "src1"),
         (2, None, "en", "src1"), (3, "", "de", "src2"),
         (4, "fast queries need fast storage", "de", None),
         (5, "slow spark fast", None, "src2"),
         (6, "spark is fast and spark is slow sometimes", "en", "src1")],
        "doc_id long, text string, lang string, source string")
    docs = docs.withColumn(
        "n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long"))
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        return v

    def skey(row):
        return tuple((x is None, str(type(x)), 0 if x is None else x)
                     for x in row)

    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("q01_and", "q02_or", "q07_order_by", "q15_select_matrix",
                 "dp01_dump_index", "x02_export_results", "tx05_tfidf",
                 "corr01_feature_mining", "a06_posting_counts",
                 "cat01_multi_table"):
        sdf = qs[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted((tuple(norm(r[c]) for c in cols)
                      for r in sdf.collect()), key=skey)
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        want = sorted((tuple(norm(dict(zip(ocols, r))[c]) for c in cols)
                       for r in cur.fetchall()), key=skey)
        assert got == want, name
    # corr01 here exercises the empty-es-class path: since r11 the
    # engine AND oracle short-circuit to NO output like the reference
    # (correlate.cc:501) — previously 6 count_b=0 rows emitted, the
    # undocumented divergence the r11 operators sweep closed
    got = qs["corr01_feature_mining"](spark, sf_dir).collect()
    assert got == []
    con.close()


@pytest.mark.slow
def test_embedding_event_gates_survive_null_shapes(spark, tmp_path):
    """NULL/empty embeddings and NULL ts/value/type events: quantize
    must drop code-less vectors like the oracle's unnest does (not
    fault element_at on sequence(1,0)); window ordering pins NULLS
    FIRST explicitly (Spark and DuckDB defaults DIFFER); retention
    ignores NULL-ts activity on both sides."""
    import math
    import random

    import duckdb

    from cantera_table_spark import gate as G
    rnd = random.Random(7)
    rows = [(i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
            for i in range(30)] + [(30, None), (31, [])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sf_dir = str(tmp_path)
    emb.coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.createDataFrame(
        [(i, i % 5, f"2024-01-{(i % 27) + 1:02d} 10:00:00",
          ["view", "click", "purchase"][i % 3], float(i % 7))
         for i in range(40)]
        + [(100, 1, None, "view", 1.0),
           (101, 2, "2024-01-05 10:00:00", None, 2.0),
           (102, 3, "2024-01-06 10:00:00", "view", None),
           # NULL user: a full ordered journey that must advance no
           # funnel, join no retention cohort, band no series
           (103, None, "2024-01-07 10:00:00", "view", 1.0),
           (104, None, "2024-01-07 11:00:00", "click", 2.0),
           (105, None, "2024-01-07 12:00:00", "purchase", 3.0),
           # user whose ONLY view has a NULL ts: event-time ops skip it
           (106, 90, None, "view", 1.0),
           (107, 90, "2024-01-08 10:00:00", "click", 1.0),
           # NULL event_type with spread values: these form no series,
           # so the band gates must not emit a NULL-key band group
           (108, 4, "2024-01-09 10:00:00", None, 0.001),
           (109, 4, "2024-01-09 11:00:00", None, 999.0)],
        "event_id long, user_id long, ts string, event_type string, "
        "value double")
    ev.withColumn("ts", F.to_timestamp("ts")).coalesce(1) \
        .write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    for t in ("embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 5)
        return v

    def skey(row):
        return tuple((x is None, str(type(x)), 0 if x is None else x)
                     for x in row)

    qs, oracles = G.queries(), G.oracle_sql()
    for name in ("sim01_brute_topk", "sim04_ivf_assign",
                 "sim07_quantized_topk", "dd05_embedding_neardup",
                 "ts01_daily_rollup", "ts04_asof_prior",
                 "ts06_band_outliers",
                 "ev01_user_running", "ev03_funnel", "ev04_retention"):
        sdf = qs[name](spark, sf_dir)
        cols = sorted(sdf.columns)
        got = sorted((tuple(norm(r[c]) for c in cols)
                      for r in sdf.collect()), key=skey)
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        want = sorted((tuple(norm(dict(zip(ocols, r))[c]) for c in cols)
                       for r in cur.fetchall()), key=skey)
        assert got == want, name
    con.close()


def test_wav_codec_roundtrip(spark):
    import numpy as np
    from cantera_table_spark.functions.multimodal import (
        decode_audio, decode_wav, encode_wav)
    samples = [0, 1000, -1000, 32767, -32768, 5]
    d = decode_wav(encode_wav(samples))
    assert d == {"n_channels": 1, "sample_rate": 8000, "n_frames": 6,
                 "mean_abs": float(np.abs(np.array(samples,
                                                   dtype=np.int64)).mean())}
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav(samples))), (2, bytearray(b"RIFFgarbage"))],
        "media_id long, data binary")
    rows = {r.media_id: r for r in decode_audio(media).collect()}
    assert rows[1].n_frames == 6 and rows[1].sample_rate == 8000
    assert rows[2].n_frames is None


def test_repetition_stats_hand_computed(spark):
    from cantera_table_spark.functions.text import with_repetition_stats
    d = spark.createDataFrame(
        [(1, "a a a b"),      # 4 tokens 2 distinct -> dup 0.5;
                              # bigrams: "a a" x2, "a b" -> top 2/3;
                              # trigrams: "a a a", "a a b" -> top 1/2
         (2, "x y"),          # no dup; 1 bigram -> top 1.0; no trigram
         (3, "")],            # empty -> all 0.0
        "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition_stats(d).collect()}
    assert out[1].dup_token_frac == 0.5
    assert out[1].top_bigram_frac == round(2 / 3, 6)
    assert out[1].top_trigram_frac == 0.5
    assert out[2].dup_token_frac == 0.0
    assert out[2].top_bigram_frac == 1.0
    assert out[2].top_trigram_frac == 0.0
    assert (out[3].dup_token_frac, out[3].top_bigram_frac,
            out[3].top_trigram_frac) == (0.0, 0.0, 0.0)


def test_pii_stats_and_scrub(spark):
    from cantera_table_spark.functions.text import (
        scrub_pii, with_pii_stats)
    d = spark.createDataFrame(
        [(1, "mail me at bob.smith@corp.example.org or +1 555 0100"),
         (2, "server 192.168.0.1 and 10.0.0.255 up"),
         (3, "nothing here"),
         (4, "not-an-ip 1234.5.6.7890 half")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(with_pii_stats(d)).collect()}
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert out[1].text_clean == "mail me at <EMAIL> or <PHONE>"
    assert out[2].n_ipv4 == 2
    assert out[2].text_clean == "server <IP> and <IP> up"
    assert out[3].text_clean == "nothing here"
    # \b guards: 4-digit runs around the dots must not match as IPv4
    assert out[4].n_ipv4 == 0


def test_decontaminate_counts_and_flags(spark):
    from cantera_table_spark.functions.dedup import decontaminate
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "a the quick brown fox leaps"),  # shares 2 trigrams
         (2, "totally unrelated words here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert out[1].n_contaminated_shingles == 2 and out[1].contaminated
    assert out[2].n_contaminated_shingles == 0 and not out[2].contaminated


def test_stratified_sample_quota_and_oversample_equivalence(spark):
    """Per-stratum quota, dense ranks, and the same rows on a rerun."""
    from cantera_table_spark.functions.sampling import stratified_sample
    d = docs(spark)
    exact = stratified_sample(d, "lang", quota=10)
    rows = exact.collect()
    per = {}
    for r in rows:
        per.setdefault(r.lang, []).append(r.sample_rank)
    n_lang = d.select("lang").distinct().count()
    assert len(per) == n_lang
    for lang, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 10
    # determinism across invocations
    again = stratified_sample(d, "lang", quota=10)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_weighted_sample_budgets_and_missing_stratum(spark):
    from cantera_table_spark.functions.sampling import stratified_sample
    d = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(90)],
        "doc_id long, lang string")
    out = stratified_sample(d, "lang", {"en": 7, "de": 3}).collect()
    per = {}
    for r in out:
        per.setdefault(r.lang, set()).add(r.sample_rank)
    assert set(per) == {"en", "de"}          # fr has no quota -> absent
    assert per["en"] == set(range(1, 8)) and per["de"] == {1, 2, 3}
    # dict path agrees with int path when all quotas equal
    uni = {(r.lang, r.doc_id) for r in
           stratified_sample(d, "lang", 4).collect() if r.lang != "fr"}
    dct = {(r.lang, r.doc_id) for r in
           stratified_sample(d, "lang", {"en": 4, "de": 4}).collect()}
    assert uni == dct


def test_dedup_lines_first_occurrence_and_blanks(spark):
    from cantera_table_spark.functions.text import dedup_lines
    d = spark.createDataFrame(
        [(1, "alpha\nshared footer\n\nbeta"),
         (2, "gamma\nshared footer\ndelta"),
         (3, "shared footer\nalpha\n")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(d).collect()}
    # doc 1 keeps everything (first occurrences + structural blank)
    assert out[1].text == "alpha\nshared footer\n\nbeta"
    assert out[1].n_removed == 0
    # doc 2 loses only the footer
    assert out[2].text == "gamma\ndelta"
    assert out[2].n_removed == 1
    # doc 3: 'shared footer' and 'alpha' both removed (doc 1 owns the
    # first occurrences); the surviving line is its trailing blank
    assert out[3].text == ""
    assert out[3].n_lines == 3 and out[3].n_removed == 2


def test_dedup_lines_idempotent(spark):
    from cantera_table_spark.functions.text import dedup_lines
    d = spark.createDataFrame(
        [(1, "x\ny\nx"), (2, "y\nz"), (3, "z")],
        "doc_id long, text string")
    once = dedup_lines(d)
    twice = dedup_lines(once.select("doc_id", "text"))
    r1 = {(r.doc_id, r.text) for r in once.collect()}
    r2 = {(r.doc_id, r.text) for r in twice.collect()}
    assert r1 == r2
    assert twice.agg(F.sum("n_removed")).first()[0] == 0


def test_lm_score_prefers_predictable_text(spark):
    from cantera_table_spark.functions.text import lm_quality_score
    rows = [(i, "the cat sat on the mat and the cat sat again")
            for i in range(5)]
    rows += [(100, "zyx qwv plk mnb vcx asd fgh jkl poi uyt")]
    rows += [(200, "one")]          # too short for bigrams
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lm_quality_score(d).collect()}
    # the repeated in-distribution doc is far more probable than the
    # one-off junk doc under the corpus LM
    assert out[0].ppl < out[100].ppl
    assert out[200].n_bigrams == 0 and out[200].ppl is None
    assert out[0].n_bigrams == 10


def test_sixth_sweep_ingest_guards(spark, tmpdir):
    """r10 sixth-sweep findings, pinned: (a) literal NUL bytes pass
    through the TSV unescape unchanged (the sentinel byte turned them
    into backslashes); (b) double_to_string renders non-finite values
    instead of raising; (c) misconfigured sharding, scoreless
    thresholds, sharded summary loads, and band-bearing sum/union
    merges all raise clean ValueErrors instead of silently
    mis-ingesting."""
    import os
    import pytest
    from cantera_table_spark.functions.dates import double_to_string
    from cantera_table_spark.sources.ingest import (
        _unescape_tsv, escape_tsv, merge_tables, read_tsv_postings,
        read_tsv_summaries)

    vals = ["a\x00b", "x\\ty\x00", "\\\\n", "plain", "\\\\\\t"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [r.u for r in
           df.select(_unescape_tsv(F.col("s")).alias("u")).collect()]
    assert got == ["a\x00b", "x\ty\x00", "\\n", "plain", "\\\t"]
    # escape -> unescape round-trips NUL-bearing data
    rt = [r.u for r in df.select(
        _unescape_tsv(escape_tsv(F.col("s"))).alias("u")).collect()]
    assert rt == vals

    assert double_to_string(float("nan")) == "nan"
    assert double_to_string(float("inf")) == "inf"
    assert double_to_string(4.0) == "4"

    docs = spark.createDataFrame([(0, "d0")], "doc_id long, key string")
    p = os.path.join(tmpdir, "in.tsv")
    with open(p, "w") as f:
        f.write("kw\td0\n")
    with pytest.raises(ValueError, match="score_col"):
        read_tsv_postings(spark, p, docs, threshold=0.5)
    with pytest.raises(ValueError, match="without shard_count"):
        read_tsv_postings(spark, p, docs, shard_index=1)
    with pytest.raises(ValueError, match="outside"):
        read_tsv_postings(spark, p, docs, shard_count=2, shard_index=5)
    with pytest.raises(ValueError, match="sharded summary"):
        read_tsv_summaries(spark, p, shard_count=2, shard_index=0)

    banded = spark.createDataFrame(
        [("k", 1.0, 2.0, None, None, None, None)],
        "key string, ts double, value double, pct5 double, "
        "pct25 double, pct75 double, pct95 double")
    with pytest.raises(ValueError, match="percentile-band"):
        merge_tables([banded, banded], "sum", key_cols=("key", "ts"))


def test_fifth_sweep_skew_ordering_stream_guards(spark):
    """r10 fifth-sweep findings, pinned: (c) global_row_number
    rejects inputs whose columns collide with its internals; (d)
    sessionize_stream refuses a non-UTC session timezone instead of
    silently offsetting its epoch math."""
    import pytest
    from cantera_table_spark.operators.ordering import global_row_number

    bad = spark.createDataFrame([(1, 2)], "a long, __gpid int")
    with pytest.raises(ValueError, match="ordering internals"):
        global_row_number(bad, F.col("a").asc())

    from cantera_table_spark.streaming.sessionize import sessionize_stream
    stream = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)],
        "user_id long, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone",
                       "America/Los_Angeles")
        with pytest.raises(ValueError, match="timeZone"):
            sessionize_stream(stream)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_png_all_filters_reconstruct_identically():
    """r10 fifth-sweep: the vectorized Sub (filter 1) path must
    reconstruct exactly like the reference scalar semantics — a PNG of
    the same pixels encoded with filter 0 and one re-encoded per-row
    with filters 1/2/3/4 must decode identically."""
    import struct
    import zlib
    import numpy as np
    from cantera_table_spark.functions.multimodal import decode_png

    h, w, ch = 5, 7, 3
    rng = np.random.default_rng(7)
    recon = rng.integers(0, 256, (h, w * ch), dtype=np.uint8)

    def forward(ftype, row, prev):
        r = row.astype(np.int32)
        p = prev.astype(np.int32)
        out = np.zeros_like(r)
        for i in range(len(r)):
            a = int(r[i - ch]) if i >= ch else 0
            b = int(p[i])
            c = int(p[i - ch]) if i >= ch else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            out[i] = (int(r[i]) - pred) & 0xFF
        return out.astype(np.uint8)

    def png(rows):
        def chunk(typ, body):
            return (struct.pack(">I", len(body)) + typ + body +
                    struct.pack(">I", zlib.crc32(typ + body)))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        raw = b"".join(bytes([f]) + d.tobytes() for f, d in rows)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) +
                chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    plain = png([(0, recon[r]) for r in range(h)])
    filters = [1, 2, 3, 4, 1]                 # one per row, Sub twice
    prev = np.zeros(w * ch, dtype=np.uint8)
    enc_rows = []
    for r in range(h):
        enc_rows.append((filters[r], forward(filters[r], recon[r], prev)))
        prev = recon[r]
    filtered = png(enc_rows)
    assert decode_png(plain) == decode_png(filtered)


def test_gif_patch_frame_and_every_n_guards(spark):
    """r10 fifth-sweep: (a) an uncomposited GIF patch frame (offset or
    sub-screen dimensions) raises like the interlace case instead of
    fabricating logical-screen features from patch bytes; (b)
    gif_frame_stats validates every_n at entry — a bad value must fail
    loudly, never quarantine-NULL a whole corpus."""
    import pytest
    import struct
    from cantera_table_spark.functions.multimodal import (
        decode_gif, encode_gif, gif_frame_stats)
    w, h = 4, 3
    frame = bytes((i * 7) % 256 for i in range(w * h))   # greyscale
    data = encode_gif([frame], w, h)
    assert decode_gif(data)["n_frames"] == 1
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    patched = data.replace(desc,
                           b"\x2c" + struct.pack("<HHHH", 1, 0, w - 1, h))
    with pytest.raises(ValueError, match="patch frame"):
        decode_gif(patched)
    media = spark.createDataFrame([(1, bytearray(data))],
                                  "media_id long, data binary")
    with pytest.raises(ValueError, match="every_n"):
        gif_frame_stats(media, every_n=0)


@pytest.mark.slow
def test_fourth_sweep_null_and_identity_contracts(spark, monkeypatch):
    """r10 fourth-sweep findings, pinned: (a) dedup_lines preserves
    NULL-text docs (NULL out, zero counts) instead of dropping them;
    (b) the wordpiece encode kernel reports NULL stats for a NULL word
    instead of a job-killing TypeError; (d) kmv_distinct keeps exact group
    identity for nullable int64 group keys >= 2^53 (the Arrow->pandas
    float64 coercion rounded them) and for NaN double groups; (e) the
    logreg gradient divides by the TRAINABLE row count, so NULL-feature
    rows don't shrink every step; (f) a vocab artifact reused with
    different parameters raises instead of silently encoding with the
    wrong vocabulary."""
    import math
    import pytest
    from cantera_table_spark.functions.ml import logreg_train_score
    from cantera_table_spark.functions.sketches import kmv_distinct
    from cantera_table_spark.functions.text import (
        dedup_lines, wordpiece_encode_words)

    # (a) NULL-text doc preserved
    d = spark.createDataFrame(
        [(1, "a\nb"), (2, None), (3, "a\nc")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_lines(d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].n_lines == 0 and out[2].n_removed == 0
    assert out[2].text is None
    assert out[3].text == "c" and out[3].n_removed == 1

    # (b) NULL word -> NULL stats, no crash
    words = spark.createDataFrame([("ab",), (None,)], "tok string")
    enc = {r.tok: r for r in
           wordpiece_encode_words(words, ["a", "b"]).collect()}
    assert enc["ab"].n_pieces == 2
    assert enc[None].n_pieces is None and enc[None].pieces is None

    # (d) big-int and NaN group identity through the kmv kernel
    big = (1 << 60) + 1
    kdf = spark.createDataFrame(
        [(big, "x"), (big, "y"), (big + 2, "x"), (None, "z")],
        "g long, v string")
    got = {r.g: r.n_mins for r in kmv_distinct(kdf, "v", "g").collect()}
    assert got == {big: 2, big + 2: 1, None: 1}
    nan = float("nan")
    ndf = spark.createDataFrame(
        [(nan, "x"), (None, "y"), (1.5, "z")], "g double, v string")
    rows = kmv_distinct(ndf, "v", "g").collect()
    kinds = {("nan" if (r.g is not None and math.isnan(r.g)) else r.g)
             for r in rows}
    assert kinds == {"nan", None, 1.5}   # NaN group distinct from NULL

    # (e) gradient N excludes NULL-feature rows: adding pure-NULL rows
    # must not change the learned weights
    base = spark.createDataFrame(
        [(0.1, 0), (0.9, 1), (0.2, 0), (0.8, 1)], "x double, y int")
    with_nulls = base.unionByName(spark.createDataFrame(
        [(None, 1), (None, 0)], "x double, y int"))
    _, w_base = logreg_train_score(base, ["x"], "y", steps=2)
    _, w_null = logreg_train_score(with_nulls, ["x"], "y", steps=2)
    assert w_base == w_null

    # (f) artifact param mismatch raises
    import tempfile, os
    from cantera_table_spark.functions import text
    from cantera_table_spark.functions.text import wordpiece_vocab_file
    docs = spark.createDataFrame([(1, "aa bb aa")],
                                 "doc_id long, text string")
    p = os.path.join(tempfile.mkdtemp(), "vocab")
    monkeypatch.setattr(text, "VOCAB_MIN_COUNT", 1)
    wordpiece_vocab_file(docs, p)
    wordpiece_vocab_file(docs, p)      # same params: reuse
    monkeypatch.setattr(text, "VOCAB_MIN_COUNT", 2)
    with pytest.raises(ValueError, match="different path"):
        wordpiece_vocab_file(docs, p)


def test_degenerate_config_guards(spark):
    """r10 third-sweep findings: degenerate configurations raise clean
    ValueErrors instead of opaque driver crashes (TypeError on int({}),
    ZeroDivisionError, IndexError) or silently-wrong analytics
    (duplicate funnel stages map every occurrence to the first index;
    asof prefix collisions emit duplicate column names)."""
    import pytest
    from cantera_table_spark.functions.sampling import (
        hash_split, mixture_sample, stratified_sample)
    from cantera_table_spark.functions.timeseries import asof_join, funnel
    d = spark.createDataFrame([(1, "en", "a b")],
                              "doc_id long, lang string, text string")
    with pytest.raises(ValueError, match="quota dict is empty"):
        stratified_sample(d, "lang", quota={})
    with pytest.raises(ValueError, match="positive sum"):
        mixture_sample(d, {"en": 0.0}, total_tokens=10)
    with pytest.raises(ValueError, match="positive sum"):
        hash_split(d, {})
    ev = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00")],
        "user_id long, event_type string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="duplicate stage"):
        funnel(ev, ["view", "view", "buy"])
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 9.9)],
        "key string, ts string, r_value double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)],
        "key string, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="collide with prefixed"):
        asof_join(left, right, key_col="key", ts_col="ts",
                  value_cols=("value",))


def test_pack_assemble_composes(spark):
    """assemble_packed_text reads pack_sequences' output as it is:
    every packed document lands in exactly one assembled sequence and
    no sequence exceeds the capacity."""
    from cantera_table_spark.functions.packing import (
        assemble_packed_text, pack_sequences)
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f")],
        "doc_id long, text string")
    packed = pack_sequences(docs, capacity=4, n_shards=1)
    out = assemble_packed_text(docs, packed).collect()
    assert sum(r.n_docs for r in out) == 3
    assert all(r.n_tokens <= 4 for r in out)


def test_pack_sequences_capacity_and_coverage(spark):
    from cantera_table_spark.functions.packing import pack_sequences
    rows = [(i, " ".join(["tok"] * (7 + (i * 13) % 90)))
            for i in range(60)]
    rows.append((1000, " ".join(["tok"] * 500)))   # oversize
    d = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(d, capacity=120, n_shards=4).collect()
    assert len(packed) == 61                       # every doc assigned
    fills = {}
    for r in packed:
        assert r.shard == r.doc_id % 4
        fills.setdefault((r.shard, r.bin), []).append(r)
    for (shard, b), members in fills.items():
        tot = sum(m.n_tokens for m in members)
        if len(members) > 1:
            assert tot <= 120                      # capacity respected
        else:
            assert tot <= 120 or members[0].oversize
    # bins numbered contiguously from 0 per shard
    for shard in {r.shard for r in packed}:
        bins = sorted({r.bin for r in packed if r.shard == shard})
        assert bins == list(range(len(bins)))


def test_quantize_embeddings_error_bound(spark):
    from cantera_table_spark.functions.similarity import quantize_embeddings
    rows = [(i, [float(i) / 7.0, -3.0 + i * 0.31, 42.0])  # dim 3 constant
            for i in range(20)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = quantize_embeddings(d).collect()
    mins = [min(r.embedding[j] for r in out) for j in range(3)]
    maxs = [max(r.embedding[j] for r in out) for j in range(3)]
    for r in out:
        for j in range(3):
            step = (maxs[j] - mins[j]) / 255.0
            assert abs(r.embedding_q[j] - r.embedding[j]) <= step + 1e-12
            assert 0 <= r.qcode[j] <= 255
    # degenerate dimension reconstructs exactly
    assert all(r.embedding_q[2] == 42.0 and r.qcode[2] == 0 for r in out)


def test_shuffle_shards_balance_and_partition_invariance(spark):
    from cantera_table_spark.functions.packing import shuffle_shards
    d = spark.range(1003).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(d, n_shards=4).collect()
    assert len(out) == 1003
    assert sorted({r.shuffle_rank for r in out}) == list(range(1, 1004))
    sizes = {}
    for r in out:
        assert r.shard == (r.shuffle_rank - 1) % 4
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the assignment is a pure function of doc_id: any input
    # partitioning yields the identical mapping
    again = {(r.doc_id, r.shuffle_rank, r.shard)
             for r in shuffle_shards(d.repartition(13), 4).collect()}
    assert again == {(r.doc_id, r.shuffle_rank, r.shard) for r in out}


def test_repeated_spans_merge_and_coverage(spark):
    from cantera_table_spark.functions.dedup import repeated_spans
    # docs 1 and 2 share two regions: tokens 'a b c' (pos 1) and
    # 'x y z' separated by unique middles; doc 3 is all-unique
    d = spark.createDataFrame(
        [(1, "a b c m1 m2 m3 m4 x y z"),
         (2, "a b c k1 k2 k3 k4 x y z"),
         (3, "p q r s t u v w aa bb")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in repeated_spans(d, n=3, min_docs=2).collect()}
    for i in (1, 2):
        assert out[i].n_tokens == 10 and out[i].n_windows == 8
        # shared windows: positions 1 and 8 -> two separate spans of 3
        # tokens each (gap 7 > n)
        assert out[i].n_spans == 2
        assert out[i].n_shared_windows == 2
        assert abs(out[i].repeated_token_frac - 0.6) < 1e-9
    assert out[3].n_spans == 0 and out[3].repeated_token_frac == 0.0
    # adjacent/overlapping windows merge into ONE span: docs share a
    # full 5-token run -> windows at pos 1..3 coalesce
    d2 = spark.createDataFrame(
        [(1, "a b c d e zz1 zz2"), (2, "a b c d e qq1 qq2")],
        "doc_id long, text string")
    out2 = {r.doc_id: r for r in
            repeated_spans(d2, n=3, min_docs=2).collect()}
    for i in (1, 2):
        assert out2[i].n_spans == 1
        assert out2[i].n_shared_windows == 3
        # span covers tokens 1..5 of 7
        assert abs(out2[i].repeated_token_frac - 5 / 7) < 1e-6


@pytest.mark.slow
def test_bpe_pair_stats_hand_computed(spark):
    from cantera_table_spark.functions.text import bpe_pair_stats
    # word freqs: abab x2 docs + ab x1 -> 'ab': abab has pairs
    # ab,ba,ab (2+1 weighted) ... hand-check:
    #   doc1 "abab ab", doc2 "abab" -> words: abab freq 2, ab freq 1
    #   abab pairs: ab, ba, ab ; ab pairs: ab
    #   'ab' = 2*2 + 1*1 = 5 ; 'ba' = 2*1 = 2
    d = spark.createDataFrame(
        [(1, "abab ab"), (2, "abab")], "doc_id long, text string")
    out = {r.pair: r.pair_count for r in bpe_pair_stats(d).collect()}
    assert out == {"ab": 5, "ba": 2}


@pytest.mark.slow
def test_chunk_documents_overlap_and_tail(spark):
    from cantera_table_spark.functions.text import chunk_documents
    import pytest as _pytest
    # letter-only tokens: the canonical tokenizer drops digits
    words = ["ta", "tb", "tc", "td", "te", "tf", "tg", "th", "ti", "tj"]
    d = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo")],
        "doc_id long, text string")
    out = [r for r in chunk_documents(d, chunk_tokens=4, overlap=1)
           .orderBy("doc_id", "chunk_id").collect()]
    one = [r for r in out if r.doc_id == 1]
    # stride 3: starts 1,4,7,10 -> sizes 4,4,4,1
    assert [r.chunk_start for r in one] == [1, 4, 7, 10]
    assert [r.n_chunk_tokens for r in one] == [4, 4, 4, 1]
    assert one[0].chunk_text == "ta tb tc td"
    assert one[1].chunk_text == "td te tf tg"     # 1-token overlap
    assert one[3].chunk_text == "tj"              # tail kept
    # every token covered at least once
    covered = set()
    for r in one:
        covered.update(r.chunk_text.split())
    assert covered == set(words)
    assert [r.chunk_text for r in out if r.doc_id == 2] == ["solo"]
    with _pytest.raises(ValueError):
        chunk_documents(d, chunk_tokens=4, overlap=4)


@pytest.mark.slow
def test_bm25_idf_and_length_normalization(spark):
    from cantera_table_spark.functions.retrieval import bm25_scores
    # rare term in doc 1; common term in every doc; doc 3 is long
    p = spark.createDataFrame(
        [("rare", 1, 2.0), ("common", 1, 2.0), ("common", 2, 2.0),
         ("common", 3, 2.0), ("filler", 3, 20.0)],
        "keyword string, doc_id long, score double")
    out = {(r.keyword, r.doc_id): r.bm25 for r in bm25_scores(p).collect()}
    # same tf: the rare term outweighs the common one
    assert out[("rare", 1)] > out[("common", 1)]
    # same term, same tf: the longer doc scores lower
    assert out[("common", 3)] < out[("common", 1)]
    assert all(v > 0 for v in out.values())


def test_rrf_fuse_hand_computed(spark):
    from cantera_table_spark.functions.retrieval import rrf_fuse
    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse({"a": a, "b": b}, k=60).collect()}
    assert out[20].n_lists == 2
    assert abs(out[20].rrf - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert abs(out[10].rrf - round(1 / 61, 6)) < 1e-9
    # doc in both lists outranks single-list docs here
    assert out[20].fused_rank == 1
    # deterministic tie-break: 10 and 30 tie on 1/61 vs 1/62 -> no tie;
    # ranks are unique and contiguous
    assert sorted(r.fused_rank for r in out.values()) == [1, 2, 3]


def test_logreg_learns_separable_labels(spark):
    from cantera_table_spark.functions.ml import logreg_train_score
    # y perfectly correlates with x1; x2 is noise
    rows = [(i, 1.0 if i % 2 else 0.0, float((i * 7) % 5) / 5.0,
             1 if i % 2 else 0) for i in range(200)]
    d = spark.createDataFrame(rows, "id long, x1 double, x2 double, y int")
    scored, w = logreg_train_score(d, ["x1", "x2"], "y",
                                   steps=10, lr=2.0)
    out = {r.id: r.p for r in scored.collect()}
    pos = [out[i] for i in range(200) if i % 2]
    neg = [out[i] for i in range(200) if not i % 2]
    assert min(pos) > max(neg)          # classes fully separated
    assert w[1] > 0                     # x1 carries positive weight
    assert abs(w[2]) < w[1]             # noise feature stays small
    # probability bounds
    assert all(0.0 <= p <= 1.0 for p in out.values())


def test_funnel_strict_ordering_and_retention(spark):
    from cantera_table_spark.functions.timeseries import (funnel,
                                                          retention_cohorts)
    rows = [
        # user 1: full ordered funnel
        (1, "a", 100), (1, "b", 200), (1, "c", 300),
        # user 2: b BEFORE a -> depth 1 (b must follow a)
        (2, "b", 100), (2, "a", 200),
        # user 3: a only
        (3, "a", 100),
        # user 4: never enters -> omitted
        (4, "c", 100),
        # user 5: a, then b, c out of order (c before b) -> depth 2
        (5, "a", 100), (5, "c", 150), (5, "b", 200),
    ]
    e = spark.createDataFrame(
        [(u, t, __import__("datetime").datetime.utcfromtimestamp(s))
         for u, t, s in rows],
        "user_id long, event_type string, ts timestamp")
    out = {r.user_id: r.funnel_depth
           for r in funnel(e, ["a", "b", "c"]).collect()}
    assert out == {1: 3, 2: 1, 3: 1, 5: 2}
    # retention: users first active week 0; one returns in week 1
    ret = {(r.cohort_period, r.periods_since): r.n_active
           for r in retention_cohorts(e, period_days=7).collect()}
    assert ret[(0, 0)] == 5


@pytest.mark.slow
def test_incremental_dedup_laws(spark):
    from cantera_table_spark.functions.dedup import incremental_dedup
    from pyspark.sql import functions as F
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "for the full length of the document body text")
    corpus = spark.createDataFrame(
        [(0, base), (2, "completely different corpus content here "
                        "about sailing ships across the northern sea")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, base),                                   # exact dup of corpus
         (3, base + " with one tiny suffix edit"),    # near dup of corpus
         (5, "entirely novel text about gardening tomatoes in clay soil "
             "with compost and careful irrigation schedules"),
         (7, "entirely novel text about gardening tomatoes in clay soil "
             "with compost and careful irrigation schedules"),  # exact dup of 5
         (9, None),                                   # NULL text: novel
         # an LSH candidate of corpus doc 0 just under the threshold
         # (base's 19 shingles plus 20 new ones, jaccard 19/39)
         (11, base + " fern yarrow reef island fjord dune valley amber "
                     "kelp quarry orchard thicket cedar canyon inlet "
                     "juniper birch meadow glacier zephyr")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_copies"]
           for r in incremental_dedup(batch, corpus,
                                      min_jaccard=0.5).collect()}
    assert got == {5: 2, 9: 1, 11: 1}
    # greedy rule: a batch doc matching only an EARLIER batch doc is
    # rejected even though the corpus never saw either
    batch2 = spark.createDataFrame(
        [(1, "novel text body alpha beta gamma delta epsilon zeta eta "
             "theta iota kappa"),
         (3, "novel text body alpha beta gamma delta epsilon zeta eta "
             "theta iota kappa slightly changed")],
        "doc_id long, text string")
    got3 = sorted(r["doc_id"] for r in incremental_dedup(
        batch2, corpus, min_jaccard=0.5).collect())
    assert got3 == [1]
    # clone-invariance law (the corpus exact-collapse's contract):
    # multiplying corpus docs into byte-identical clones with fresh ids
    # changes NO admission decision — identical texts have identical
    # signatures and identical jaccard against any batch doc
    cloned = corpus
    for i in (1, 2, 3):
        cloned = cloned.unionByName(corpus.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 1_000_000)))
    got4 = {r["doc_id"]: r["n_copies"]
            for r in incremental_dedup(batch, cloned,
                                       min_jaccard=0.5).collect()}
    assert got4 == got


def test_mixture_sample_coarse_equals_naive(spark):
    from cantera_table_spark.functions.sampling import mixture_sample
    from tests.mixture_ref import naive_mixture_sample
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = {"src0": 2.0, "src1": 1.0, "src3": 5.0}
    a = sorted(tuple(r) for r in mixture_sample(
        docs, w, total_tokens=900).collect())
    b = sorted(tuple(r) for r in naive_mixture_sample(
        docs, w, total_tokens=900).collect())
    assert a == b and len(a) > 0
    # budget larger than the whole stratum admits everything in it
    big = sorted(tuple(r) for r in mixture_sample(
        docs, {"src0": 1.0}, total_tokens=10_000_000).collect())
    n_src0 = docs.filter("source = 'src0'").count()
    assert len(big) == n_src0
    # token budget respected: admitted-before-last under quota
    from pyspark.sql import functions as F
    got = mixture_sample(docs, {"src0": 1.0}, total_tokens=500).collect()
    total = sum(r["n_tokens"] for r in got)
    mx = max(r["n_tokens"] for r in got)
    assert total - mx < 500 <= total or total < 500


def test_pq_encoding_laws(spark):
    from cantera_table_spark.functions.similarity import (
        pq_codebook, pq_encode, pq_topk)
    import itertools
    # 8 seed vectors (ids 0-7) in 8 dims; ids 100+ are exact copies of
    # seeds -> must encode to the seed's code in every subspace and
    # have ADC distance 0 to a query equal to that seed
    seeds = [[float(i + 1)] * 8 for i in range(8)]
    rows = [(i, seeds[i]) for i in range(8)]
    rows += [(100 + i, seeds[i]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(emb, m=4, ksub=8)
    assert cb.count() == 32  # 4 subspaces x 8 codes
    codes = pq_encode(emb, cb, m=4)
    rows_c = codes.collect()
    assert all(0 <= r["code"] < 8 for r in rows_c)
    per_vec = {}
    for r in rows_c:
        per_vec.setdefault(r["vec_id"], {})[r["sub_idx"]] = r["code"]
    assert all(len(v) == 4 for v in per_vec.values())
    for i in range(8):
        assert per_vec[100 + i] == per_vec[i] == {j: i for j in range(4)}
    top = pq_topk(codes, cb, emb.filter("vec_id < 8"), k=2, m=4).collect()
    for r in top:
        if r["rank"] == 1:
            # nearest neighbour of seed q is its exact copy at ADC 0
            assert r["approx_d2"] == 0.0
            assert r["neighbor_id"] == 100 + r["query_id"]


@pytest.mark.slow
def test_semantic_dedup_laws(spark):
    from cantera_table_spark.functions.similarity import semantic_dedup
    # seeds 0-7 get clusters; 100+i is an exact copy of seed i -> same
    # cluster, cosine 1 -> dropped; 200 is axis-unique -> kept
    import numpy as np
    rng = [[float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
           for i in range(8)]
    rows = [(i, rng[i]) for i in range(8)]
    rows += [(100 + i, rng[i]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cluster"], r["kept"])
           for r in semantic_dedup(emb, threshold=0.999999).collect()}
    assert len(out) == 16
    for i in range(8):
        ci, ki = out[i]
        cc, kc = out[100 + i]
        assert ci == cc            # copy lands in the seed's cluster
        assert ki and not kc       # lower id kept, copy dropped
    # with an impossible threshold nothing drops
    all_kept = semantic_dedup(emb, threshold=1.000001).collect()
    assert all(r["kept"] for r in all_kept)


@pytest.mark.slow
def test_semantic_dedup_prefilter_exactness(spark):
    """The int8-quantized pair-stage prefilter must be invisible:
    keep/drop decisions identical to the direct exact-cosine
    formulation for any data, threshold, and dimension — the margin
    proof (2*sqrt(d)/254 + d/254^2) exercised with pairs PLANTED at
    and around the threshold boundary, where a too-tight margin would
    silently prune true duplicates."""
    import numpy as np
    from cantera_table_spark.functions.similarity import semantic_dedup

    def np_oracle(rows, threshold, n_clusters):
        ids = sorted(i for i, _ in rows)
        V = {i: np.asarray(v, float) for i, v in rows}
        cents = [V[i] for i in ids[:n_clusters]]

        def cos(a, b):
            return float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))

        assign = {i: min(range(len(cents)),
                         key=lambda k: (-cos(V[i], cents[k]), k))
                  for i in ids}
        dropped = set()
        for j in ids:
            for i in ids:
                if i < j and assign[i] == assign[j] and \
                        round(cos(V[i], V[j]), 6) >= threshold:
                    dropped.add(j)
                    break
        return {i: (assign[i], i not in dropped) for i in ids}

    for d, threshold, n_clusters, seed in [(4, 0.35, 1, 0),
                                           (8, 0.1, 1, 1),
                                           (64, 0.8, 8, 2),
                                           (256, 0.95, 1, 3)]:
        rng = np.random.default_rng(seed)
        vecs = [rng.normal(size=d) for _ in range(20)]
        # boundary plants: v at cosine threshold+delta to a fresh u —
        # exactly the band where the quantized-dot margin must not prune
        for k, delta in enumerate([-2e-2, -1e-4, -1e-7, 0.0,
                                   1e-7, 1e-4, 2e-2] * 3):
            u = rng.normal(size=d)
            u /= np.sqrt(u @ u)
            w = rng.normal(size=d)
            w -= (w @ u) * u
            w /= np.sqrt(w @ w)
            c = min(max(threshold + delta, -1.0), 1.0)
            v = c * u + np.sqrt(max(0.0, 1 - c * c)) * w
            vecs += [u * rng.uniform(0.5, 2.0), v * rng.uniform(0.5, 2.0)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        emb = spark.createDataFrame(rows,
                                    "vec_id long, embedding array<double>")
        got = {r["vec_id"]: (r["cluster"], r["kept"])
               for r in semantic_dedup(emb, threshold=threshold,
                                       n_clusters=n_clusters).collect()}
        want = np_oracle(rows, threshold, n_clusters)
        assert got == want, (d, threshold, {
            i: (got[i], want[i]) for i in want if got[i] != want[i]})
        # the plants actually probe the boundary: some drop, some keep
        kept = [k for _, k in got.values()]
        assert any(kept) and not all(kept)


def test_semantic_dedup_nan_embedding(spark):
    """NaN embeddings are EXCLUDED from the pair stage (their int8
    codes quantize to NULL, and NULL comparisons are never TRUE).
    This pins a deliberate semantics change from the pre-quantization
    direct formulation, where Spark's NaN-is-largest ordering made a
    NaN cosine satisfy `cos >= threshold` and silently drop every
    higher-id vector sharing the NaN vector's cluster: now the NaN
    vector is kept, and so is every vector whose only threshold-passing
    pair was the NaN one."""
    from cantera_table_spark.functions.similarity import semantic_dedup
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),           # base
        (1, [0.999, 0.01, 0.0, 0.0]),        # near-dup of 0 -> dropped
        (2, [float("nan"), 1.0, 0.0, 0.0]),  # NaN embedding -> kept
        (3, [1.0, 0.001, 0.0, 0.0]),         # near-dup of 0 -> dropped
        (4, [0.0, 1.0, 0.0, 0.0]),           # only NaN pair -> kept
    ]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["kept"]
           for r in semantic_dedup(emb, threshold=0.95,
                                   n_clusters=1).collect()}
    # id 4 is the old-semantics victim: orthogonal to everything finite,
    # its only candidate pair is (2, 4) whose exact cosine is NaN — the
    # direct formulation dropped it, the NULL-code prefilter keeps it
    assert got == {0: True, 1: False, 2: True, 3: False, 4: True}


@pytest.mark.slow
def test_hier_assignment_laws(spark):
    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivf_assign_hier, seed_centroids, semantic_dedup)
    rows = [(i, [float((i * 13 + j * 5) % 17 - 8) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(emb, n=9)
    flat = {r["vec_id"]: r["cluster"]
            for r in ivf_assign(emb, cents).collect()}
    # probe-all degenerates to the exact flat assignment
    full = {r["vec_id"]: r["cluster"]
            for r in ivf_assign_hier(emb, cents, coarse_k=3,
                                     nprobe=3).collect()}
    assert full == flat
    # probe-limited: still exactly one cluster per vector, every
    # cluster a real centroid id, and (on this smooth lattice) most
    # assignments agree with flat — the documented ANN approximation
    part = ivf_assign_hier(emb, cents, coarse_k=3, nprobe=1).collect()
    assert len(part) == 40 and len({r["vec_id"] for r in part}) == 40
    assert {r["cluster"] for r in part} <= set(flat.values())
    agree = sum(1 for r in part if flat[r["vec_id"]] == r["cluster"])
    assert agree >= 30, agree
    # semantic_dedup wiring: hier probe-all == flat decisions
    a = sorted(tuple(r) for r in semantic_dedup(
        emb, threshold=0.95, n_clusters=9).collect())
    b = sorted(tuple(r) for r in semantic_dedup(
        emb, threshold=0.95, n_clusters=9, assign="hier", coarse_k=3,
        nprobe=3).collect())
    assert a == b
    import pytest
    with pytest.raises(ValueError, match="flat|hier"):
        semantic_dedup(emb, assign="bogus")


def test_kmv_distinct_laws(spark):
    from cantera_table_spark.functions.sketches import kmv_distinct
    from pyspark.sql import functions as F
    # small group: exact count; duplicates don't move the sketch
    small = spark.createDataFrame(
        [("a", f"v{i % 10}") for i in range(300)] +
        [("b", f"w{i}") for i in range(40)],
        "g string, v string")
    got = {r["g"]: (r["est_distinct"], r["n_mins"])
           for r in kmv_distinct(small, "v", "g", k=64).collect()}
    assert got == {"a": (10.0, 10), "b": (40.0, 40)}
    # partition invariance: the merged sketch is a pure function of
    # the value SET
    big = spark.range(5000).select(
        F.lit("g").alias("g"), F.concat(F.lit("x"), F.col("id")).alias("v"))
    a = kmv_distinct(big.repartition(1), "v", "g", k=64).collect()[0]
    b = kmv_distinct(big.repartition(13), "v", "g", k=64).collect()[0]
    assert (a["est_distinct"], a["n_mins"]) == (b["est_distinct"],
                                                b["n_mins"])
    # estimator accuracy: KMV stderr ~ 1/sqrt(k-2) ~ 13%; allow 3 sigma
    assert a["n_mins"] == 64
    assert abs(a["est_distinct"] - 5000) / 5000 < 0.4
    # NULL values are ignored but a group whose values are ALL NULL
    # still surfaces (est 0), incl. the NULL group as its own group
    nulls = spark.createDataFrame(
        [("a", "v1"), ("a", None), ("dead", None), (None, None)],
        "g string, v string")
    got = {r["g"]: (r["est_distinct"], r["n_mins"])
           for r in kmv_distinct(nulls, "v", "g", k=64).collect()}
    assert got == {"a": (1.0, 1), "dead": (0.0, 0), None: (0.0, 0)}


def test_wordpiece_greedy_laws(spark):
    from cantera_table_spark.functions.text import (wordpiece_doc_stats,
                                                    wordpiece_encode_words)
    words = spark.createDataFrame(
        [("unhappiness",), ("zzq",), ("the",)], "tok string")
    vocab = ["un", "happiness", "happy", "ness", "the", "z"]
    got = {r["tok"]: (list(r["pieces"]), r["n_pieces"], r["n_unk"])
           for r in wordpiece_encode_words(words, vocab).collect()}
    # greedy longest-match: "un" + "happiness" (not un|happy|ness)
    assert got["unhappiness"] == (["un", "happiness"], 2, 0)
    # q is not in vocab -> UNK with single-char advance
    assert got["zzq"] == (["z", "z", "[UNK]"], 3, 1)
    assert got["the"] == (["the"], 1, 0)
    # doc stats multiply by occurrence counts and zero-fill empty docs
    docs = spark.createDataFrame(
        [(1, "the the unhappiness"), (2, None)],
        "doc_id long, text string")
    stats = {r["doc_id"]: (r["n_pieces"], r["n_unk"])
             for r in wordpiece_doc_stats(docs, vocab).collect()}
    assert stats == {1: (2 * 1 + 2, 0), 2: (0, 0)}


@pytest.mark.slow
def test_wordpiece_vocab_file_artifact(spark, tmpdir):
    """r8 verdict item 5: the vocab as a persisted tokenizer-file
    artifact — derived by a Spark write job (no driver collect),
    loaded WORKER-side by the encode kernel, value-identical to the
    in-memory list form, and reused (not re-derived) on a second run."""
    import os
    from cantera_table_spark.functions.text import (
        wordpiece_doc_stats, wordpiece_vocab_file)
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 5) for i in range(25)] +
        [(100, "zzq unseen")],
        "doc_id long, text string")
    path = os.path.join(tmpdir, "vocab")
    got = wordpiece_vocab_file(docs, path)
    assert got == path and os.path.exists(os.path.join(path, "_SUCCESS"))
    pieces = sorted(r.piece for r in spark.read.parquet(path).collect())
    # frequent words (>= 20 occurrences) + the 26 single chars
    for w in ["the", "cat", "sat", "mat", "on"]:
        assert w in pieces
    assert "zzq" not in pieces and "q" in pieces
    # file form == list form on the full doc-stats path
    by_list = sorted(map(tuple, wordpiece_doc_stats(docs, pieces)
                         .collect()))
    by_file = sorted(map(tuple, wordpiece_doc_stats(docs, path)
                         .collect()))
    assert by_list == by_file
    # idempotent reuse: marker mtime unchanged by a second call
    m1 = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    wordpiece_vocab_file(docs, path)
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == m1


def test_vocab_load_fails_fast_and_memoizes(spark, tmpdir):
    """r9 review findings: a path with no parquet parts raises (an
    empty vocab would silently all-UNK every word), and the worker-side
    load memoizes per process but invalidates when the artifact is
    rewritten (file list/mtime key)."""
    import os
    import pytest
    from cantera_table_spark.functions.text import (
        _load_vocab_pieces, _load_vocab_set, wordpiece_vocab_file)
    with pytest.raises(FileNotFoundError, match="vocab parts"):
        _load_vocab_pieces(os.path.join(tmpdir, "nope"))
    docs = spark.createDataFrame(
        [(i, "aa bb " * 30) for i in range(25)],
        "doc_id long, text string")
    path = os.path.join(tmpdir, "v1")
    wordpiece_vocab_file(docs, path)
    p1 = _load_vocab_pieces(path)
    assert _load_vocab_pieces(path) is p1            # memo hit
    vset, max_len = _load_vocab_set(path)
    assert "aa" in vset and max_len >= 2
    assert _load_vocab_set(path) == (vset, max_len)  # cached view
    # rewrite the artifact -> the memo must invalidate (new content)
    import shutil
    shutil.rmtree(path)
    docs2 = spark.createDataFrame(
        [(i, "cc dd " * 30) for i in range(25)],
        "doc_id long, text string")
    wordpiece_vocab_file(docs2, path)
    p2 = _load_vocab_pieces(path)
    assert p2 is not p1 and "cc" in p2 and "aa" not in p2
    assert "cc" in _load_vocab_set(path)[0]


def test_pq_dim_divisibility_guard(spark):
    # dim % m != 0 must raise, not silently truncate the trailing dims
    # (FAISS's d % m == 0 requirement)
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from cantera_table_spark.functions.similarity import pq_codebook
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises((PySparkException, Py4JJavaError),
                       match="dim % m == 0"):
        pq_codebook(emb, m=4, ksub=4).collect()


def test_pq_train_reduces_quantization_error(spark):
    from cantera_table_spark.functions.similarity import (
        _l2sq, pq_codebook, pq_train)
    from pyspark.sql import functions as F
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def inertia(cb):
        sublen = (F.size(F.col("__v")) / 4).cast("int")
        subs = (emb.select(
            F.col("vec_id"), F.col("embedding").alias("__v"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("sub_idx"))
            .select("vec_id", "sub_idx",
                    F.slice(F.col("__v"), F.col("sub_idx") * sublen + 1,
                            sublen).alias("sv")))
        d = (subs.join(F.broadcast(cb), "sub_idx")
             .withColumn("__d", _l2sq(F.col("sv"), F.col("cv")))
             .groupBy("vec_id", "sub_idx").agg(F.min("__d").alias("d")))
        return d.agg(F.sum("d")).collect()[0][0]

    seeded = inertia(pq_codebook(emb, m=4, ksub=8))
    trained = inertia(pq_train(emb, m=4, ksub=8, iters=2))
    assert trained <= seeded
    # codebook shape invariants survive refinement
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    rows = cb.collect()
    assert len(rows) == 32 and all(len(r["cv"]) == 16 for r in rows)


def test_pq_and_semantic_dedup_null_embeddings(spark):
    """NULL embedding rows must flow through (no crash) and never
    poison other rows: PQ gives them no codes (they can't be searched),
    semantic dedup keeps them (cosine NULL never crosses a threshold)."""
    from cantera_table_spark.functions.similarity import (
        pq_codebook, pq_encode, pq_topk, semantic_dedup)
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(8)]
    rows.append((99, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebook(emb, m=4, ksub=8)
    codes = pq_encode(emb, cb, m=4)
    got = codes.collect()
    # the NULL row contributes no codes; everyone else has 4
    assert sum(1 for r in got if r["vec_id"] == 99) == 0
    assert sum(1 for r in got if r["vec_id"] != 99) == 32
    top = pq_topk(codes, cb, emb.filter("vec_id < 2"), k=3, m=4).collect()
    assert all(r["neighbor_id"] != 99 for r in top)
    sem = {r["vec_id"]: r["kept"]
           for r in semantic_dedup(emb, threshold=0.999999).collect()}
    assert sem[99] is True  # null vector: no similarity evidence, kept


def test_hash_split_stability_and_mass(spark):
    from cantera_table_spark.functions.sampling import hash_split
    from pyspark.sql import functions as F
    big = spark.range(10_000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r["doc_id"]: r["split"]
            for r in hash_split(big, w).collect()}
    # stability: a subset corpus assigns identically
    sub = {r["doc_id"]: r["split"]
           for r in hash_split(big.filter("doc_id % 3 = 0"), w).collect()}
    assert all(full[k] == v for k, v in sub.items())
    # mass: within a few percent of the requested fractions
    from collections import Counter
    c = Counter(full.values())
    assert abs(c["train"] / 10_000 - 0.8) < 0.02
    assert abs(c["val"] / 10_000 - 0.1) < 0.01
    assert abs(c["test"] / 10_000 - 0.1) < 0.01


def test_cut_repeated_spans_hand_case(spark):
    from cantera_table_spark.functions.dedup import cut_repeated_spans
    # the 3-token window "x y z" repeats across docs 1 and 2 -> cut
    # from both; doc 3 has no shared windows -> canonical rejoin
    docs = spark.createDataFrame(
        [(1, "a b x y z c d"),
         (2, "p x y z q r s"),
         (3, "unique words only here now")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_kept"], r["clean_text"])
           for r in cut_repeated_spans(docs, n=3, min_docs=2).collect()}
    assert got[1] == (4, "a b c d")
    assert got[2] == (4, "p q r s")
    assert got[3] == (5, "unique words only here now")
    # overlapping windows merge into ONE span before cutting
    docs2 = spark.createDataFrame(
        [(1, "a x y z w c"), (2, "x y z w")],
        "doc_id long, text string")
    got2 = {r["doc_id"]: r["clean_text"]
            for r in cut_repeated_spans(docs2, n=3, min_docs=2).collect()}
    # windows "x y z" and "y z w" both shared -> span covers x..w
    assert got2[1] == "a c" and got2[2] == ""


@pytest.mark.slow
def test_review_fix_regressions(spark):
    """Round-4 review fixes pinned: zero-token docs in span cutting,
    NULL-query IVFPQ, zero-token mixture boundary, bin-width guard."""
    import pytest
    from pyspark.sql import functions as F
    from cantera_table_spark.functions.dedup import cut_repeated_spans
    docs = spark.createDataFrame(
        [(1, "a b x y z c d"), (2, "p x y z q r s"), (3, "1234 !!! 999")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_kept"], r["clean_text"])
           for r in cut_repeated_spans(docs, n=3, min_docs=2).collect()}
    assert got[3] == (0, "")
    assert got[1] == (4, "a b c d")

    from cantera_table_spark.functions.similarity import (
        ivf_assign, ivfpq_topk, pq_codebook, pq_encode, seed_centroids)
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(8)]
    rows.append((9, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(emb.filter("embedding is not null"), n=4)
    indexed = ivf_assign(emb.filter("embedding is not null"), cents)
    cb = pq_codebook(emb, m=4, ksub=4)
    codes = pq_encode(emb, cb, m=4)
    top = ivfpq_topk(indexed, cents, codes, cb, emb, k=2, nprobe=2, m=4)
    assert all(r["query_id"] != 9 and r["approx_d2"] is not None
               for r in top.collect())

    from cantera_table_spark.functions.sampling import mixture_sample
    from tests.mixture_ref import naive_mixture_sample
    # zero-token docs at a quota-exact boundary: coarse == naive
    zt = spark.createDataFrame(
        [(i, "s", "w w w w w" if i < 4 else "") for i in range(40)],
        "doc_id long, source string, text string")
    for budget in (0, 10, 20):
        a = sorted(r["doc_id"] for r in mixture_sample(
            zt, {"s": 1.0}, budget).collect())
        b = sorted(r["doc_id"] for r in naive_mixture_sample(
            zt, {"s": 1.0}, budget).collect())
        assert a == b, (budget, a[:5], b[:5])

    from cantera_table_spark.functions.timeseries import interval_join
    pts = spark.createDataFrame([(1,)], "pid long").withColumn(
        "ts", F.current_timestamp())
    with pytest.raises(ValueError, match="bin_width_s"):
        interval_join(pts, pts.withColumnRenamed("pid", "iid")
                      .withColumnRenamed("ts", "s")
                      .withColumn("e", F.col("s")),
                      ts_col="ts", start_col="s", end_col="e",
                      bin_width_s=0)


def test_r9_review_similarity_dedup_guards(spark):
    """r9 review findings, fixed in one sweep: (a) a zero-norm centroid
    must not capture every vector in ivf_assign (NULL cosine loses the
    min instead of winning it); (b) brute_force_topk skips
    NULL/wrong-dimension embedding rows."""
    from pyspark.sql import functions as F
    from cantera_table_spark.functions.similarity import (
        brute_force_topk, ivf_assign)

    # (a) centroid 0 is all-zero (degenerate), centroid 1 is real
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
        "centroid_id int, cv array<double>")
    got = {r.vec_id: r.cluster for r in ivf_assign(emb, cents).collect()}
    assert got[1] == 1 and got[2] == 1      # real centroid wins
    # vec 3 is orthogonal to centroid 1 (cos 0) but 0 > NULL-guarded inf
    assert got[3] == 1

    # (b) NULL + ragged rows skipped: the result is the clean rows'
    dirty = emb.unionByName(spark.createDataFrame(
        [(9, None), (10, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>"))
    q = spark.createDataFrame([(1, [1.0, 0.0])],
                              "vec_id long, embedding array<double>")
    jvm = {(r.neighbor_id, r.cos)
           for r in brute_force_topk(dirty.filter("vec_id < 9"), q, k=2)
           .collect()}
    got = {(r.neighbor_id, r.cos)
           for r in brute_force_topk(dirty, q, k=2).collect()}
    assert got == jvm and len(got) == 2


def test_r10_advisory_fixes(spark):
    """r10 judge advisories, pinned: (a) gif_frame_stats rejects a
    non-integral every_n at entry (int()-only guard let 2.5 through to
    a TypeError inside executors); (b) the band-column merge guards
    key on ANY of pct5/pct25/pct75/pct95, not just pct5 — a
    pct95-only table still refuses sum/union and still wins pick-one
    preference; (c) the sessionize UTC guard resolves the zone offset
    (Etc/GMT, GMT0, UTC+00:00, +00:00 all legitimate) instead of
    string-matching, and still rejects DST zones parked at +00:00;
    (d) a legacy vocab artifact without a _params sidecar warns that
    parameters cannot be verified instead of silently reusing."""
    import os
    import shutil
    import tempfile

    import pytest

    from cantera_table_spark.functions.multimodal import (encode_gif,
                                                          gif_frame_stats)
    from cantera_table_spark.functions.text import wordpiece_vocab_file
    from cantera_table_spark.sources.ingest import merge_tables
    from cantera_table_spark.streaming.sessionize import _is_utc_zone

    # (a) non-integral every_n fails at entry, integral float passes
    w, h = 2, 2
    data = encode_gif([bytes(range(w * h))], w, h)
    media = spark.createDataFrame([(1, bytearray(data))],
                                  "media_id long, data binary")
    with pytest.raises(ValueError, match="every_n"):
        gif_frame_stats(media, every_n=2.5)
    assert gif_frame_stats(media, every_n=2.0).count() == 1

    # (b) pct95-only table: sum/union guard fires, pick-one prefers
    s = "key string, ts long, value double, pct95 double"
    plain = spark.createDataFrame([("k", 1, 2.0, None)], s)
    banded = spark.createDataFrame([("k", 1, 5.0, 9.0)], s)
    with pytest.raises(ValueError, match="percentile-band"):
        merge_tables([plain, banded], "sum")
    out = merge_tables([plain, banded], "pick-one").collect()
    assert len(out) == 1 and out[0].value == 5.0 and out[0].pct95 == 9.0

    # (c) offset-resolved UTC acceptance
    for tz in ("UTC", "Etc/UTC", "Etc/GMT", "GMT", "GMT0", "Z",
               "+00:00", "UTC+00:00"):
        assert _is_utc_zone(spark, tz), tz
    for tz in ("", "Europe/London", "America/Los_Angeles", "+01:00",
               "not-a-zone"):
        assert not _is_utc_zone(spark, tz), tz
    # the no-JVM fallback (e.g. Connect) accepts the same legitimate
    # fixed-zero spellings instead of regressing to the old whitelist
    for tz in ("UTC", "Etc/GMT", "GMT0", "UTC+00:00", "+00:00"):
        assert _is_utc_zone(None, tz), tz
    for tz in ("", "Europe/London", "+01:00", "not-a-zone"):
        assert not _is_utc_zone(None, tz), tz

    # (d) legacy artifact (no _params sidecar) warns on reuse
    docs = spark.createDataFrame([(1, "aa bb aa")],
                                 "doc_id long, text string")
    p = os.path.join(tempfile.mkdtemp(), "vocab")
    wordpiece_vocab_file(docs, p)
    shutil.rmtree(os.path.join(p, "_params"))
    with pytest.warns(UserWarning, match="_params sidecar"):
        wordpiece_vocab_file(docs, p)


def test_r11_keywords_fallback_and_tz_warning(spark):
    """r11 core-path review finding, pinned: (b) load_table's
    session-timezone override warning stays quiet for ANY fixed-zero
    zone spelling (GMT, +00:00), not just the literal 'UTC' family — it
    resolves through session.is_utc_zone now."""
    import warnings

    import pytest

    from cantera_table_spark.model import load_table

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("GMT", "+00:00", "Etc/GMT"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            with warnings.catch_warnings():
                warnings.simplefilter("error")    # any warning fails
                load_table(spark, "/root/testdata/sf0.001", "region")
        spark.conf.set("spark.sql.session.timeZone",
                       "America/New_York")
        with pytest.warns(UserWarning, match="overriding"):
            load_table(spark, "/root/testdata/sf0.001", "region")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_r11_salt_collision_guard(spark):
    """r11 operators-review finding: a caller __salt column would be
    silently overwritten, change row routing/grouping, and then be
    dropped — the salted aggregation now raises like
    ordering.global_row_number's reserved-name guard."""
    import pytest

    from cantera_table_spark.operators.skew import salted_count_sum
    df = spark.createDataFrame([(1, 2.0, 0)],
                               "doc_id int, v double, __salt int")
    with pytest.raises(ValueError, match="__salt"):
        salted_count_sum(df, ["doc_id"], "v")


@pytest.mark.slow
def test_r11_similarity_review_fixes(spark):
    """r11 similarity-sweep findings, pinned:
    (a) a degenerate (zero) lowest-id centroid must LOSE, not capture,
        on the hier assignment path — and hier with nprobe >= coarse_k
        degenerates to the exact flat assignment even then;
    (b) a NULL-element vector codes only its valid subspaces (NULL
        distance used to WIN the min with fake code 0) and the
        all-m-partials guard keeps it out of every ranking; a
        NULL-element query is excluded the same way instead of
        ranking on m-1 subspaces;
    (c) pq_train survives a NULL embedding and keeps NULL-element
        subvectors out of the refined means;
    (d) brute_force_topk ranks STRING ids;
    (f) hyperplane_signature picks the reference dimension from the
        LOWEST id deterministically."""
    from pyspark.sql import functions as F

    from cantera_table_spark.functions.similarity import (
        brute_force_topk, hyperplane_signature, ivf_assign,
        ivf_assign_hier, pq_codebook, pq_encode, pq_topk, pq_train,
        seed_centroids)

    # (a) vec 0 = zero vector -> degenerate seed + coarse centroid
    rows = [(0, [0.0] * 4)] + [
        (i, [float(i % 5 + 1), float(i % 3), 1.0, 0.5])
        for i in range(1, 40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(emb, n=9)
    hier = ivf_assign_hier(emb, cents, coarse_k=3, nprobe=3)
    flat = ivf_assign(emb, cents)
    h = {r.vec_id: r.cluster for r in hier.collect()}
    f = {r.vec_id: r.cluster for r in flat.collect()}
    assert h == f                       # nprobe >= coarse_k law holds
    assert len(set(h.values())) > 1     # no one-bucket collapse

    # (b) NULL-element vector -> zero codes; NULL-element query -> out
    bad = spark.createDataFrame(
        [(100, [1.0, None, 0.5, 0.2])],
        "vec_id long, embedding array<double>")
    cb = pq_codebook(emb, m=4, ksub=4)
    codes_bad = pq_encode(bad, cb, m=4)
    # only the NULL-element subspace drops (m=4, dim=4 -> sublen=1);
    # the vector keeps <m codes and the all-m-partials rank guard
    # excludes it from ever surfacing as a neighbor
    assert codes_bad.count() == 3
    all_codes = pq_encode(emb, cb, m=4).unionByName(codes_bad)
    q1 = emb.filter(F.col("vec_id") == 1)
    ranked = pq_topk(all_codes, cb, q1, k=50, m=4)
    assert ranked.filter(F.col("neighbor_id") == 100).count() == 0
    codes = pq_encode(emb, cb, m=4)
    out = pq_topk(codes, cb, bad, k=3, m=4)
    assert out.count() == 0

    # (c) pq_train: NULL vector ignored, no crash, full codebook kept
    with_null = emb.unionByName(spark.createDataFrame(
        [(200, None)], "vec_id long, embedding array<double>"))
    tcb = pq_train(with_null, m=4, ksub=4, iters=1)
    assert tcb.count() == 4 * 4

    # (d) string ids
    semb = emb.select(F.concat(F.lit("v"),
                               F.format_string("%03d", "vec_id"))
                      .alias("vec_id"), "embedding")
    sq = semb.filter(F.col("vec_id") == "v001")
    jvm = {(r.query_id, r.neighbor_id, r.cos, r.rank)
           for r in brute_force_topk(semb, sq, k=5).collect()}
    assert len(jvm) == 5

    # (f) ragged corpus: lowest id (dim 4) decides; dim-2 rows drop
    ragged = emb.unionByName(spark.createDataFrame(
        [(500, [1.0, 2.0]), (501, [0.5, 0.1])],
        "vec_id long, embedding array<double>"))
    sigs = hyperplane_signature(ragged, n_bits=8)
    ids = {r.vec_id for r in sigs.collect()}
    assert 500 not in ids and 0 in ids and 1 in ids


def test_r11_streaming_sampling_review_fixes(spark):
    """r11 streaming/sampling sweep, pinned:
    (a) the streaming value cast is try_cast — a malformed numeric
        field nulls like the batch CSV reader instead of killing the
        query under ANSI (poison-pill class);
    (b) streaming_exact_dedup's content hash is NULL-distinct:
        (NULL,'x') vs ('x',NULL) and NULL vs '' no longer collide,
        while all-non-null hashes are byte-identical to before;
    (c) NULL-id rows are dropped by stratified_sample / hash_split /
        mixture_sample / shuffle_shards instead of deterministically
        WINNING sample slots via their NULLS-FIRST hash (or landing
        in the eval split);
    (d) pack_sequences raises loudly on NULL doc_id (Arrow float64
        coercion rounds ids >= 2^53);
    (e) asof_join / interval_join reject inputs colliding with their
        internal column names instead of silently overwriting."""
    import pytest

    from cantera_table_spark.functions.packing import (pack_sequences,
                                                       shuffle_shards)
    from cantera_table_spark.functions.sampling import (hash_split,
                                                        mixture_sample,
                                                        stratified_sample)
    from cantera_table_spark.functions.timeseries import (asof_join,
                                                          interval_join)
    from cantera_table_spark.streaming.ingest import (
        _timeseries_projection, streaming_exact_dedup)

    # (a) malformed value -> NULL row, not CAST_INVALID_INPUT
    raw = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", "abc"),
         ("k", "2024-01-01 00:00:01", "2.5")],
        "key string, date string, value string")
    got = {r.value for r in _timeseries_projection(
        raw, "yyyy-MM-dd HH:mm:ss").collect()}
    assert got == {None, 2.5}

    # (b) NULL-distinct content hash (batch frame through the same fn)
    df = spark.createDataFrame(
        [(None, "x"), ("x", None), ("", "x"), ("a", "b")],
        "a string, b string")
    hashes = [r.content_hash for r in
              streaming_exact_dedup(df, hash_cols=("a", "b")).collect()]
    assert len(hashes) == len(set(hashes)) == 4

    # (c) NULL ids never sample/split/shuffle
    docs = spark.createDataFrame(
        [(None, "en", "t t t"), (1, "en", "a b"), (2, "en", "c d")],
        "doc_id long, source string, text string")
    s = stratified_sample(docs, "source", quota=2)
    assert {r.doc_id for r in s.collect()} == {1, 2}
    sp = hash_split(docs.select("doc_id"), {"train": 0.5, "test": 0.5})
    assert None not in {r.doc_id for r in sp.collect()}
    mx = mixture_sample(docs, {"en": 1.0}, total_tokens=100)
    assert None not in {r.doc_id for r in mx.collect()}
    sh = shuffle_shards(docs.select("doc_id"), n_shards=2)
    assert None not in {r.doc_id for r in sh.collect()}

    # (d) loud NULL-id rejection in the packing fold
    with pytest.raises(Exception, match="NULL doc_id"):
        pack_sequences(docs, capacity=10).collect()

    # (e) internal-name collision guards
    left = spark.createDataFrame([(1, "2024-01-01 00:00:00", 5)],
                                 "user_id long, ts string, __side int") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame([(1, "2024-01-01 00:00:00", 1.0)],
                                  "user_id long, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="asof internals"):
        asof_join(left, right)
    pts = spark.createDataFrame([(1, "2024-01-01 00:00:00", 7)],
                                "user_id long, ts string, __bin int") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        "user_id long, s string, e string") \
        .select("user_id", F.col("s").cast("timestamp").alias("start"),
                F.col("e").cast("timestamp").alias("end"))
    with pytest.raises(ValueError, match="interval_join internals"):
        interval_join(pts, iv, key_col="user_id")


def test_r12_dedup_hash_injective_encoding(spark):
    """r12 advisory fix, pinned: streaming_exact_dedup's content hash
    is fully injective per (tuple of column values), not just
    NULL-vs-non-NULL distinct.  The r11 bare-\\x00 NULL sentinel
    collided a NULL column with a literal one-byte '\\x00' value for
    callers outside the TSV path (which strips NUL), and the raw \\x1f
    separator let field content bleed across boundaries:
    ('a\\x1f','b') hashed equal to ('a','\\x1fb').  The escape
    encoding (\\x00 -> \\x00e, \\x1f -> \\x00s, NULL -> bare \\x00)
    separates all of these while leaving \\x00/\\x1f-free values — all
    TSV-ingested text — byte-identical, so a single non-null text
    column still hashes as md5(text) (the st03/st06 oracle equality).
    """
    from cantera_table_spark.streaming.ingest import streaming_exact_dedup

    df = spark.createDataFrame(
        [(None, "x"),        # NULL column ...
         ("\x00", "x"),      # ... vs literal one-byte NUL value
         ("a\x1f", "b"),     # separator bleed, left ...
         ("a", "\x1fb"),     # ... vs right
         ("a\x00", "b"),     # escape char at a boundary ...
         ("a", "\x00b"),     # ... both placements
         ("", "x")],         # empty string stays distinct from NULL
        "a string, b string")
    hashes = [r.content_hash for r in
              streaming_exact_dedup(df, hash_cols=("a", "b")).collect()]
    assert len(hashes) == len(set(hashes)) == 7

    # clean single-column hash is still plain md5(text)
    one = spark.createDataFrame([("hello world",)], "text string")
    got = streaming_exact_dedup(one, hash_cols=("text",)).collect()
    import hashlib
    assert got[0].content_hash == hashlib.md5(b"hello world").hexdigest()


@pytest.mark.slow
def test_r12_vocab_memo_fingerprints_artifact(spark, monkeypatch):
    """r12 advisory fix, pinned: the _VOCAB_PARAMS_OK memo includes a
    fingerprint of the _params sidecar (file listing + mtimes), so an
    artifact re-derived AT THE SAME PATH by another process with
    different params forces re-verification — the stale memo no longer
    launders the wrong vocabulary past the mismatch guard."""
    import os
    import tempfile
    import time

    import pytest

    from cantera_table_spark.functions import text
    from cantera_table_spark.functions.text import wordpiece_vocab_file

    monkeypatch.setattr(text, "VOCAB_MIN_COUNT", 1)
    docs = spark.createDataFrame([(1, "aa bb aa cc")],
                                 "doc_id long, text string")
    p = os.path.join(tempfile.mkdtemp(), "vocab")
    wordpiece_vocab_file(docs, p)
    wordpiece_vocab_file(docs, p)   # verifies + memoizes

    # simulate a concurrent process re-deriving the artifact in place
    # with different params (exactly the write the build branch does)
    time.sleep(0.05)  # ensure a distinct sidecar mtime
    (spark.createDataFrame([(2, 16)], "min_count int, max_piece_len int")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(p, "_params")))

    # the memoized (path, params) would have silently passed before;
    # the fingerprint change must force a re-read that raises
    with pytest.raises(ValueError, match="different path"):
        wordpiece_vocab_file(docs, p)

    # r12 review: the memo is a dict keyed by (path, params) — a
    # churning sidecar OVERWRITES its slot rather than accumulating a
    # dead entry per fingerprint forever in a long-lived driver
    from cantera_table_spark.functions.text import _VOCAB_PARAMS_OK
    for _ in range(2):
        time.sleep(0.05)
        (spark.createDataFrame([(1, 8)],
                               "min_count int, max_piece_len int")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(p, "_params")))
        wordpiece_vocab_file(docs, p)   # re-verifies ok
    assert len([k for k in _VOCAB_PARAMS_OK if k[0] == p]) == 1


def test_r12_logreg_nan_feature_guard(spark):
    """r12 review, pinned: a NaN FEATURE row is excluded from training
    exactly like a NaN label — previously it passed isNotNull, turned
    sum(e*x_j) NaN, and every weight and score came back NaN (the
    whole model lost to one bad row).  The guard applies to
    float/double feature columns only; the ml01 oracle filters with
    NOT isnan(x_j) in lockstep."""
    from cantera_table_spark.functions.ml import logreg_train_score

    base = spark.createDataFrame(
        [(0.1, 0.0, "0"), (0.9, 1.0, "1"),
         (0.2, 0.5, "0"), (0.8, 0.25, "1")],
        "x double, x2 double, y string")
    noisy = base.unionByName(spark.createDataFrame(
        [(float("nan"), 0.5, "1"), (0.5, float("nan"), "0")],
        "x double, x2 double, y string"))
    _, w_base = logreg_train_score(base, ["x", "x2"], "y", steps=2)
    _, w_noisy = logreg_train_score(noisy, ["x", "x2"], "y", steps=2)
    assert w_base == w_noisy
    assert all(w == w for w in w_noisy)      # no NaN crept in

    # integer feature columns skip the isnan guard (isnan would be an
    # analysis error on non-floating types under strict ANSI) but keep
    # the NULL guard
    ints = spark.createDataFrame(
        [(1, "0"), (0, "1"), (None, "1")], "xi int, y string")
    _, w_int = logreg_train_score(ints, ["xi"], "y", steps=1)
    assert all(w == w for w in w_int)


def test_r11_retrieval_ml_dump_review_fixes(spark):
    """r11 retrieval/ml/dump sweep, pinned: (a) logreg's trainable
    filter tests the label AS CONSUMED (cast) — an uncastable or NaN
    label no longer shrinks every gradient step; (b) rrf_fuse drops
    NULL ids instead of fusing a phantom rank-shifting group; (c)
    bm25_scores rejects inputs colliding with its internals; (d)
    dump_timeseries rejects strftime-style patterns loudly instead of
    silently garbling; (e) dump_index_with_summaries surfaces orphan
    postings with NULL doc_key instead of dropping them."""
    import pytest

    from cantera_table_spark.functions.ml import logreg_train_score
    from cantera_table_spark.functions.retrieval import (bm25_scores,
                                                         rrf_fuse)
    from cantera_table_spark.model import Catalog
    from cantera_table_spark.sources.dump import (
        dump_index_with_summaries, dump_timeseries)

    # (a) NaN / uncastable labels leave weights untouched
    base = spark.createDataFrame(
        [(0.1, "0"), (0.9, "1"), (0.2, "0"), (0.8, "1")],
        "x double, y string")
    noisy = base.unionByName(spark.createDataFrame(
        [(0.5, "yes"), (0.5, "NaN")], "x double, y string"))
    _, w_base = logreg_train_score(base, ["x"], "y", steps=2)
    _, w_noisy = logreg_train_score(noisy, ["x"], "y", steps=2)
    assert w_base == w_noisy

    # (b) NULL-id candidates fuse nothing
    a = spark.createDataFrame([(1, 1), (None, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(1, 1), (None, 1)], "doc_id int, rank int")
    fused = rrf_fuse({"a": a, "b": b}).collect()
    assert [r.doc_id for r in fused] == [1]
    assert fused[0].fused_rank == 1

    # (c) internal-name collision guard
    p = spark.createDataFrame([("kw", 1, 1.0, 0)],
                              "keyword string, doc_id long, "
                              "score double, __df int")
    with pytest.raises(ValueError, match="bm25 internals"):
        bm25_scores(p)

    # (d) strftime-style pattern rejected with the translation hint
    ts = spark.createDataFrame([("k", "2024-01-01 00:00:00", 1.0)],
                               "key string, ts string, value double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="strftime"):
        dump_timeseries(ts, time_format="%Y-%m-%d")
    assert dump_timeseries(ts).first().time == "2024-01-01 00:00:00"

    # (e) orphan postings surface with NULL doc_key
    idx = spark.createDataFrame([("kw", 1, 1.0), ("kw", 99, 2.0)],
                                "keyword string, doc_id long, score double")
    docs = spark.createDataFrame([(1, "d1", "{}")],
                                 "doc_id long, key string, doc string")
    out = {(r.doc_key, r.score) for r in dump_index_with_summaries(
        Catalog(summaries=[docs], indexes=[idx])).collect()}
    assert out == {("d1", 1.0), (None, 2.0)}
