"""Similarity search over embedding columns (north star, BASELINE.json).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  One broadcast of the (small) query set against the full corpus; the
  dot product runs as a JVM higher-order function (no Python).
- ``ivf_*``: inverted-file (IVF) approximate variant — the scale path.
  Vectors are bucketed by nearest centroid at index time; searches probe
  ``nprobe`` nearest centroid buckets only, turning an O(N) scan into
  O(N * nprobe / n_centroids) with partition pruning on ``cluster``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with double accumulation (sequential left fold —
    same order as the DuckDB oracle's list_reduce over DOUBLE[]).
    Zero-norm vectors yield NULL (try_divide) instead of an ANSI
    divide-by-zero error; NULL never passes a threshold filter."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.try_divide(dot(ad, bd), norm(ad) * norm(bd))


def _rankable(vec: Column) -> Column:
    """Per-ROW validity for ranking: non-NULL, nonzero-norm, NaN-free
    vector.  Applied to each SIDE before a pairwise scoring join —
    filtering the computed pair cosine instead would inline the whole
    O(d) fold into the join condition and recompute it per predicate
    (measured 1.8x on the sim01 bench phase); this predicate costs one
    fold per input row, not per pair.  NaN needs the explicit isnan:
    Spark orders NaN LARGEST, so ``nv > 0`` alone would let NaN-element
    vectors through to rank first.  The norm must also be FINITE:
    an Inf-element (or overflow) vector has norm inf and every pair
    cosine NaN/0, so it must be dropped too, not rank the NaN first."""
    nv = norm(F.transform(vec, lambda x: x.cast("double")))
    return (vec.isNotNull() & (nv > 0) & ~F.isnan(nv) &
            (nv < F.lit(float("inf"))))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    Returns (query_id, neighbor_id, cos, rank).  Ties break on
    neighbor_id ascending (deterministic).  The query side is
    broadcast; ranking uses a per-query window over the already-reduced
    candidate set.

    NULL cosines (zero-norm or NULL vectors on either side) are NOT
    ranked: a query with fewer than k non-degenerate candidates returns
    fewer than k rows, in lockstep with the gate oracles'
    ``cos IS NOT NULL``.
    """
    from pyspark.sql import Window
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        F.col(vec_col).alias("qv"))
         .filter(_rankable(F.col("qv"))))
    c = (emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col(vec_col).alias("cv"))
         .filter(_rankable(F.col("cv"))))
    # degenerate sides dropped above; the residual per-pair degenerate
    # case (dimension mismatch -> zip_with NULL-pads -> NULL cos) is a
    # cheap size equality in the join condition — the cosine itself is
    # computed exactly once, in the projection
    scored = (c.join(F.broadcast(q),
                     (F.col("query_id") != F.col("neighbor_id")) &
                     (F.size(F.col("qv")) == F.size(F.col("cv"))))
              .withColumn("cos", F.round(cosine(F.col("qv"),
                                                F.col("cv")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos", "rank"))


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Index build: assign each vector to its nearest centroid by cosine
    (deterministic tie-break on centroid id).  At scale the result is
    written partitioned by ``cluster``.

    The per-vector argmax is groupBy + min(struct(-cos, id)), NOT a
    row_number window: the broadcast cross join emits N*k scored rows
    all residing in the vector's input partition, so a hash aggregate
    map-side-combines them to ONE row per vector before the shuffle —
    a window formulation would shuffle and sort all N*k rows.  Same
    tie-break as ordering (cos desc, centroid_id asc): negation
    mirrors float order exactly."""
    c = centroids.select(F.col("centroid_id"), F.col("cv"))
    scored = (emb.select(F.col(id_col).alias("vec_id"),
                         F.col(vec_col).alias("v"))
              .join(F.broadcast(c), F.lit(True))
              .select("vec_id", "v", F.struct(
                  # NULL cosine (zero-norm/degenerate centroid) must
                  # LOSE the min, not win it: struct ordering puts a
                  # NULL field first, so an unguarded NULL negcos would
                  # capture EVERY vector into the degenerate centroid
                  # and collapse the index to one bucket (r9 review
                  # finding) — coalesce to +inf so it sorts last
                  F.coalesce(-cosine(F.col("v"), F.col("cv")),
                             F.lit(float("inf"))).alias("negcos"),
                  F.col("centroid_id").alias("cid")).alias("__s")))
    return (scored.groupBy("vec_id")
            .agg(F.any_value(F.col("v")).alias("v"),
                 F.min("__s").alias("__m"))
            .select("vec_id", "v", F.col("__m.cid").alias("cluster")))


def ivf_assign_hier(emb: DataFrame, centroids: DataFrame,
                    coarse_k: int | None = None, nprobe: int = 2) -> DataFrame:
    """Two-level ANN assignment for the k-proportional-to-N regime:
    :func:`ivf_assign` compares every vector to every centroid — N*k
    cosines, quadratic when cluster count tracks corpus size (exactly
    SemDeDup's setting, where per-cluster membership must stay
    bounded).  Here the k fine centroids are FIRST clustered into
    ``coarse_k`` (default ~sqrt(k)) coarse groups — a k-row problem,
    driver-small by definition — then each vector ranks only the
    coarse centroids, probes its ``nprobe`` nearest groups, and scans
    the fine centroids inside them: N*(coarse_k + nprobe*k/coarse_k)
    cosines, O(N*sqrt(k)) at nprobe=O(1) instead of O(N*k).

    Plan shape: both centroid tables broadcast; the two per-vector
    reductions are groupBy + min(struct) (map-side combinable — one
    partial per vector per input partition), NOT a window, so the
    shuffles move ~N rows, not N*k.  Approximate by construction (the
    true nearest fine centroid can live in an unprobed coarse group);
    with ``nprobe >= coarse_k`` it degenerates to the exact flat
    assignment (law-tested).  Returns the ivf_assign schema
    (vec_id, v, cluster).
    """
    import math
    if coarse_k is None:
        coarse_k = max(2, int(math.ceil(math.sqrt(centroids.count()))))
    coarse = seed_centroids(centroids, n=coarse_k, id_col="centroid_id",
                            vec_col="cv")
    fmap = (ivf_assign(centroids, coarse, id_col="centroid_id",
                       vec_col="cv")
            .select(F.col("cluster").alias("__coarse"),
                    F.col("vec_id").alias("centroid_id"),
                    F.col("v").alias("__fcv")))
    # the NULL-loses probe guard lives in _probe_clusters: a degenerate
    # (zero/NaN) coarse centroid sorting first in every vector's probe
    # list is the r9 one-bucket collapse, re-found on this path in r11
    probed = _probe_clusters(
        emb.select(F.col("vec_id"),
                   F.col("embedding").alias("v")),
        coarse, nprobe, id_name="vec_id", vec_name="v",
        out_name="__coarse")
    return (probed.join(F.broadcast(fmap), "__coarse")
            .groupBy("vec_id")
            .agg(F.any_value(F.col("v")).alias("v"),
                 F.min(F.struct(
                     # same NULL-loses guard as the flat assignment
                     F.coalesce(-cosine(F.col("v"), F.col("__fcv")),
                                F.lit(float("inf"))).alias("negcos"),
                     F.col("centroid_id").alias("cid"))).alias("__m"))
            .select("vec_id", "v", F.col("__m.cid").alias("cluster")))


def seed_centroids(emb: DataFrame, n: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Deterministic centroid seeds: the n lowest-id vectors (k-means
    iterations would refine these; seeds keep the gate deterministic)."""
    return (emb.orderBy(id_col).limit(n)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).alias("cv")))


def ivf_topk(indexed: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: int = 5, nprobe: int = 2) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid buckets per
    query, exact cosine within the probed buckets.  Probe selection is
    groupBy + sorted-slice (map-side combinable over the broadcast
    cross join's Q*k rows — the ivf_assign shape), not a ranking
    window; only the final per-query top-k, whose rank column IS the
    output, pays a window."""
    from pyspark.sql import Window
    # degenerate queries probe nothing (they could only produce
    # NULL/NaN cosines); degenerate indexed vectors are filtered in
    # the candidate scan below — per-side _rankable, not a filter on
    # the computed pair cosine (see _rankable)
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qv"))
         .filter(_rankable(F.col("qv"))))
    probed = _probe_clusters(q, centroids, nprobe, id_name="query_id",
                             vec_name="qv", out_name="cluster")
    cand = (indexed.filter(_rankable(F.col("v")))
            .join(probed, "cluster")
            .filter((F.col("vec_id") != F.col("query_id")) &
                    (F.size(F.col("qv")) == F.size(F.col("v"))))
            .withColumn("cos", F.round(cosine(F.col("qv"), F.col("v")), 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cos", "rank"))


def write_ivf_index(indexed: DataFrame, path: str) -> "StructType":
    """Persist the IVF index partitioned by ``cluster`` — the physical
    layout that makes probes prune: ``ivf_topk``'s equi-join on
    ``cluster`` against the (broadcast-small) probe list lets Spark's
    dynamic partition pruning skip every unprobed cluster directory at
    scan time (asserted in tests/test_plan_shapes.py).

    Returns the written schema.  Read the index back with
    ``spark.read.schema(returned_schema).parquet(path)`` — a catalog
    would pin the schema the same way; relying on inference breaks on
    a legitimately EMPTY index (zero vectors -> partitionBy writes no
    part files -> UNABLE_TO_INFER_SCHEMA)."""
    indexed.write.mode("overwrite").partitionBy("cluster").parquet(path)
    return indexed.schema


# ---------------------------------------------------------------------------
# Random-hyperplane LSH — the sub-quadratic path for embedding near-dup
# (the exact pairing in dedup.embedding_near_dup_pairs is the oracle).
# ---------------------------------------------------------------------------

def _hyperplanes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random +/-1 hyperplanes from md5 bits (no
    RNG state; reproducible across engines and sessions)."""
    import hashlib
    planes = []
    for j in range(n_bits):
        row = []
        for d in range(0, dim, 16):
            h = hashlib.md5(f"plane:{j}:{d}".encode()).digest()
            for k in range(min(16, dim - d)):
                row.append(1.0 if (h[k] & 1) else -1.0)
        planes.append(row)
    return planes


def hyperplane_signature(emb: DataFrame, n_bits: int = 16) -> DataFrame:
    """(id, sig): bit j set when dot(v, plane_j) > 0.  Cosine-similar
    vectors agree on most bits (SimHash for dense vectors).

    The dimension comes from the first non-NULL row; NULL vectors and
    vectors of any other length are rejected (zip_with would silently
    NULL-pad them into signature 0, colliding every short vector into
    one bucket)."""
    emb = emb.filter(F.col("embedding").isNotNull())
    # lowest-id row decides the reference dimension — an unordered
    # .first() is plan/partition-order dependent, so WHICH dimension
    # class of a ragged corpus survives could change across AQE plans
    # or fetch-failure reruns (r11 review)
    first = (emb.orderBy("vec_id")
             .select(F.size("embedding").alias("n")).first())
    if first is None:
        # schema derives from the input (r9 finding (c))
        from pyspark.sql import types as T
        from cantera_table_spark.functions.dedup import _empty_result
        return _empty_result(emb, [("vec_id", "vec_id"),
                                   ("v", "embedding"),
                                   ("sig", T.LongType())])
    dim = first["n"]
    emb = emb.filter(F.size("embedding") == dim)
    planes = _hyperplanes(n_bits, dim)
    sig = None
    for j, p in enumerate(planes):
        pj = F.array(*[F.lit(x) for x in p])
        d = dot(F.transform(F.col("embedding"),
                            lambda x: x.cast("double")), pj)
        bit = F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return emb.select(F.col("vec_id"),
                      F.col("embedding").alias("v"), sig.alias("sig"))


# lsh_near_dup_pairs' signature: LSH_BITS hyperplane bits in LSH_BANDS
# bands of LSH_BITS // LSH_BANDS bits each
LSH_BITS = 16
LSH_BANDS = 4


def lsh_near_dup_pairs(emb: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Banded signature join -> candidate pairs -> exact cosine verify.

    Only vectors sharing a full signature band pair up, so the join
    shuffles (band, band-bits) keys instead of forming the N^2 cross
    product; recall vs the exact pairing is tested, not assumed."""
    from cantera_table_spark.functions.dedup import _bucketed_pairs
    rows = LSH_BITS // LSH_BANDS
    mask = (1 << rows) - 1
    sigs = hyperplane_signature(emb, LSH_BITS)
    banded = sigs.select(
        "vec_id", "v",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("sig"), b * rows)
                     .bitwiseAND(F.lit(mask)).alias("bits"))
            for b in range(LSH_BANDS)])).alias("e")
    ).select("vec_id", "v", "e.band", "e.bits")
    cand = _bucketed_pairs(banded, ["band", "bits"], "vec_id",
                           None, carry=["v"])
    return (cand.withColumn("cos", F.round(cosine(F.col("v_a"),
                                                  F.col("v_b")), 6))
            .filter(F.col("cos") >= threshold)
            .select(F.col("doc_a").alias("id_a"),
                    F.col("doc_b").alias("id_b"), "cos"))


def quantization_stats(emb: DataFrame) -> DataFrame:
    """Global per-dimension (min, max) ranges for scalar quantization,
    packed into one broadcast-able row of aligned arrays.

    One explode + one map-side-combinable aggregation over (dim) — the
    stats row is O(dim), independent of corpus size.
    """
    stats = (emb.select(F.posexplode(F.col("embedding")).alias("dim", "x"))
             .groupBy("dim")
             .agg(F.min(F.col("x").cast("double")).alias("mn"),
                  F.max(F.col("x").cast("double")).alias("mx")))
    return (stats
            .agg(F.array_sort(F.collect_list(
                F.struct("dim", "mn", "mx"))).alias("s"))
            .select(F.transform("s", lambda s: s["mn"]).alias("mins"),
                    F.transform("s", lambda s: s["mx"]).alias("maxs")))


QUANT_LEVELS = 255


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """int8-style scalar quantization of an embedding column over its
    own :func:`quantization_stats`: per dimension d, code =
    min(floor((x - mn_d) * L / (mx_d - mn_d)), L), reconstruction
    x' = mn_d + code * (mx_d - mn_d) / L, with L = QUANT_LEVELS.
    floor (not round) on BOTH engines — Spark round is HALF_UP while
    DuckDB's INT cast rounds half-even, so floor is the portable choice.

    Adds ``qcode`` (array<smallint>-ranged longs — the 4x-smaller
    payload a 100 TB index would persist) and ``embedding_q`` (the
    dequantized double vector downstream cosine runs on).  Degenerate
    dimensions (mn == mx) map to code 0 and reconstruct exactly.

    The stats row joins in as a broadcast nested-loop of one row — no
    shuffle on the corpus side; everything else is per-row JVM
    transforms inside codegen.

    NULL and empty embeddings are dropped (they cannot carry codes and
    a SQL oracle's unnest(range(1, len+1)) drops them the same way);
    note sequence(1, 0) would count DOWN and fault element_at.
    """
    emb = emb.filter(F.size(F.col("embedding")) > 0)
    stats = quantization_stats(emb)
    lv = F.lit(float(QUANT_LEVELS))
    idx = F.sequence(F.lit(1), F.size(F.col("embedding")))

    def per_dim(i):
        x = F.element_at(F.col("embedding"), i).cast("double")
        mn = F.element_at(F.col("mins"), i)
        mx = F.element_at(F.col("maxs"), i)
        return F.when(mx == mn, F.lit(0).cast("long")).otherwise(
            # clamp BOTH ends so every code stays in [0, QUANT_LEVELS],
            # the smallint-ranged code contract (r9 review finding)
            F.greatest(F.lit(0).cast("long"),
                       F.least(F.floor(((x - mn) * lv) / (mx - mn)),
                               F.lit(QUANT_LEVELS).cast("long"))))

    def deq(i):
        mn = F.element_at(F.col("mins"), i)
        mx = F.element_at(F.col("maxs"), i)
        code = F.element_at(F.col("qcode"), i).cast("double")
        return mn + (code * (mx - mn)) / lv

    return (emb.crossJoin(F.broadcast(stats))
            .withColumn("qcode", F.transform(idx, per_dim))
            .withColumn("embedding_q", F.transform(idx, deq))
            .drop("mins", "maxs"))


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance with double accumulation (sequential left
    fold, same order as the oracle's list_reduce over DOUBLE[])."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(F.zip_with(ad, bd, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def _finite_array(col: Column) -> Column:
    """Per-ROW subvector validity: every element non-NULL, NaN-free,
    finite.  Applied to each SIDE before the distance join — the
    _rankable pattern: filtering the COMPUTED distance instead
    re-inlines the O(d) fold into the predicates (the r10 sim01
    lesson; plan_lint's FoldRecompute budget caught exactly that form
    of the r11 NULL-code fix in-round and forced this one)."""
    return F.forall(col, lambda x: x.isNotNull() &
                    ~F.isnan(x.cast("double")) &
                    (F.abs(x.cast("double")) < F.lit(float("inf"))))


def _pq_sublen(m: int) -> Column:
    """Subvector length dim/m over the ``__v`` vector column, with a
    runtime divisibility guard: PQ requires d % m == 0 (FAISS's rule) —
    a silent floor would drop the trailing d % m dimensions from every
    code and ADC distance with no warning."""
    sz = F.size(F.col("__v"))
    ok = F.assert_true(
        sz % m == 0,
        F.concat(F.lit(f"PQ requires dim % m == 0: m={m}, dim="),
                 sz.cast("string")))
    return F.when(ok.isNull(), sz / m).cast("int")


def _subvectors(df: DataFrame, m: int, id_col: str, vec_col: str,
                id_out: str, vec_out: str) -> DataFrame:
    """Explode a vector frame into its ``m`` contiguous subvectors:
    (id_out, sub_idx, vec_out) — the shared front of pq_encode /
    pq_train / the ADC lookup table (r11 deferred finding: the same
    explode-slice stanza lived at four call sites)."""
    sublen = _pq_sublen(m)
    return (df.select(
        F.col(id_col).alias(id_out), F.col(vec_col).alias("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_idx"))
        .select(id_out, "sub_idx",
                F.slice(F.col("__v"), F.col("sub_idx") * sublen + 1,
                        sublen).alias(vec_out)))


def _probe_clusters(vecs: DataFrame, centroids: DataFrame, nprobe: int,
                    id_name: str, vec_name: str, out_name: str,
                    carry_vec: bool = True) -> DataFrame:
    """Probe selection shared by ivf_topk / ivfpq_topk /
    ivf_assign_hier: rank the broadcast centroids per vector by cosine
    and explode the ``nprobe`` nearest ids as ``out_name``.

    ``vecs`` must be exactly (id_name, vec_name); ``centroids``
    (centroid_id, cv) — both are re-aliased internally so caller
    column names can't collide.  The reduction is groupBy +
    sorted-slice over the cross join's V*k rows (map-side combinable —
    the ivf_assign shape), NOT a ranking window.  A NULL cosine
    (degenerate/zero-norm centroid) must LOSE, not win: struct
    ordering puts NULL first, so an unguarded NULL negcos would hand
    every vector the degenerate centroid as its first probe — the r9
    one-bucket collapse (re-found on the hier path in r11); coalesce
    to +inf sorts it last."""
    scored = (vecs.join(F.broadcast(centroids.select(
                  F.col("centroid_id").alias("__pc_id"),
                  F.col("cv").alias("__pc_v"))), F.lit(True))
              .select(id_name, *([vec_name] if carry_vec else []),
                      F.struct(
                          F.coalesce(-cosine(F.col(vec_name),
                                             F.col("__pc_v")),
                                     F.lit(float("inf"))).alias("negcos"),
                          F.col("__pc_id").alias("cid")).alias("__s")))
    aggs = ([F.any_value(F.col(vec_name)).alias(vec_name)]
            if carry_vec else [])
    aggs.append(F.slice(F.array_sort(F.collect_list("__s")), 1,
                        nprobe).alias("__p"))
    return (scored.groupBy(id_name).agg(*aggs)
            .select(id_name, *([vec_name] if carry_vec else []),
                    F.explode(F.col("__p.cid")).alias(out_name)))


def _adc_lut(queries: DataFrame, codebook: DataFrame, m: int,
             id_col: str, vec_col: str) -> DataFrame:
    """Per-query ADC lookup table (query_id, sub_idx, code, pd):
    subspace L2 distances to the broadcast codebook — |Q| * m * ksub
    rows, always broadcast-small.  Shared by pq_topk / ivfpq_topk."""
    qsubs = _subvectors(queries, m, id_col, vec_col, "query_id", "qv")
    return (qsubs.join(F.broadcast(codebook), "sub_idx")
            .select("query_id", "sub_idx", "code",
                    _l2sq(F.col("qv"), F.col("cv")).alias("pd")))


def _adc_rank(joined: DataFrame, k: int, m: int) -> DataFrame:
    """Sum ADC partials per (query, vector) and rank ascending:
    (query_id, neighbor_id, approx_d2, rank 1..k).  Requires all m
    non-null PARTIALS present — count("pd"), not count(*): a NULL pd
    (query subvector with a NULL element) still emits a row, so
    count(*) passed while sum(pd) silently skipped the subspace and
    ranked on m-1 partials (r11 review).  Ties -> lowest neighbor id.
    Shared by pq_topk / ivfpq_topk."""
    from pyspark.sql import Window
    scored = (joined
              .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
              .agg(F.round(F.sum("pd"), 6).alias("approx_d2"),
                   F.count("pd").alias("__np"))
              .filter(F.col("__np") == m).drop("__np"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_codebook(emb: DataFrame, m: int = 4, ksub: int = 8) -> DataFrame:
    """Product-quantization codebook: the vector space splits into
    ``m`` contiguous subspaces; each subspace gets ``ksub`` centroids.
    Seeding is deterministic like :func:`seed_centroids` — the ksub
    lowest-id vectors' subvectors, code = the seed's id rank — so a
    SQL oracle reproduces the codebook exactly (k-means refinement
    per subspace would drop in here for recall; the seeded form keeps
    the gate deterministic).  Returns (sub_idx, code, cv) —
    m * ksub small rows, always broadcast.
    """
    from pyspark.sql import Window
    emb = emb.filter(F.col("embedding").isNotNull())
    seeds = (emb.orderBy("vec_id").limit(ksub)
             .withColumn("code",
                         F.row_number().over(Window.orderBy("vec_id")) - 1))
    return (_subvectors(seeds, m, "code", "embedding", "code", "cv")
            .select("sub_idx", "code", "cv"))


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int = 4) -> DataFrame:
    """Encode every vector to ``m`` one-byte codes: per subspace, the
    code of the L2-nearest codebook centroid (ties -> lowest code).
    m rows per vector of (vec_id, sub_idx, code) — the stored index is
    m bytes/vector vs 4*dim for raw float32 (32x at dim=32, m=4).
    Plan: explode to subvectors, broadcast-join the codebook per
    subspace, one min(struct) aggregation — no shuffle of the raw
    vectors beyond the explode's narrow rows."""
    # NULL vectors get NO codes (a NULL subvector distance would win
    # the min(struct) with an arbitrary code and surface the vector as
    # a fake search result)
    emb = emb.filter(F.col("embedding").isNotNull())
    subs = _subvectors(emb, m, "vec_id", "embedding", "vec_id", "sv")
    # a NULL/NaN subspace distance (NULL vector element, or a
    # dim-mismatched pair whose zip_with NULL-pads) must not produce a
    # code: NULL sorts FIRST in struct min, so it would WIN with an
    # arbitrary code 0 and the vector surfaces as a fake search result
    # (r11 review).  Validity filters go on the SIDES (per-row element
    # scan + a cheap size-equality residual), never on the computed
    # __d — that re-inlines the O(d) fold per predicate (FoldRecompute
    # budget).  Degenerate subspaces simply emit no row, leaving the
    # vector with < m codes, which the ADC all-partials guard then
    # excludes from ranking.
    scored = (subs.filter(_finite_array(F.col("sv")))
              .join(F.broadcast(
                  codebook.filter(_finite_array(F.col("cv")))), "sub_idx")
              .filter(F.size("sv") == F.size("cv"))
              .withColumn("__d", _l2sq(F.col("sv"), F.col("cv"))))
    return (scored.groupBy("vec_id", "sub_idx")
            .agg(F.min(F.struct("__d", "code")).alias("__m"))
            .select("vec_id", "sub_idx", F.col("__m.code").alias("code")))


def pq_topk(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
            k: int = 5, m: int = 4) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes its m * ksub lookup table of subspace distances to the
    codebook (broadcast both ways — LUT rows = |Q| * m * ksub), the
    stored codes equi-join the LUT on (sub_idx, code), and the
    approximate distance is the per-(query, vector) SUM of m partial
    distances — the classic PQ search, with the raw vectors never read
    at query time.  Returns (query_id, neighbor_id, approx_d2, rank),
    rank 1..k ascending distance (ties -> lowest neighbor id).
    """
    queries = queries.filter(F.col("embedding").isNotNull())
    lut = _adc_lut(queries, codebook, m, "vec_id", "embedding")
    joined = (codes.join(F.broadcast(lut), ["sub_idx", "code"])
              .filter(F.col("vec_id") != F.col("query_id")))
    return _adc_rank(joined, k, m)


def semantic_dedup(emb: DataFrame, threshold: float = 0.8,
                   n_clusters: int = 8, caches: CacheScope | None = None,
                   assign: str = "flat", nprobe: int = 2,
                   coarse_k: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, and
    within each cluster drop every vector whose cosine similarity to a
    LOWER-id cluster member reaches ``threshold`` — semantic
    near-duplicates that string-level dedup cannot see.

    The pairwise comparison is restricted to WITHIN-cluster pairs —
    the O(N^2/k) SemDeDup economics; the cross-cluster quadratic never
    materializes.  The centroids are the deterministic seeded set
    (:func:`seed_centroids`).  At 100 TB the within-cluster self-join
    shuffles on ``cluster`` — cluster count scales with corpus so the
    per-cluster membership stays bounded (the paper's setting).

    ``assign`` picks the assignment stage: ``"flat"`` (exact N*k
    cosines — the oracle-replayed gate path) or ``"hier"``
    (:func:`ivf_assign_hier`: coarse-quantized N*sqrt(k)*nprobe ANN
    assignment — the scale path for the k-proportional-to-N regime,
    where flat assignment itself turns quadratic).  With
    ``nprobe >= coarse_k`` hier reproduces flat exactly.

    Returns (vec_id, cluster, kept): every vector with its cluster and
    the keep/drop decision (kept = no lower-id member at >= threshold).
    Pass ``caches`` (a CacheScope) to persist the cluster assignment in
    it for the caller to release; without one it is not cached.
    """
    if assign not in ("flat", "hier"):
        raise ValueError(f"assign must be flat|hier: {assign}")
    centroids = seed_centroids(emb, n=n_clusters)
    if assign == "hier":
        assigned = ivf_assign_hier(emb, centroids, coarse_k=coarse_k,
                                   nprobe=nprobe)
    else:
        assigned = ivf_assign(emb, centroids)
    if caches is not None:
        # the quantized pair stage, the two exact-verify vector lookups,
        # and the final keep-join all consume the assignment pipeline
        # (cross join + per-vector argmin); persist it in the caller's
        # CacheScope when one is passed (measured 2x on the dd15 bench
        # phase uncached)
        assigned = caches.persist(assigned)
    # The within-cluster self-join is the O(N^2/k) stage, so the rows it
    # shuffles and enumerates must be as small as possible: carry
    # int8-quantized UNIT vectors (d bytes vs 8d for the float64
    # originals) through the quadratic stage and prefilter pairs on the
    # quantized dot product with a proven error margin; only survivors
    # re-join the raw vectors for the exact cosine that defines the drop
    # decision, so the result is bit-identical to the direct
    # formulation (the dd07 candidate-restrict-then-verify pattern).
    #
    # Margin: for unit u_a,u_b and q = round(127*u) (so each element
    # err <= 1/254), |dot(u_a,u_b) - dotq/127^2| <=
    # (|u_a|_1 + |u_b|_1)/254 + d/254^2 <= 2*sqrt(d)/254 + d/254^2
    # (~0.064 at d=64).  The extra 1e-4 headroom covers float64
    # normalization error and the final round(.,6) quantum.  NaN/zero-
    # norm vectors quantize to NULL codes (try_divide/try_cast) and are
    # excluded from the pair stage entirely.  NOTE this is a deliberate
    # semantics change vs the pre-quantization direct formulation:
    # Spark orders NaN as largest, so a NaN exact cosine satisfied
    # `cos >= threshold` and dropped every higher-id vector paired with
    # a NaN-element embedding; NULL codes make those pairs vanish
    # instead (NULL comparison is never TRUE), which keeps NaN-embedded
    # docs AND their would-be victims.  Pinned by the NaN case in
    # test_semantic_dedup_prefilter_exactness.
    unit = F.transform(
        F.col("v"),
        lambda x: F.try_divide(x.cast("double"), F.col("__nv")))
    compact = (assigned
               .withColumn("__nv", norm(F.transform(
                   F.col("v"), lambda x: x.cast("double"))))
               .select("vec_id", "cluster", F.transform(
                   unit, lambda x: F.round(x * 127).try_cast("tinyint")
               ).alias("q")))
    dim = F.size(F.col("a.q")).cast("double")
    margin = (F.lit(2.0) * F.sqrt(dim) / F.lit(254.0)
              + dim / F.lit(254.0 * 254.0) + F.lit(1e-4))
    dotq = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"),
                   lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    cand = (compact.alias("a")
            .join(compact.alias("b"),
                  (F.col("a.cluster") == F.col("b.cluster")) &
                  (F.col("a.vec_id") < F.col("b.vec_id")))
            .filter(dotq.cast("double") / F.lit(127.0 * 127.0)
                    >= F.lit(threshold) - margin)
            .select(F.col("a.vec_id").alias("__aid"),
                    F.col("b.vec_id").alias("__bid")))
    va = assigned.select(F.col("vec_id").alias("__aid"),
                         F.col("v").alias("__va"))
    vb = assigned.select(F.col("vec_id").alias("__bid"),
                         F.col("v").alias("__vb"))
    drops = (cand.join(va, "__aid").join(vb, "__bid")
             .withColumn("__cos", F.round(
                 cosine(F.col("__va"), F.col("__vb")), 6))
             .filter(F.col("__cos") >= threshold)
             .select(F.col("__bid").alias("vec_id"))
             .distinct())
    return (assigned.select("vec_id", "cluster")
            .join(drops.withColumn("__drop", F.lit(True)),
                  "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce(~F.col("__drop"), F.lit(True))
                    .alias("kept")))


def ivfpq_topk(indexed: DataFrame, centroids: DataFrame,
               codes: DataFrame, codebook: DataFrame, queries: DataFrame,
               k: int = 5, nprobe: int = 2, m: int = 4) -> DataFrame:
    """The composed IVF+PQ index — the FAISS IVFADC search shape
    (non-residual variant): queries probe their ``nprobe`` nearest
    centroid buckets, and ONLY the probed buckets' PQ codes are scored
    with the asymmetric-distance LUT.  Search cost is
    O(N * nprobe / n_centroids) candidate codes * m byte lookups — the
    raw vectors are never read at query time, and the candidate scan
    never leaves the probed partitions (pair naturally with a
    ``cluster``-partitioned codes layout, as write_ivf_index does for
    raw vectors).

    ``indexed`` is ivf_assign's output, ``codes``/``codebook`` come
    from pq_encode/pq_codebook.  Probing ranks centroids by cosine
    (the IVF convention here) while ADC distances are L2 — the
    standard mixed setup, documented rather than hidden.  Returns
    (query_id, neighbor_id, approx_d2, rank).
    """
    # NULL-vector queries would probe arbitrary centroids and rank
    # NULL distances first (asc sorts NULLs first) — same guard as
    # pq_topk/pq_encode
    queries = queries.filter(F.col("embedding").isNotNull())
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    probed = _probe_clusters(q, centroids, nprobe, id_name="query_id",
                             vec_name="qv", out_name="cluster",
                             carry_vec=False)
    cand = (indexed.select("vec_id", "cluster").join(probed, "cluster")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id"))
    lut = _adc_lut(queries, codebook, m, "vec_id", "embedding")
    joined = codes.join(cand, "vec_id").join(
        F.broadcast(lut), ["query_id", "sub_idx", "code"])
    return _adc_rank(joined, k, m)


def pq_train(emb: DataFrame, m: int = 4, ksub: int = 8,
             iters: int = 3) -> DataFrame:
    """Lloyd-refined PQ codebook: start from the seeded codebook and
    run k-means per SUBSPACE — assign every subvector to its nearest
    centroid (L2), recompute centroids as assignment means, repeat.
    One aggregation per iteration over the exploded subvector rows
    (map-side combinable per-dimension sums);
    empty codes keep their previous centroid.  A code's membership is
    O(N/ksub) vectors, so the mean step must never materialize the
    member list in one aggregation buffer — per-dimension
    posexplode + avg keeps every partial bounded, and the 6-decimal
    rounding absorbs the ~1e-15 cross-engine summation-order
    difference, so a SQL oracle replays the refinement (gate sim11).
    The refined codebook drops into pq_encode/pq_topk/ivfpq_topk
    unchanged; the seeded form stays the oracle-deterministic gate
    path."""
    cb = pq_codebook(emb, m=m, ksub=ksub)
    # NULL vectors train nothing, same as the encode path (previously
    # one NULL embedding crashed _pq_sublen's dim assert with a
    # misleading 'dim=-1' mid-job, r11 review)
    emb = emb.filter(F.col("embedding").isNotNull())
    # NULL/NaN-element subvectors train nothing — unfiltered, the
    # NULL distance WINS the struct min with code 0 and the
    # subvector's real elements pollute code 0's refined mean
    # (r11 review).  Per-SIDE validity, like pq_encode; the seeded
    # codebook is screened once (refined means of finite inputs
    # stay finite).
    subs = (_subvectors(emb, m, "vec_id", "embedding", "vec_id", "sv")
            .filter(_finite_array(F.col("sv"))))
    cb = cb.filter(_finite_array(F.col("cv")))
    for _ in range(iters):
        assigned = (subs.join(F.broadcast(cb), "sub_idx")
                    .filter(F.size("sv") == F.size("cv"))
                    .withColumn("__d", _l2sq(F.col("sv"), F.col("cv")))
                    .groupBy("vec_id", "sub_idx")
                    .agg(F.min(F.struct("__d", "code", "sv")).alias("__m"))
                    .select("sub_idx", F.col("__m.code").alias("code"),
                            F.col("__m.sv").alias("sv")))
        means = (assigned
                 .select("sub_idx", "code",
                         F.posexplode(F.col("sv")).alias("pos", "x"))
                 .groupBy("sub_idx", "code", "pos")
                 .agg(F.round(F.avg(F.col("x").cast("double")), 6)
                      .alias("mx"))
                 .groupBy("sub_idx", "code")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                     lambda s: s["mx"]).alias("cv")))
        prev = cb.select("sub_idx", "code",
                         F.col("cv").alias("__prev"))
        cb = (prev.join(means, ["sub_idx", "code"], "left")
              .select("sub_idx", "code",
                      F.coalesce("cv", "__prev").alias("cv")))
    return cb
