"""Deduplication operators for training-data pipelines (north star,
BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine.

Scale design notes (100 TB posture):

- exact dedup is a hash-groupBy — partial aggregation map-side, one
  shuffle on the content hash.
- MinHash/LSH: signatures are a narrow per-doc table; the LSH band join
  shuffles only (band_idx, band_hash) keys, and candidate verification
  touches only colliding pairs — never the O(n^2) cross join.
- SimHash: 32-bit signature per doc from one aggregate over exploded
  (token-hash, bit) rows; near-dup = signatures at small Hamming
  distance, found by banding the signature bytes.
- all hashes derive from md5 hex substrings so a SQL oracle (DuckDB)
  reproduces them bit-for-bit — no engine-specific hash functions in
  semantics-bearing positions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cantera_table_spark.functions.text import tokens
from cantera_table_spark.session import CacheScope

MINHASH_PRIME = 4_294_967_311          # smallest prime > 2^32


def md5_int(col: Column) -> Column:
    """First 8 hex chars of md5 as an int in [0, 2^32) — the shared
    portable base hash.  DuckDB: ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash; canonical = min id."""
    return (df.select(F.md5(F.col("text")).alias("content_hash"),
                      F.col("doc_id"))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").alias("n_copies")))


def shingle_arrays(df: DataFrame, text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document as ONE array row:
    (doc_id, __shingles) — the module's only tokenize -> n-gram
    transform (:func:`shingles` is its explode).  Keeping shingles
    in-row lets the MinHash signature and LSH band hashes compute as
    pure map expressions with ZERO shuffles (guide §2.4): the
    per-document reductions never need rows to leave the document.

    The token array is materialized behind an explode(array(...))
    Generate barrier so the size() filter cannot re-inline the
    tokenize (the CollapseProject/pushdown re-evaluation class).
    Documents with < n tokens are dropped: ``sequence(1, size - (n-1))``
    would count DOWN through 0 and ``slice(toks, 0, n)`` is a runtime
    error.

    The shingle transform is guarded by the same ``size() >= n`` test
    inside a ``when()`` branch even though the row filter already
    enforces it: a downstream predicate referencing ``__shingles``
    can be pushed down and merged into the filter, where codegen's
    subexpression elimination evaluates the transform BEFORE the
    short-circuiting size conjunct — and on a short document the
    count-down ``slice`` throws under ANSI (caught in-round by
    test_near_dup_clusters_clone_invariant; conditional branches are
    exempt from eager subexpression hoisting, which is the same
    reason text.with_repetition_stats guards its gram arrays)."""
    return (df.select(F.col("doc_id"),
                      F.explode(F.array(tokens(F.col(text_col))))
                      .alias("__toks"))
            .filter(F.size("__toks") >= n)
            .select("doc_id",
                    F.array_distinct(F.when(
                        F.size("__toks") >= n,
                        F.transform(
                            F.sequence(F.lit(1),
                                       F.size("__toks") - (n - 1)),
                            lambda i: F.concat_ws(
                                " ", F.slice(F.col("__toks"), i, n))))
                        .otherwise(F.array().cast("array<string>")))
                    .alias("__shingles")))


def exploded_shingles(arrs: DataFrame) -> DataFrame:
    """(doc_id, shingle) long form from :func:`shingle_arrays` output.
    Lets one pipeline feed both the map-only LSH path (arrays) and the
    co-shingle Jaccard join (long form) without re-tokenizing twice."""
    return arrs.select("doc_id", F.explode("__shingles").alias("shingle"))


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle)."""
    return exploded_shingles(shingle_arrays(df, n=n))


def _sig_array(shingles_arr: Column, k: int = 16) -> Column:
    """k-element MinHash signature array from a shingle array — pure
    map expressions, no shuffle.  h_i(x) = ((2i+1) * x + 12345*i + 1)
    mod p over the portable md5 base hash x; sig_i = min over the
    array (a min over the shingle SET, so element order and repeats
    never change it).

    Shape (r13): transposed to k passes of ``array_min`` over the
    md5-hashed array instead of one fold carrying a k-array
    accumulator — bit-identical mins (law-tested vs the frozen r11
    groupBy form), but the fold allocated a fresh k-element zip_with
    array PER SHINGLE where this allocates k arrays PER DOCUMENT
    (~10% off the interpreted higher-order evaluation; HOF lambdas do
    not enter whole-stage codegen, which is the remaining honest cost
    of the zero-shuffle shape).  The hashed array binds through a
    one-element ``transform`` so md5 evaluates ONCE per shingle, not
    once per hash function (the FoldRecompute class); callers must
    guarantee a non-empty array (shingle_arrays drops docs with < n
    tokens) — array_min of an empty array would be NULL."""
    xs = F.transform(shingles_arr, md5_int)
    return F.get(F.transform(F.array(xs), lambda xv: F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(F.transform(
            xv, lambda x: ((2 * i + 1).cast("long") * x +
                           F.lit(12345).cast("long") * i + 1)
            % MINHASH_PRIME)))), F.lit(0))


def minhash_signature_rows(arrs: DataFrame, k: int = 16) -> DataFrame:
    """MinHash signature, long form: (doc_id, h_idx, sig) from
    :func:`shingle_arrays` output, computed as a pure map + posexplode
    with no per-doc groupBy shuffle (guide §2.4; the min over a
    document's shingles never needed rows to cross partitions)."""
    return arrs.select(
        "doc_id",
        F.posexplode(_sig_array(F.col("__shingles"), k))
        .alias("h_idx", "sig"))


def lsh_band_hashes(arrs: DataFrame, k: int = 16,
                    bands: int = 4) -> DataFrame:
    """(doc_id, band, band_hash) from :func:`shingle_arrays` output,
    with ZERO shuffles: the k-element signature splits into ``bands``
    contiguous groups of k/bands rows, and each band hashes as md5 of
    the sorted, comma-joined "h_idx:sig" strings of its rows.

    The signature array is materialized behind its own Generate
    barrier before the per-band transform: the band lambda indexes it
    ``rows`` times per band, and an un-materialized fold expression
    would re-run the whole O(|shingles| * k) fold once per band."""
    if k <= 0 or bands <= 0:
        raise ValueError(f"k={k} and bands={bands} must both be positive")
    if k % bands:
        raise ValueError(f"k={k} must divide evenly into bands={bands}")
    rows = k // bands
    sigged = arrs.select("doc_id", F.explode(F.array(
        _sig_array(F.col("__shingles"), k))).alias("__sig"))
    bs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(F.concat_ws(",", F.sort_array(F.transform(
                F.sequence(b * rows, b * rows + (rows - 1)),
                lambda i: F.concat_ws(
                    ":", i.cast("string"),
                    F.element_at(F.col("__sig"), i + 1).cast("string"))))))
            .alias("band_hash")))
    return (sigged.select("doc_id", F.explode(bs).alias("__b"))
            .select("doc_id", "__b.band", "__b.band_hash"))


def lsh_candidate_pairs_arrays(arrs: DataFrame, k: int = 16,
                               bands: int = 4,
                               max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from :func:`shingle_arrays`
    output: docs sharing any full (band, band_hash) bucket of
    :func:`lsh_band_hashes`.  Candidate generation reaches the bucket
    join with ZERO upstream shuffles; the only exchange is the
    (band, band_hash) one the pair join fundamentally requires.

    ``max_bucket`` bounds the per-bucket pair blow-up: a degenerate
    bucket — e.g. thousands of boilerplate-identical pages, the typical
    pretraining-corpus shape — would otherwise pair quadratically
    inside the bucket.  Buckets larger than ``max_bucket`` emit a
    linear STAR instead (every member paired with the bucket's minimum
    doc_id): connectivity through the hub is preserved, so downstream
    clustering (duplicate_clusters) still merges the whole bucket when
    verification passes, and for the all-identical case the final
    clusters are exactly the quadratic ones.  The documented recall
    trade: direct pairs between non-hub members of a MIXED oversized
    bucket are not emitted.  None (default) keeps the exact quadratic
    semantics."""
    return _bucketed_pairs(lsh_band_hashes(arrs, k=k, bands=bands),
                           ["band", "band_hash"], "doc_id", max_bucket)


def _empty_result(df: DataFrame, fields) -> DataFrame:
    """Empty frame whose schema derives from the input: ``fields`` is a
    list of (output name, source) pairs where source is a column name
    in ``df`` (type copied) or an explicit DataType.  Centralizes the
    empty-input fallback so id columns can never drift back to
    hardcoded ``long`` (r9 finding (c): a hardcoded-long empty shard
    failed to union with non-long-id inputs)."""
    from pyspark.sql import types as T
    st = T.StructType([
        T.StructField(name, df.schema[src].dataType
                      if isinstance(src, str) else src)
        for name, src in fields])
    return df.sparkSession.createDataFrame([], st)


def _bucketed_pairs(banded: DataFrame, bucket_cols: list[str],
                    id_col: str, max_bucket: int | None,
                    carry: list[str] | None = None) -> DataFrame:
    """Shared LSH bucket -> pair expansion with the hot-bucket bound.

    Small buckets pair quadratically; buckets over ``max_bucket`` emit
    the linear star around the minimum id (see
    lsh_candidate_pairs_arrays).
    ``carry`` columns (e.g. the vectors for cosine verification) are
    propagated to pair columns ``<c>_a`` / ``<c>_b``."""
    carry = carry or []

    def pair_select(a, b):
        cols = [F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b")]
        for c in carry:
            cols += [F.col(f"a.{c}").alias(f"{c}_a"),
                     F.col(f"b.{c}").alias(f"{c}_b")]
        return a.join(b, [F.col(f"a.{k}") == F.col(f"b.{k}")
                          for k in bucket_cols] +
                      [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]) \
            .select(*cols)

    if max_bucket is None:
        # Evaluate-once discipline at the PLAN level (r13): since the
        # r12 map-only rewrite the banding pipeline below can be a pure
        # map with ZERO exchanges, so this self-join executed the whole
        # shingle+signature+band fold once PER SIDE (isolated medians:
        # candidate generation 4.40 s vs the grouped form's 1.76 s at
        # sf0.1).  Repartitioning by the join keys inserts the exchange
        # the join requires anyway — no net shuffle added on ANY input
        # shape — and ReuseExchange then feeds both sides from ONE
        # banding pass (guide §2.4: two operations keyed the same way
        # share one exchange).  The max_bucket branch already shares
        # its window's (bucket_cols) exchange the same way.
        banded = banded.repartition(*bucket_cols)
        return pair_select(banded.alias("a"), banded.alias("b")) \
            .dropDuplicates(["doc_a", "doc_b"])
    # count AND hub in one window pass so every branch below derives
    # from the same exchange (a separate hubs groupBy + join would
    # re-run the candidate-generation pipeline per star side)
    w = Window.partitionBy(*bucket_cols)
    sized = (banded.withColumn("__n", F.count("*").over(w))
             .withColumn("__hub", F.min(id_col).over(w)))
    small = sized.filter(F.col("__n") <= max_bucket) \
        .drop("__n", "__hub")
    quad = pair_select(small.alias("a"), small.alias("b"))
    star = pair_select(
        sized.filter((F.col("__n") > max_bucket) &
                     (F.col(id_col) == F.col("__hub")))
             .drop("__n", "__hub").alias("a"),
        sized.filter((F.col("__n") > max_bucket) &
                     (F.col(id_col) != F.col("__hub")))
             .drop("__n", "__hub").alias("b"))
    return quad.unionByName(star).dropDuplicates(["doc_a", "doc_b"])


def jaccard_pairs(sh: DataFrame, min_jaccard: float = 0.0,
                  candidates: DataFrame | None = None,
                  max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing at least one shingle
    (optionally restricted to LSH candidates): (doc_a, doc_b, jaccard).

    When ``candidates`` are given, the restriction applies BEFORE the
    pairwise self-join (shingles prune to candidate docs first, then
    the produced pairs semi-join the candidate pairs) — that is the
    point of LSH: the quadratic hot-shingle blow-up never materializes.

    ``max_df`` is the stop-shingle lever for the un-pruned path: a
    shingle appearing in more than ``max_df`` documents is dropped from
    PAIR FORMATION only.  A boilerplate shingle shared by n docs
    otherwise forms ~n²/2 join rows — the same stop-word economics as
    text search.  The per-doc sizes still count every shingle, so the
    reported Jaccard is a LOWER BOUND of the true value (shared
    stop-shingles are excluded from the intersection but stay in the
    union) — thresholded output can miss pairs, never admit false
    ones.  Pairs whose only shared shingles are stop-shingles vanish
    entirely; both trades are the documented recall cost.
    """
    pair_sh = sh
    sizes_src = sh
    if max_df is not None:
        df_counts = (sh.groupBy("shingle")
                     .agg(F.count("*").alias("__df"))
                     .filter(F.col("__df") <= max_df)
                     .select("shingle"))
        pair_sh = sh.join(df_counts, "shingle", "left_semi")
    if candidates is not None:
        # one consumption of the candidate plan (the full LSH banding
        # pipeline) — a two-branch union would execute it twice
        cand_docs = (candidates
                     .select(F.explode(F.array("doc_a", "doc_b"))
                             .alias("doc_id"))
                     .distinct())
        # compose with (not replace) the stop-shingle filter above
        pair_sh = pair_sh.join(cand_docs, "doc_id", "left_semi")
        # sizes are only consumed through inner joins against candidate
        # pairs, so prune the per-doc size aggregation to candidate
        # docs too — the sizes table stays candidate-bounded instead of
        # corpus-sized (sizes still count EVERY shingle of those docs;
        # the stop-shingle filter applies to pair formation only)
        sizes_src = sh.join(cand_docs, "doc_id", "left_semi")
    sizes = sizes_src.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = pair_sh.alias("a")
    b = pair_sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle")) &
                    (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    if candidates is not None:
        inter = inter.join(candidates, ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    out = (inter.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("jaccard", F.round(
               F.col("inter") /
               (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
           .select("doc_a", "doc_b", "jaccard"))
    return out.filter(F.col("jaccard") >= min_jaccard)


SIMHASH_BITS = 32


def simhash(df: DataFrame) -> DataFrame:
    """SimHash signature: per bit, sum +/-1 over distinct token hashes;
    bit set when the sum is positive: (doc_id, simhash).

    Scale shape (r12): a pure map — ZERO shuffles (guide §2.4).  The
    signature is a per-document function of the distinct-token hash
    set, so it never needed the explode + groupBy(doc_id) the r11 form
    paid (one shuffle of per-doc partial rows).  One fold over the
    token-hash array accumulates the per-bit set-bit counts c_b; the
    r11 ±1 sum relates as sum_b = 2*c_b - n, so "sum_b > 0" is
    "2*c_b > n" — bit-identical signatures (pinned by
    tests/test_rowwise_rewrites.py).  Token-less docs (empty or NULL
    text) are dropped, matching the grouped form's explode.  The token
    array sits behind a Generate barrier so the size() filter and the
    fold share one tokenize."""
    base = (df.select(F.col("doc_id"),
                      F.explode(F.array(F.array_distinct(
                          tokens(F.col("text"))))).alias("__toks"))
            .filter(F.size("__toks") >= 1))
    xs = F.transform(F.col("__toks"), md5_int)
    init = F.struct(*[F.lit(0).cast("long").alias(f"c{b}")
                      for b in range(SIMHASH_BITS)])

    def bump(acc, x):
        return F.struct(*[(acc[f"c{b}"] + F.shiftright(x, b) % 2)
                          .alias(f"c{b}") for b in range(SIMHASH_BITS)])

    n = F.size(F.col("__toks"))

    def assemble(acc):
        expr = None
        for b in range(SIMHASH_BITS):
            term = F.when(acc[f"c{b}"] * 2 > n,
                          F.lit(1 << b).cast("long")).otherwise(F.lit(0))
            expr = term if expr is None else expr + term
        return expr

    return base.select(
        "doc_id", F.aggregate(xs, init, bump, assemble).alias("simhash"))


def embedding_near_dup_pairs(emb: DataFrame,
                             threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force — the exact
    baseline; LSH-bucketed variant in functions/similarity.py)."""
    from cantera_table_spark.functions.similarity import cosine
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos"))


# duplicate_clusters labels a graph of at most SMALL_GRAPH_EDGES edges
# on the driver; a larger one takes at most MAX_LABEL_ROUNDS
# distributed rounds
SMALL_GRAPH_EDGES = 100_000
MAX_LABEL_ROUNDS = 20


def duplicate_clusters(ids: DataFrame, pairs: DataFrame, *,
                       caches: CacheScope) -> DataFrame:
    """Connected components over verified duplicate pairs: every doc
    gets the minimum doc_id reachable through the pair graph as its
    ``canonical_id`` (singletons map to themselves).

    Min-label propagation RESTRICTED to the duplicate subgraph: a
    node with no edge can never change its label, so the iteration
    runs only over distinct edge endpoints — per-round shuffle volume
    is O(|duplicate pairs|), not O(|corpus|), and the corpus-sized
    frame is touched exactly once (the final left join that maps
    singletons to themselves).  O(diameter) iterations; duplicate
    clusters are shallow in practice so this converges in a handful of
    rounds.  The driver only sees a changed-row count per iteration.
    Non-convergence within ``MAX_LABEL_ROUNDS`` (a component with
    a longer diameter) raises instead of silently returning partial labels.
    The subgraph labels backing the returned DataFrame are
    Spark-cached, and the returned frame is an (uncached) join over
    them — unpersisting the RESULT would free nothing.  ``caches`` is
    the CacheScope the label rounds are persisted in (only the last
    stays cached, converged or not); the caller releases it after
    consuming the result (the same contract as
    operators.correlate.correlate_sets).

    Graphs with at most ``SMALL_GRAPH_EDGES`` edges skip the
    distributed rounds entirely: one bounded collect + driver-side
    union-find (path compression, union-by-min — identical min-label
    result) + one broadcast-sized createDataFrame back.  Each
    distributed round costs whole shuffle rounds of scheduling latency
    (measured 2.4 s/round on a 480-edge graph at bench SF), which
    dwarfs a sub-MB collect.
    """
    # Cache the symmetrized edge list: its lineage is the whole
    # candidate-generation + verification pipeline (LSH -> jaccard),
    # and every propagation round joins it — without the cache each
    # iteration re-runs that pipeline from the source scan.  Verified
    # pairs are the SMALL end of the funnel (bounded by true
    # duplicates), so the cache is cheap at any scale.  (At bench SF
    # the one-time materialization costs ~15% — the recompute it
    # avoids is trivial there; at corpus scale the recompute is the
    # whole dedup pipeline per round, which is the case that matters.)
    # symmetrize with ONE consumption of the pairs plan: a union of two
    # differently-projected selects defeats ReuseExchange, so the whole
    # upstream LSH -> jaccard pipeline would execute twice (measured 2x
    # on the dd06 bench phase); the explode reads it once
    with CacheScope() as scratch:
        edges = scratch.persist(pairs.select(F.explode(F.array(
            F.struct(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst")),
            F.struct(F.col("doc_b").alias("src"),
                     F.col("doc_a").alias("dst")))).alias("e"))
            .select("e.src", "e.dst")
            .distinct())
        # Materialize the edge cache NOW: both the node set below and
        # every iteration read it, and without this the first job would
        # compute the whole upstream candidate pipeline once per branch.
        n_edges = edges.count()
        if n_edges == 0:
            return ids.select("doc_id",
                              F.col("doc_id").alias("canonical_id"))
        if n_edges > SMALL_GRAPH_EDGES:
            # the labels are materialized when this returns, so the
            # edge cache can go
            labels = _propagate_labels(edges, caches)
        else:
            labels = F.broadcast(_union_find_labels(ids, edges.collect()))
    # map every corpus doc: subgraph label if present, else itself —
    # the ONLY corpus-sized operation in the routine
    return (ids.select("doc_id")
            .join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("canonical_id", "doc_id")
                    .alias("canonical_id")))


def _union_find_labels(ids: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over collected (src, dst) edge rows:
    (doc_id, canonical_id) for every edge endpoint."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller: every tree's
            # root stays the component minimum, so find() returns
            # exactly the min reachable id
            parent[max(ra, rb)] = min(ra, rb)
    idt = ids.schema["doc_id"].dataType.simpleString()
    return ids.sparkSession.createDataFrame(
        [(n, find(n)) for n in parent],
        f"doc_id {idt}, canonical_id {idt}")


def _propagate_labels(edges: DataFrame, caches: CacheScope) -> DataFrame:
    """Min-label rounds over the cached symmetrized ``edges``.  Each
    round is persisted in ``caches`` and the one before it released
    from it; returns the converged (doc_id, canonical_id) round."""
    # symmetrized, so every edge-touching node appears as a src
    labels = (edges.select("src").distinct()
              .select(F.col("src").alias("doc_id"),
                      F.col("src").alias("canonical_id")))
    prev = None
    for _ in range(MAX_LABEL_ROUNDS):
        neighbor_min = (edges.join(
            labels.select(F.col("doc_id").alias("src"),
                          F.col("canonical_id").alias("src_lab")), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("src_lab").alias("nb_lab")))
        # carry the old label through the update so the convergence
        # check is a filter on the same cached frame, not another join
        updated = caches.persist(
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id",
                    F.col("canonical_id").alias("__old"),
                    F.least(F.col("canonical_id"),
                            F.coalesce(F.col("nb_lab"),
                                       F.col("canonical_id")))
                    .alias("canonical_id")))
        # the zero-changed check scans every partition of the cached
        # round, so a converged round is fully materialized
        changed = (updated.filter(F.col("canonical_id") != F.col("__old"))
                   .limit(1).count())
        if prev is not None:
            caches.release(prev)
        prev = updated
        labels = updated.drop("__old")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"duplicate_clusters did not converge in {MAX_LABEL_ROUNDS} "
        "iterations (a duplicate chain longer than MAX_LABEL_ROUNDS)")


def near_dup_clusters(docs: DataFrame, min_jaccard: float = 0.12,
                      max_bucket: int | None = None, *,
                      caches: CacheScope) -> DataFrame:
    """The full dedup pipeline a pretraining corpus actually runs:
    exact-collapse identical texts by content hash FIRST, run the
    near-dup stack (shingles -> MinHash -> LSH -> Jaccard verify ->
    connected components) on the unique-text REPRESENTATIVES only,
    then expand the cluster labels back over the membership.

    Why this composition is the 100 TB shape: boilerplate-heavy
    corpora carry thousands-to-millions of byte-identical copies, and
    every near-dup stage is quadratic-ish in copies of the same text —
    identical docs share every LSH band (bucket blow-up) and every
    shingle (the Jaccard verify's co-shingle join grows as the SQUARE
    of each shingle's document frequency; measured: an uncollapsed
    64x-cloned corpus spilled >57 GB of shuffle in verification and
    died, while this pipeline's near-dup stage is invariant to the
    clone count).  The collapse is one hash aggregation; the expand is
    one join of the membership against the rep labels.

    Semantics vs running the near-dup stack on the raw corpus:
    identical for every shingled document (identical texts have
    Jaccard 1 and identical band hashes, so collapsing them never
    changes connectivity; canonical_id = min doc_id reachable is
    preserved because each group's representative IS its min id) and
    strictly stronger for identical docs too short to shingle (< n
    tokens): the raw stack leaves them singletons, this pipeline
    merges them — identical bytes are duplicates regardless of length.

    Returns (doc_id, canonical_id) over the FULL corpus; the cached
    label frame behind it is registered in the CacheScope ``caches``
    (see duplicate_clusters).
    """
    # null-safe content hash: md5(NULL) is NULL and a NULL key never
    # matches itself in the membership join, which would silently drop
    # NULL-text docs from the output.  The sentinel groups all
    # NULL-text docs as one identity class ("-" cannot collide with a
    # 32-hex md5), matching the SQL oracle's PARTITION BY md5(text),
    # which also buckets NULLs together.
    member = docs.select(F.col("doc_id"),
                         F.coalesce(F.md5(F.col("text")), F.lit("-"))
                         .alias("__h"))
    groups = member.groupBy("__h").agg(F.min("doc_id").alias("rep_id"))
    membership = member.join(groups, "__h").select("doc_id", "rep_id")
    reps = (docs.select(F.col("doc_id"),
                        F.col("text").alias("__text"))
            .join(groups.select(F.col("rep_id").alias("doc_id")),
                  "doc_id", "left_semi"))
    # map-only candidate generation (r12): signatures and band hashes
    # fold per row, so the LSH stage's two pre-join shuffles are gone
    arrs = shingle_arrays(reps, text_col="__text")
    cands = lsh_candidate_pairs_arrays(arrs, max_bucket=max_bucket)
    pairs = (jaccard_pairs(exploded_shingles(arrs),
                           min_jaccard=min_jaccard,
                           candidates=cands)
             .select("doc_a", "doc_b"))
    rep_labels = duplicate_clusters(reps.select("doc_id"), pairs,
                                    caches=caches)
    return (membership
            .join(rep_labels.select(F.col("doc_id").alias("rep_id"),
                                    "canonical_id"), "rep_id")
            .select("doc_id", "canonical_id"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 3) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    word n-gram shingles appear anywhere in a benchmark/eval set, plus
    a boolean `contaminated` flag (any overlap).  Standard pretraining
    hygiene (n-gram-overlap decontamination as in the GPT-3 appendix C
    methodology, typically n = 8..13 for production; n is a parameter).

    Scale shape: benchmark sets are tiny next to a 100 TB corpus, so
    the DISTINCT benchmark shingle set is broadcast — corpus shingles
    are filtered map-side during the explode and never shuffled; the
    only shuffle is the per-doc overlap count keyed by doc_id.  The
    output keeps every corpus document (left join, zero-filled).
    """
    corp = shingles(docs, n=n)
    bench = (shingles(benchmark, n=n)
             .select("shingle").distinct())
    hits = (corp.join(F.broadcast(bench), "shingle")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_contaminated_shingles")))
    return (docs.select(F.col("doc_id"))
            .join(hits, "doc_id", "left")
            .withColumn("n_contaminated_shingles",
                        F.coalesce("n_contaminated_shingles", F.lit(0)))
            .withColumn("contaminated",
                        F.col("n_contaminated_shingles") > 0))


def _merged_spans(base: DataFrame, n: int, min_docs: int) -> DataFrame:
    """Shared core of :func:`repeated_spans` / :func:`cut_repeated_spans`
    (the find and the apply step of Lee et al. 2021 exact-substring
    dedup): explode each document's length-``n`` token windows, keep
    window hashes occurring in >= ``min_docs`` distinct documents (an
    explicit TWO-PHASE distinct count — groupBy(hash, doc) then
    groupBy(hash), both map-side combinable, never a count_distinct
    expand), and merge each document's hit windows into maximal spans
    (windows at positions p < q merge when q - p <= n).

    ``base``: (doc_id, __toks) rows with size(__toks) >= n, ONE ROW PER
    DOCUMENT — like the rest of the dedup module, doc_id is the unique
    document key (duplicate-id inputs corrupt both the per-hash doc
    count, which is per-row since the r12 row-local rewrite, and the
    per-doc span windows, which would merge across the copies).
    Returns one row per merged span: (doc_id, s, e, __nwin) where s/e
    are the 1-based first/last covered token positions (e = last
    window pos + n - 1) and __nwin the number of hit windows merged
    into the span.
    """
    wins = (base.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n)))
                .alias("wh")))).alias("w"))
        .select("doc_id", "w.pos", "w.wh"))
    # Distinct-per-doc window hashes fold ROW-LOCALLY (array_distinct on
    # the per-document hash array) before the explode, so the first
    # phase of the distinct count never shuffles: groupBy(wh) counts
    # documents directly, map-side combinable (r12, guide §2.4 — the
    # old groupBy(wh, doc_id) first phase shuffled every window
    # occurrence; doc-locality makes that exchange redundant).  The
    # hash transform is re-derived rather than reused from ``wins``:
    # the unpersisted lineage was recomputed under this subtree either
    # way, and the distinct array is strictly smaller than the
    # positioned rows.
    dwh = base.select(F.explode(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n))))))
        .alias("wh"))
    dup = (dwh.groupBy("wh").agg(F.count("*").alias("__nd"))
           .filter(F.col("__nd") >= min_docs)
           .select("wh"))
    hits = wins.join(dup, "wh")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    return (hits
            .withColumn("__new", F.when(
                F.col("pos") - F.lag("pos").over(wdoc) <= n, 0)
                .otherwise(1))
            .withColumn("__sid", F.sum("__new").over(wdoc))
            .groupBy("doc_id", "__sid")
            .agg(F.min("pos").alias("s"),
                 (F.max("pos") + (n - 1)).alias("e"),
                 F.count("*").alias("__nwin"))
            .select("doc_id", "s", "e", "__nwin"))


def repeated_spans(df: DataFrame, n: int = 8,
                   min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-substring detection (the exact-substring
    dedup signal of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): find every length-``n`` token window that
    occurs in at least ``min_docs`` distinct documents, merge a
    document's hit windows into maximal token spans, and report per-doc
    repetition coverage.  Production pipelines CUT the spans; this
    operator reports them (cutting is a trivial downstream slice once
    spans are known, and the statistics drive the keep/cut threshold).

    Returns one row per document with >= n tokens: doc_id, n_tokens,
    n_windows, n_shared_windows, n_spans, repeated_token_frac.

    Scale shape: windows are one explode (one row per token, same
    volume as tokenization); the duplicated-window set comes from an
    explicit TWO-PHASE distinct count — groupBy(window_hash, doc) then
    groupBy(window_hash) — both map-side combinable, never a
    count_distinct expand.  The hit join is keyed by the window hash
    (AQE skew-split handles boilerplate floods; the build side is one
    row per duplicated hash).  Span merging is a per-document window
    over hit positions — bounded by document length, never corpus-wide.
    Windows at positions p < q merge into one span when q - p <= n
    (token ranges overlap or touch); span token length =
    last_pos + n - first_pos.
    """
    toks = tokens(F.col("text"))
    base = (df.select(F.col("doc_id"), toks.alias("__toks"))
            .filter(F.size("__toks") >= n))
    spans = _merged_spans(base, n, min_docs)
    agg = (spans.groupBy("doc_id")
           .agg(F.count("*").alias("n_spans"),
                F.sum("__nwin").alias("n_shared_windows"),
                # span token length = e - s + 1
                F.sum(F.col("e") - F.col("s") + 1).alias("__rep_toks")))
    return (base.select("doc_id", F.size("__toks").alias("n_tokens"),
                        (F.size("__toks") - (n - 1)).alias("n_windows"))
            .join(agg, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_windows",
                    F.coalesce("n_shared_windows", F.lit(0))
                    .alias("n_shared_windows"),
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.round(F.coalesce(F.col("__rep_toks"), F.lit(0)) /
                            F.col("n_tokens"), 6)
                    .alias("repeated_token_frac")))


def apply_dedup(df: DataFrame, clusters: DataFrame) -> DataFrame:
    """Materialize a dedup decision: keep each cluster's canonical
    document, dropping the rest, and report how many duplicates each
    survivor absorbed.  ``clusters`` is duplicate_clusters' output
    (doc_id, canonical_id).

    One broadcast-able aggregation of the cluster map (rows = corpus,
    but two-long columns; at 100 TB this is the id-join shape, the
    text never moves until the final survivor join).
    """
    absorbed = (clusters.groupBy("canonical_id")
                .agg((F.count("*") - 1).alias("n_duplicates_removed")))
    survivors = (clusters
                 .filter(F.col("doc_id") == F.col("canonical_id"))
                 .select("doc_id"))
    return (df.join(survivors, "doc_id")
            .join(absorbed,
                  df["doc_id"] == absorbed["canonical_id"])
            .drop("canonical_id"))


def incremental_dedup(batch: DataFrame, corpus: DataFrame,
                      min_jaccard: float = 0.5,
                      max_bucket: int | None = None) -> DataFrame:
    """Incremental (cross-batch) dedup: admit the NEW-batch documents
    that duplicate neither the existing corpus nor an earlier batch
    document — the production shape where a crawl lands daily against
    a corpus that is already deduplicated.

    Rules (greedy first-come-first-kept, the standard MinHashLSH
    incremental policy):

    1. exact: batch docs collapse to one representative per content
       hash (min id); representatives whose hash already exists in the
       corpus are rejected.
    2. near: the surviving representatives join the corpus in ONE
       shingle->MinHash->LSH->Jaccard pass; a batch doc is rejected if
       it verifies (jaccard >= ``min_jaccard``) against ANY corpus doc
       or any smaller-id batch doc — even one that is itself rejected
       (greedy order-dependence, documented; transitive clustering is
       :func:`near_dup_clusters`' job for the full-corpus pass).

    Scale posture: both sides band in the same map-only pass, and the
    LSH band join + candidate-restricted verification touch corpus rows
    only where buckets collide.  Requires disjoint id spaces between
    batch and corpus: ids are the only pair labels, and since the r12
    per-row banding each side folds its own signature — an id on BOTH
    sides would band as two independent documents while the Jaccard
    verify merged its shingles, so candidate generation and
    verification would disagree on that (out-of-contract) id.

    Returns admitted batch representatives: (doc_id, n_copies) where
    n_copies counts the batch-internal exact-duplicate group.
    """
    bh = batch.select(F.col("doc_id"),
                      F.col("text").alias("__text"),
                      F.coalesce(F.md5(F.col("text")), F.lit("-"))
                      .alias("__h"))
    reps = bh.groupBy("__h").agg(F.min("doc_id").alias("doc_id"),
                                 F.count("*").alias("n_copies"))
    ch = (corpus.select(F.coalesce(F.md5(F.col("text")), F.lit("-"))
                        .alias("__h")).distinct())
    surv0 = reps.join(ch, "__h", "left_anti").select("doc_id", "n_copies")
    surv0_text = surv0.join(bh.select("doc_id", "__text"), "doc_id")
    batch_arrs = shingle_arrays(surv0_text, text_col="__text")
    # exact-collapse the corpus to one representative per content hash
    # before shingling.  A production corpus is already deduplicated
    # (no-op); a degenerate corpus with byte-identical clones would
    # otherwise flood the LSH buckets AND square each shingle's
    # document frequency in the Jaccard verify (the dd13 failure
    # class).  Decision-invariant: identical texts have identical
    # signatures and identical jaccard against any batch doc, so the
    # batch rejection set is unchanged.
    # groupBy + min(struct), not a window: the collapse exists for
    # clone-flooded corpora, where map-side partial aggregation shrinks
    # each partition to its distinct hashes BEFORE the shuffle — a
    # window would shuffle and sort every clone row.  doc_id is unique,
    # so struct ordering (doc_id first) picks the same min-id
    # representative.
    creps = (corpus.select(F.col("doc_id"),
                           F.col("text").alias("__text"),
                           F.coalesce(F.md5(F.col("text")),
                                      F.lit("-")).alias("__ch"))
             .groupBy("__ch")
             .agg(F.min(F.struct("doc_id", "__text")).alias("__r"))
             .select(F.col("__r.doc_id").alias("doc_id"),
                     F.col("__r.__text").alias("__text")))
    corpus_arrs = shingle_arrays(creps, text_col="__text")
    arrs = corpus_arrs.unionByName(batch_arrs)
    cands = lsh_candidate_pairs_arrays(arrs, max_bucket=max_bucket)
    pairs = (jaccard_pairs(exploded_shingles(arrs), min_jaccard=min_jaccard,
                           candidates=cands)
             .select("doc_a", "doc_b"))
    batch_ids = surv0.select("doc_id")
    # pair (a, b) has a < b: b rejected whenever b is a batch doc
    # (a is corpus or an earlier batch doc); a rejected when a is a
    # batch doc near-matching a corpus doc b.  Both rules evaluate in
    # ONE consumption of the pairs plan (the whole LSH -> jaccard
    # pipeline) — the two-branch semi-join formulation executed it
    # twice (the dedup-edge/cand_docs lesson).
    flag_b = (batch_ids.select(F.col("doc_id").alias("doc_b"))
              .withColumn("__in_b", F.lit(1)))
    flag_a = (batch_ids.select(F.col("doc_id").alias("doc_a"))
              .withColumn("__in_a", F.lit(1)))
    rejected = (pairs.join(flag_b, "doc_b", "left")
                .join(flag_a, "doc_a", "left")
                .select(F.when(F.col("__in_b") == 1, F.col("doc_b"))
                        .when(F.col("__in_a") == 1, F.col("doc_a"))
                        .alias("doc_id"))
                .filter(F.col("doc_id").isNotNull())
                .distinct())
    return surv0.join(rejected, "doc_id", "left_anti")


def cut_repeated_spans(df: DataFrame, n: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2021):
    rebuild each document's token stream with every cross-document
    repeated span (as found by :func:`repeated_spans`, same window /
    merge semantics) removed.  Output text is the canonical
    space-joined token stream — the tokenized view this engine
    dedups in, not the raw bytes.

    Plan shape: identical to repeated_spans up to the merged spans,
    which then collect into a PER-DOC span array (bounded by document
    length) and join back — token filtering is a codegen
    exists()-over-array per token, O(tokens * spans_per_doc), no
    further shuffle.  Returns (doc_id, n_kept, clean_text) for every
    non-NULL-text document; documents shorter than ``n`` tokens keep
    everything.
    """
    toks = tokens(F.col("text"))
    base = (df.filter(F.col("text").isNotNull())
            .select(F.col("doc_id"), toks.alias("__toks")))
    eligible = base.filter(F.size("__toks") >= n)
    spansd = (_merged_spans(eligible, n, min_docs)
              .groupBy("doc_id")
              .agg(F.collect_list(F.struct("s", "e")).alias("__spans")))
    joined = base.join(spansd, "doc_id", "left").withColumn(
        "__spans", F.coalesce(
            "__spans", F.array().cast("array<struct<s:long,e:long>>")))
    # sequence(1, 0) counts DOWN for zero-token docs (the hazard
    # shingle_arrays filters short docs for) and element_at(toks, 0)
    # then throws — letters-free documents keep an explicitly empty
    # token list
    kept = F.when(F.size("__toks") < 1, F.array().cast(
        "array<struct<i:int,t:string>>")).otherwise(F.filter(
            F.transform(F.sequence(F.lit(1), F.size("__toks")),
                        lambda i: F.struct(
                            i.alias("i"),
                            F.element_at("__toks", i).alias("t"))),
            lambda p: ~F.exists(
                "__spans",
                lambda s: (p["i"] >= s["s"]) & (p["i"] <= s["e"]))))
    return joined.select(
        "doc_id",
        F.size(kept).alias("n_kept"),
        F.concat_ws(" ", F.transform(kept, lambda p: p["t"]))
        .alias("clean_text"))
