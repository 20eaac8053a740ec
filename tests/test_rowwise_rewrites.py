"""Law tests for the round-12 map-only (zero-shuffle) rewrites: the
per-row forms of with_repetition_stats / simhash / MinHash-LSH banding
must produce bit-identical values to the explode+groupBy pipelines they
replaced (same md5-substring hash family, same arithmetic, same
rounding), and their plans must actually be shuffle-free.

The old pipeline shapes are reconstructed INLINE here (frozen copies of
the r11 implementations) so the equivalence is against the exact
semantics that passed 11 rounds of oracle gates, not against whatever
the current module happens to compute.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_facts import plan_facts


@pytest.fixture(scope="module")
def docs(spark):
    # short docs, long docs, heavy repetition, empty text, NULL text,
    # single token, unicode/non-letter noise, exact clones
    rows = [
        (0, "alpha beta gamma alpha beta gamma alpha beta"),
        (1, "the quick brown fox jumps over the lazy dog the quick"),
        (2, ""),
        (3, None),
        (4, "single"),
        (5, "x y"),
        (6, "a a a a a a a a a a a a"),
        (7, "Zebra! zebra? ZEBRA... 123 zebra"),
        (8, "alpha beta gamma alpha beta gamma alpha beta"),   # clone of 0
        (9, "unique words only here today friend"),
        (10, "b c d e f g h i j k l m n o p q r s t u v w"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_matches_grouped_form(spark, docs):
    from cantera_table_spark.functions.text import (tokens,
                                                    with_repetition_stats)
    # frozen r11 pipeline: explode k=1..3 -> groupBy(doc,k,gram) ->
    # groupBy(doc) conditional aggregates -> left join
    toks = tokens(F.col("text"))
    k = F.col("k")
    counts = (docs.select("doc_id", toks.alias("__toks"))
              .select("doc_id", "__toks",
                      F.explode(F.sequence(F.lit(1), F.lit(3))).alias("k"))
              .filter(F.size("__toks") >= k)
              .select("doc_id", "k",
                      F.explode(F.transform(
                          F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
                          lambda i: F.concat_ws(
                              " ", F.slice(F.col("__toks"), i, k))))
                      .alias("gram"))
              .groupBy("doc_id", "k", "gram").count())
    agg = (counts.groupBy("doc_id").agg(
        F.sum(F.when(k == 1, F.col("count"))).alias("tot1"),
        F.count(F.when(k == 1, True)).alias("dist1"),
        F.sum(F.when(k == 2, F.col("count"))).alias("tot2"),
        F.max(F.when(k == 2, F.col("count"))).alias("mx2"),
        F.sum(F.when(k == 3, F.col("count"))).alias("tot3"),
        F.max(F.when(k == 3, F.col("count"))).alias("mx3")))
    frac = lambda num, den: F.round(  # noqa: E731
        F.coalesce(num / F.col(den), F.lit(0.0)), 6)
    old = (docs.join(agg, "doc_id", "left")
           .withColumn("dup_token_frac",
                       frac(F.col("tot1") - F.col("dist1"), "tot1"))
           .withColumn("top_bigram_frac", frac(F.col("mx2"), "tot2"))
           .withColumn("top_trigram_frac", frac(F.col("mx3"), "tot3"))
           .drop("tot1", "dist1", "tot2", "mx2", "tot3", "mx3"))
    exp = {r["doc_id"]: r.asDict() for r in old.collect()}

    out = with_repetition_stats(docs)
    assert out.columns == ["doc_id", "text", "dup_token_frac",
                           "top_bigram_frac", "top_trigram_frac"]
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert got == exp

    facts = plan_facts(out)
    assert facts.n_shuffles == 0, facts.text
    assert "Exchange" not in facts.text


def test_simhash_matches_grouped_form(spark, docs):
    from cantera_table_spark.functions.dedup import md5_int, simhash
    bits = 32
    toksrc = (docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.filter(
            F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")))
        .alias("tok"))
        .withColumn("x", md5_int(F.col("tok"))))
    sums = toksrc.groupBy("doc_id").agg(*[
        F.sum(F.shiftright(F.col("x"), b) % 2 * 2 - 1).alias(f"b{b}")
        for b in range(bits)])
    expr = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")) \
                .otherwise(F.lit(0))
        expr = term if expr is None else expr + term
    exp = {r["doc_id"]: r["simhash"]
           for r in sums.select("doc_id", expr.alias("simhash")).collect()}

    out = simhash(docs)
    got = {r["doc_id"]: r["simhash"] for r in out.collect()}
    assert got == exp
    # the grouped form dropped token-less docs; the per-row form must too
    assert set(got) == {0, 1, 4, 5, 6, 7, 8, 9, 10}

    facts = plan_facts(out)
    assert facts.n_shuffles == 0, facts.text


def _frozen_shingles(df, n=3):
    """r11 shingles: one explode of the distinct n-gram array."""
    from cantera_table_spark.functions.text import tokens
    return (df.select("doc_id", tokens(F.col("text")).alias("__toks"))
            .filter(F.size("__toks") >= n)
            .select("doc_id",
                    F.explode(F.array_distinct(F.transform(
                        F.sequence(F.lit(1),
                                   F.size("__toks") - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"),
                                                           i, n)))))
                    .alias("shingle")))


def _frozen_signatures(sh, k=16):
    """r11 MinHash signatures: one groupBy over exploded shingles."""
    from cantera_table_spark.functions.dedup import MINHASH_PRIME, md5_int
    hashed = sh.withColumn("__x", md5_int(F.col("shingle")))
    aggs = [F.min(((2 * i + 1) * F.col("__x") + 12345 * i + 1)
                  % MINHASH_PRIME).alias(f"s{i}") for i in range(k)]
    wide = hashed.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{i}, s{i}" for i in range(k))
    return wide.select(
        "doc_id", F.expr(f"stack({k}, {stack}) AS (h_idx, sig)"))


def _frozen_banded(sigs, k=16, bands=4):
    """r11 banding: groupBy(doc_id, band) over long-form signatures."""
    rows = k // bands
    return (sigs.withColumn("band", (F.col("h_idx") / rows).cast("int"))
            .groupBy("doc_id", "band")
            .agg(F.md5(F.concat_ws(",", F.sort_array(
                F.collect_list(F.concat_ws(":", "h_idx", "sig")))))
                .alias("band_hash")))


def test_minhash_rows_and_band_hashes_match_grouped_form(spark, docs):
    from cantera_table_spark.functions.dedup import (
        lsh_band_hashes, minhash_signature_rows, shingle_arrays)
    sh = _frozen_shingles(docs)
    exp_sigs = {(r["doc_id"], r["h_idx"]): r["sig"]
                for r in _frozen_signatures(sh).collect()}
    exp_bands = {(r["doc_id"], r["band"]): r["band_hash"]
                 for r in _frozen_banded(_frozen_signatures(sh)).collect()}

    arrs = shingle_arrays(docs)
    got_sigs = {(r["doc_id"], r["h_idx"]): r["sig"]
                for r in minhash_signature_rows(arrs).collect()}
    got_bands = {(r["doc_id"], r["band"]): r["band_hash"]
                 for r in lsh_band_hashes(arrs).collect()}
    assert got_sigs == exp_sigs
    assert got_bands == exp_bands
    assert len(exp_sigs) > 0 and len(exp_bands) > 0

    for df in (minhash_signature_rows(arrs), lsh_band_hashes(arrs)):
        facts = plan_facts(df)
        assert facts.n_shuffles == 0, facts.text


def test_shingle_arrays_explode_equals_shingles(spark, docs):
    from cantera_table_spark.functions.dedup import shingle_arrays, shingles
    exp = sorted((r["doc_id"], r["shingle"])
                 for r in _frozen_shingles(docs).collect())
    assert sorted((r["doc_id"], r["shingle"])
                  for r in shingles(docs).collect()) == exp
    got = sorted((r["doc_id"], s)
                 for r in shingle_arrays(docs).collect()
                 for s in r["__shingles"])
    assert got == exp


def test_array_lsh_candidate_pairs_match_sig_path(spark, docs):
    """The pair expansion over the frozen r11 signature banding must
    equal the array pipeline's candidates, with and without the
    max_bucket=1 hot-bucket star fallback."""
    from cantera_table_spark.functions.dedup import (
        _bucketed_pairs, lsh_candidate_pairs_arrays, shingle_arrays)
    frozen = _frozen_banded(_frozen_signatures(_frozen_shingles(docs)))
    for max_bucket in (None, 1):
        exp = {(r["doc_a"], r["doc_b"]) for r in _bucketed_pairs(
            frozen, ["band", "band_hash"], "doc_id", max_bucket).collect()}
        got = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs_arrays(
            shingle_arrays(docs), k=16, bands=4,
            max_bucket=max_bucket).collect()}
        assert got == exp, max_bucket
        assert len(exp) > 0  # the clone pair (0, 8) at minimum


@pytest.mark.parametrize("k,bands", [(16, 0), (16, -4), (0, 4)])
def test_lsh_band_hashes_rejects_non_positive_k_and_bands(spark, docs, k,
                                                           bands):
    from cantera_table_spark.functions.dedup import (lsh_band_hashes,
                                                     shingle_arrays)
    with pytest.raises(ValueError, match="positive"):
        lsh_band_hashes(shingle_arrays(docs), k=k, bands=bands)
