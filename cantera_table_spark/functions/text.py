"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting.  Everything is
built from JVM-side column expressions (no Python row UDFs) so the hot
path stays inside whole-stage codegen and scales linearly with
partitions; each helper has an exact DuckDB-SQL equivalent used by the
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cantera_table_spark.session import CacheScope

FINGERPRINT_MOD = 1_000_000_007

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language ID.  Real pipelines plug in fastText & co; the operator shape
# (broadcast list -> ratio -> argmax) is what matters at scale.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "que"],
}


def tokens(col: Column) -> Column:
    """Canonical tokenization: lowercase, split on non-letters, drop
    empties.  DuckDB equivalent:
    list_filter(regexp_split_to_array(lower(x), '[^a-z]+'), x -> x <> '')
    """
    return F.filter(F.split(F.lower(col), "[^a-z]+"), lambda x: x != "")


def with_text_stats(df: DataFrame) -> DataFrame:
    """Quality-scoring features per document."""
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    total_len = F.aggregate(toks, F.lit(0),
                            lambda acc, x: acc + F.length(x))
    n_chars = F.length(F.col("text"))
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(
        F.col("text"), "[^.,;:!?'\"()\\[\\]-]", ""))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return (df
            .withColumn("n_tokens", n_tok)
            .withColumn("n_unique_tokens", n_uniq)
            .withColumn("type_token_ratio",
                        F.round(n_uniq / F.greatest(n_tok, F.lit(1)), 4))
            .withColumn("avg_token_len",
                        F.round(total_len / F.greatest(n_tok, F.lit(1)), 4))
            .withColumn("alpha_ratio",
                        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4))
            .withColumn("punct_ratio",
                        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4))
            .withColumn("stopword_ratio",
                        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 4)))


def with_token_counts(df: DataFrame) -> DataFrame:
    """Token counting: whitespace words and a BPE-ish sub-word regex
    (letter runs, digit runs, single punctuation — an approximation of
    byte-pair pre-tokenization)."""
    ws = F.size(F.filter(F.split(F.col("text"), "\\s+"),
                         lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all(
        F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), 0))
    return (df.withColumn("n_words", ws)
            .withColumn("n_bpe_tokens", bpe))


def with_lang_id(df: DataFrame) -> DataFrame:
    """Stopword-overlap language ID: ratio of tokens in each language's
    stopword list; argmax wins, 'und' (undetermined) when all ratios are
    zero.  Deterministic tie-break: the lexicographically GREATEST
    language name wins (struct array_max ordering; the gate oracle
    mirrors it with ORDER BY ratio DESC, lang DESC)."""
    toks = tokens(F.col("text"))
    n_tok = F.greatest(F.size(toks), F.lit(1))
    ratios = []
    for lang in sorted(STOPWORDS):
        sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
        r = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / n_tok
        ratios.append(F.struct(F.round(r, 6).alias("ratio"),
                               F.lit(lang).alias("lang")))
    # array_max on structs: (ratio, lang) lexicographic -> highest ratio,
    # tie -> lexicographically greatest lang; invert lang for asc
    # tie-break is overkill here, document the greatest-lang rule instead.
    best = F.array_max(F.array(*ratios))
    return (df.withColumn("lang_ratio", best["ratio"])
            .withColumn("pred_lang",
                        F.when(best["ratio"] > 0, best["lang"])
                        .otherwise(F.lit("und"))))


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint over token lengths — a cheap
    shift-resistant signature (polynomial accumulate mod 1e9+7).
    DuckDB equivalent: list_reduce over the same token array.
    NULL text yields a NULL fingerprint (unknown, distinct from the
    empty string's 0) — the oracle carries the same CASE."""
    toks = tokens(F.col("text"))
    fp = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.length(x)) % FINGERPRINT_MOD)
    return df.withColumn("fingerprint", fp)


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array = the
    count of its most frequent element.  One left fold; the accumulator
    is a bound lambda variable, so nothing re-inlines (the FoldRecompute
    class).  0 for an empty array."""
    return F.aggregate(
        sorted_arr,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("mx")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(acc["mx"],
                       F.when(g == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1).cast("long"))).alias("mx")),
        lambda acc: acc["mx"])


def with_repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1):
    per document, the duplicate-token fraction and the fraction of all
    n-grams claimed by the single most frequent n-gram (n = 2, 3).
    Highly repetitive documents (boilerplate, keyword stuffing, decode
    loops) score high and are filtered before pretraining.

    Scale shape (r12): a pure map — ZERO shuffles, zero row explosion.
    Every signal is a per-document function of the token stream, so the
    n-gram frequency tables never need to leave the row: the most
    frequent n-gram's count is the longest equal-run in the SORTED
    per-row gram array (O(L log L) per row, never the O(L^2) per-row
    self-scan), and the duplicate-token fraction is 1 - distinct/total.
    The r11 shape exploded every 1..3-gram into rows and paid two
    corpus-scale shuffles (groupBy(doc, k, gram) + groupBy(doc)) to
    compute the same per-doc numbers; at 100 TB those shuffles moved
    every gram string across the network twice for a decision that is
    local to the document.  Values are bit-identical for unique-id
    inputs (pinned by tests/test_rowwise_rewrites.py); stats are now
    per ROW, which only differs if the same doc_id carries different
    texts on different rows — a shape the grouped form silently merged
    and no oracle fixture produces.

    Evaluation-once discipline: the token array and the gram arrays are
    materialized behind explode(array(...)) Generate barriers; inline
    expressions would be re-inlined once per consuming column by
    CollapseProject (3x the tokenize).

    Returns the input columns plus dup_token_frac / top_bigram_frac /
    top_trigram_frac (0.0 for documents too short to form the gram).
    """
    cols = df.columns
    # the three output names clash too: the r11 withColumn replaced an
    # existing column of the same name, the r12 select would duplicate
    # it (r12 ADVICE)
    clash = [c for c in cols
             if c in ("__toks", "__g", "dup_token_frac",
                      "top_bigram_frac", "top_trigram_frac")]
    if clash:
        raise ValueError(
            f"input columns collide with repetition internals or "
            f"outputs: {clash}")
    base = df.select("*", F.explode(F.array(tokens(F.col("text"))))
                     .alias("__toks"))

    def grams(k: int) -> Column:
        return F.when(F.size("__toks") >= k, F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, k)))) \
            .otherwise(F.array().cast("array<string>"))

    g = base.select("*", F.explode(F.array(F.struct(
        grams(2).alias("g2"), grams(3).alias("g3")))).alias("__g"))

    def frac(num: Column, den: Column) -> Column:
        # short/NULL docs: the r11 left-join form yielded NULL -> 0.0
        return F.when(den >= 1, F.round(num / den, 6)).otherwise(F.lit(0.0))

    n_toks = F.size("__toks")
    return g.select(
        *cols,
        frac(n_toks - F.size(F.array_distinct("__toks")), n_toks)
        .alias("dup_token_frac"),
        frac(_max_run(F.array_sort("__g.g2")), F.size("__g.g2"))
        .alias("top_bigram_frac"),
        frac(_max_run(F.array_sort("__g.g3")), F.size("__g.g3"))
        .alias("top_trigram_frac"))


# PII patterns restricted to syntax both Java regex (Spark) and RE2
# (DuckDB oracle) implement identically: char classes, bounded repeats,
# \b, \d.  Real pipelines swap in richer (case-insensitive, unicode)
# patterns; the operator shape — count + replace, one codegen'd scan,
# zero shuffles — is what matters at 100 TB.
PII_PATTERNS = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone": "\\+\\d{1,2} \\d{3} \\d{4}",
}
PII_REPLACEMENTS = {"email": "<EMAIL>", "ipv4": "<IP>", "phone": "<PHONE>"}


def with_pii_stats(df: DataFrame) -> DataFrame:
    """Per-document PII match counts (n_email, n_ipv4, n_phone)."""
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)))
    return out


def scrub_pii(df: DataFrame) -> DataFrame:
    """Redact PII spans with typed placeholder tokens.  Replacement
    order is fixed (email, ipv4, phone) so placeholder text can never
    be re-matched by a later pattern."""
    col = F.col("text")
    for name, pat in PII_PATTERNS.items():
        col = F.regexp_replace(col, pat, PII_REPLACEMENTS[name])
    return df.withColumn("text_clean", col)


def quality_filter(df: DataFrame, min_tokens: int = 10) -> DataFrame:
    """Training-corpus quality gate: keep documents passing all
    heuristic thresholds (the filter stage a pretraining pipeline runs
    after dedup).  Pure column predicates over with_text_stats — one
    scan, no shuffle."""
    stats = with_text_stats(df)
    return (stats.filter(
        (F.col("n_tokens") >= min_tokens) &
        (F.col("punct_ratio") <= 0.2) &
        (F.col("alpha_ratio") >= 0.6) &
        (F.col("type_token_ratio") >= 0.1)))


def dedup_lines(df: DataFrame) -> DataFrame:
    """Corpus-wide line-level deduplication (the C4 / RefinedWeb "remove
    repeated lines" stage): across the WHOLE corpus, every non-blank
    line (matched on its trimmed form) is kept only at its first
    occurrence in (doc_id, position) order; later occurrences are
    dropped and the documents are reassembled from their surviving
    lines.  Blank lines are structural and never deduplicated.

    Scale shape: the first-occurrence winner per line is computed with
    ``min(struct(doc_id, pos))`` — an aggregation with map-side partial
    combine, so a boilerplate line repeated a billion times collapses
    per input partition before the shuffle (a window
    ``row_number() over (partition by line)`` would funnel every copy
    of a hot line through one task; the aggregation form is the one
    that survives skew).  The line pipeline is consumed ONCE: the
    winners join flags each line instead of filtering, and one
    groupBy(doc_id) produces both the total and the surviving text
    (the earlier totals/kept two-branch form re-scanned and
    re-exploded the corpus — r10 review finding).

    Returns one row per input document: doc_id, n_lines, n_removed,
    and text (the deduplicated text; empty string when every line was
    removed).  NULL-text documents are preserved with n_lines 0 and a
    NULL text (the NULL-stats convention —
    previously they were silently dropped, r10 review finding).
    """
    lines = df.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"))
    keyed = lines.withColumn("key", F.trim("line"))
    winners = (keyed.filter(F.col("key") != "")
               .groupBy("key")
               .agg(F.min(F.struct(F.col("doc_id").alias("d"),
                                   F.col("pos").alias("p"))).alias("w")))
    keep_flag = ((F.col("key") == "") |
                 ((F.col("w.d") == F.col("doc_id")) &
                  (F.col("w.p") == F.col("pos"))))
    # collect_list skips NULL entries, so the conditional struct keeps
    # only surviving lines while count(*) still sees every line
    kept = (keyed.join(winners, "key", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.count(F.when(keep_flag, 1)).alias("__n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep_flag,
                                    F.struct("pos", "line")))),
                         lambda s: s["line"]),
                     "\n").alias("__text")))
    return (df.select("doc_id")
            .join(kept, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                    (F.coalesce("n_lines", F.lit(0)) -
                     F.coalesce("__n_kept", F.lit(0))).alias("n_removed"),
                    F.col("__text").alias("text")))


def lm_quality_score(df: DataFrame) -> DataFrame:
    """Bigram language-model quality score (the CCNet / KenLM-shaped
    perplexity filter): train add-one-smoothed bigram statistics on the
    corpus itself, then score every document by its average negative
    log-likelihood per bigram.  Low-probability documents (gibberish,
    OCR noise, wrong-language text) score high and are filtered or
    bucketed before pretraining.

      logp(w1 w2) = ln( (c(w1 w2) + 1) / (c(w1) + V) )
      avg_nll(doc) = -mean over the document's bigrams
      ppl(doc)     = exp(avg_nll)

    where c() are corpus counts and V the corpus vocabulary size.

    Scale shape: both count tables come from map-side-combinable
    aggregations; scoring joins the exploded doc bigrams to the bigram
    counts (shuffle keyed by the bigram — pre-aggregated, so the build
    side is the distinct-bigram table, not the corpus) and to the
    unigram counts.  Everything stays in whole-stage codegen — no
    Python.  A production run would threshold the LM to top-K vocab
    with an OOV bucket to bound the count-table size; at the fixture
    scale the untruncated LM is exact and SQL-mirrorable.

    Documents with fewer than two tokens have no bigrams: n_bigrams=0,
    avg_nll/ppl NULL.
    """
    toks = tokens(F.col("text"))
    base = df.select("doc_id", toks.alias("__toks"))
    big = (base.filter(F.size("__toks") >= 2)
           .select("doc_id",
                   F.explode(F.transform(
                       F.sequence(F.lit(1), F.size("__toks") - 1),
                       lambda i: F.struct(
                           F.get(F.col("__toks"), i - 1).alias("w1"),
                           F.get(F.col("__toks"), i).alias("w2"))))
                   .alias("b"))
           .select("doc_id", "b.w1", "b.w2"))
    uni = (base.select(F.explode("__toks").alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("c1")))
    # vocabulary size as a broadcast one-row aggregate, not a driver
    # .count() action — the whole score stays one lazy plan
    vocab = uni.agg(F.count("*").cast("double").alias("__V"))
    # Score DISTINCT bigrams, not occurrences (r12, guide §2.3/§3.2):
    # per-(doc, bigram) counts fold map-side first (doc bigrams are
    # row-local, so each doc collapses before its shuffle), the corpus
    # count table sums those, and the unigram/vocab joins run at
    # distinct-bigram scale.  The r11 shape joined the RAW exploded
    # occurrences to c12 and to uni — two occurrence-scale shuffle
    # participations at real scale (locally AQE broadcasts the count
    # tables, but a 100 TB vocabulary does not fit an executor).  The
    # per-doc mean becomes the count-weighted mean over distinct
    # bigrams — algebraically identical.
    db = big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("__n"))
    c12 = db.groupBy("w1", "w2").agg(F.sum("__n").alias("c12"))
    bscore = (c12
              .join(uni, "w1")
              .crossJoin(F.broadcast(vocab))
              .select("w1", "w2",
                      (F.log((F.col("c12") + 1) /
                             (F.col("c1") + F.col("__V"))))
                      .alias("logp")))
    mean_logp = F.sum(F.col("__n") * F.col("logp")) / F.sum("__n")
    agg = (db.join(bscore, ["w1", "w2"])
           .groupBy("doc_id")
           .agg(F.sum("__n").alias("n_bigrams"),
                F.round(-mean_logp, 6).alias("avg_nll"),
                F.round(F.exp(-mean_logp), 4).alias("ppl")))
    return (df.select("doc_id").join(agg, "doc_id", "left")
            .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0))))


def corpus_token_stats(df: DataFrame, *,
                       caches: CacheScope) -> DataFrame:
    """Corpus-level vocabulary statistics: per token, document frequency
    and total term frequency with a unique frequency rank (ties broken
    by token; Zipf check / stop-word candidates).

    The rank is computed distributed (range partition + per-partition
    numbering + start offsets, operators.ordering.global_row_number):
    the (term_freq, tok) order is total, so the numbering is unique and
    deterministic, and no single task ever sorts the whole vocabulary —
    web-scale vocabularies (shingled / byte-level tokens) exceed
    single-task memory.  The numbering input is local-checkpointed in
    ``caches`` for the caller to release once the result is consumed."""
    tok = df.select(F.col("doc_id"),
                    F.explode(tokens(F.col("text"))).alias("tok"))
    agg = (tok.groupBy("tok")
           .agg(F.countDistinct("doc_id").alias("doc_freq"),
                F.count("*").alias("term_freq")))
    from cantera_table_spark.operators.ordering import global_row_number
    # caches: the groupBy output is nondeterministically ordered, so
    # the numbering must not depend on ReuseExchange (ordering.py module
    # docstring) — the vocabulary table is post-aggregation and small
    # relative to the corpus, so the checkpoint copy is cheap.
    return (global_row_number(agg, F.col("term_freq").desc(),
                              F.col("tok").asc(), col_name="rank",
                              caches=caches))


def bpe_pair_stats(df: DataFrame) -> DataFrame:
    """The core aggregation of byte-pair-encoding tokenizer training:
    corpus-weighted adjacent-symbol pair frequencies at the character
    level.  One training round picks the argmax pair and merges it;
    this operator produces the ranked pair table that drives the pick
    (run it per round; the merge itself is a regex rewrite of the
    word-frequency table, which is vocabulary-sized, not corpus-sized).

    Scale shape: the corpus collapses to the word-frequency table
    FIRST (one map-side-combinable groupBy over tokenized words — the
    classic BPE trick: all later work is O(vocabulary), not O(corpus));
    pair explosion and the weighted pair count then run over distinct
    words only.  Everything is JVM column expressions.

    Returns (pair, pair_count) — weight = total corpus occurrences.
    """
    words = (df.select(F.explode(tokens(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("freq")))
    chars = F.split(F.col("w"), "")
    pairs = (words
             .filter(F.length("w") >= 2)
             .select("freq",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.length("w") - 1),
                         lambda i: F.concat(F.get(chars, i - 1),
                                            F.get(chars, i))))
                     .alias("pair")))
    return (pairs.groupBy("pair")
            .agg(F.sum("freq").alias("pair_count")))


def chunk_documents(df: DataFrame, chunk_tokens: int = 256,
                    overlap: int = 32) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    embedding/RAG-side complement of sequence packing (long documents
    become multiple fixed-budget chunks; stride = chunk - overlap).

    Chunk starts are 1, 1+stride, 1+2*stride, ... while start <=
    n_tokens (so every token lands in at least one chunk; a final
    short tail chunk is kept).  Output: (doc_id, chunk_id, chunk_start,
    n_chunk_tokens, chunk_text) with chunk_id 0-based in order.

    One explode, no shuffle at all — chunking is per-row work inside
    whole-stage codegen; downstream embedding feeds from this directly.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col("text"))
    base = (df.select(F.col("doc_id"), toks.alias("__toks"))
            .filter(F.size("__toks") > 0))
    starts = F.sequence(F.lit(1), F.size("__toks"), F.lit(stride))
    return (base.select(
        "doc_id",
        F.posexplode(F.transform(
            starts,
            lambda s: F.struct(
                s.alias("start"),
                F.slice(F.col("__toks"), s, chunk_tokens).alias("c"))))
        .alias("chunk_id", "w"))
        .select("doc_id", "chunk_id",
                F.col("w.start").alias("chunk_start"),
                F.size("w.c").alias("n_chunk_tokens"),
                F.array_join("w.c", " ").alias("chunk_text")))


def ppl_buckets(df: DataFrame, caches: CacheScope | None = None) -> DataFrame:
    """CCNet-style perplexity bucketing: score the corpus with
    :func:`lm_quality_score`, then split into head / middle / tail by
    the corpus's own avg_nll terciles (head = most fluent third, the
    part CCNet keeps by default; tail = candidate discard).

    Scale shape: the cutoffs are ONE broadcast percentile row over the
    per-doc score table — not a global ntile window, which would total-
    sort every score through a single partition; bucketing is then a
    map-side CASE.  Documents without bigrams (< 2 tokens) bucket as
    'empty'.  Returns (doc_id, avg_nll, ppl_bucket).  Pass ``caches``
    (a CacheScope) to persist the per-doc score table in it for the
    caller to release; without one the table is not cached.
    """
    sc = lm_quality_score(df)
    if caches is not None:
        # the cutoff aggregate AND the bucketing both read the scored
        # table; uncached, the whole LM pipeline (corpus tokenize +
        # two aggregation shuffles) executes twice.  The score table
        # is one narrow row per doc — a funnel-narrowed frame, the
        # kind that SHOULD cache (SCALE.md negative-result note)
        sc = caches.persist(sc)
    cut = sc.agg(
        F.percentile(F.col("avg_nll"), F.lit(1.0 / 3.0)).alias("__q1"),
        F.percentile(F.col("avg_nll"), F.lit(2.0 / 3.0)).alias("__q2"))
    return (sc.crossJoin(F.broadcast(cut))
            .withColumn(
                "ppl_bucket",
                F.when(F.col("avg_nll").isNull(), F.lit("empty"))
                .when(F.col("avg_nll") <= F.col("__q1"), F.lit("head"))
                .when(F.col("avg_nll") <= F.col("__q2"), F.lit("middle"))
                .otherwise(F.lit("tail")))
            .select("doc_id", "avg_nll", "ppl_bucket"))


# the tokenizer vocab's whole words: seen at least VOCAB_MIN_COUNT
# times and at most VOCAB_MAX_PIECE_LEN letters long
VOCAB_MIN_COUNT = 20
VOCAB_MAX_PIECE_LEN = 8


def wordpiece_vocab_file(docs: DataFrame, path: str) -> str:
    """Derive and PERSIST the tokenizer vocab — the "tokenizer file"
    artifact every production tokenizer ships: frequent whole words
    (``count >= VOCAB_MIN_COUNT``, ``len <= VOCAB_MAX_PIECE_LEN``) plus
    the 26 single characters, written as a one-column parquet table
    (``piece string``).  One map-side-combinable count aggregation and
    one write job, NO driver collect — the vocab never rides the
    driver.  Idempotent: if ``path`` already holds a completed write
    (``_SUCCESS`` marker) it is reused, so repeated gate runs derive
    once and read thereafter.  A ``_params`` sidecar records
    (min_count, max_piece_len); reusing an artifact built with
    values other than the constants raises instead of silently
    encoding with the wrong vocabulary (r10 review finding).  Path
    identity IS artifact identity for the corpus (the tokenizer-file
    convention: you version the file, it is not re-derived when the
    corpus grows).
    Returns ``path``.
    """
    import os
    import string

    def _completed(p: str) -> bool:
        # the write goes through Spark's Hadoop filesystem, so the
        # idempotency probe must too — a driver-local os.path.exists
        # never sees an hdfs://, s3a://, or non-driver-local marker
        # and would re-derive + overwrite on every call (r9 review
        # finding).  Local paths resolve through the same API.
        try:
            jvm = docs.sparkSession._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = hpath.getFileSystem(
                docs.sparkSession._jsc.hadoopConfiguration())
            return bool(fs.exists(hpath))
        except Exception:
            return os.path.exists(p)

    spark = docs.sparkSession
    pdir = os.path.join(path, "_params")
    if not _completed(os.path.join(path, "_SUCCESS")):
        vdf = (docs.select(F.explode(tokens(F.col("text")))
                           .alias("piece"))
               .groupBy("piece").agg(F.count("*").alias("c"))
               .filter((F.col("c") >= VOCAB_MIN_COUNT) &
                       (F.length("piece") <= VOCAB_MAX_PIECE_LEN))
               .select("piece"))
        chars = spark.createDataFrame(
            [(c,) for c in string.ascii_lowercase], "piece string")
        (vdf.union(chars).distinct().coalesce(1)
         .write.mode("overwrite").parquet(path))
        # sidecar subdirectory: _load_vocab_pieces globs only
        # {path}/*.parquet, so the params table cannot be mistaken
        # for vocab parts
        (spark.createDataFrame(
            [(VOCAB_MIN_COUNT, VOCAB_MAX_PIECE_LEN)],
            "min_count int, max_piece_len int")
         .coalesce(1).write.mode("overwrite").parquet(pdir))
    elif _completed(os.path.join(pdir, "_SUCCESS")):
        # memoize successful verifications per process: the sidecar
        # read is a small Spark job, and re-running it on EVERY reuse
        # showed up as a measured +0.35 s on the tx17 bench phase
        # (r11 medians).  Keyed by the constants — a different value
        # against the same path must re-check and raise — and
        # guarded by the sidecar's file-listing fingerprint: if
        # another process re-derives the artifact at the same path
        # with different params mid-run, the fingerprint changes and
        # the next call re-verifies instead of silently reusing the
        # wrong vocabulary through a stale memo (r11 advisory — the
        # exact failure the mismatch guard targets).  Dict assignment
        # (not set membership) so a churning fingerprint overwrites
        # its slot instead of accumulating dead entries.
        sidecar = _sidecar_fingerprint(spark, pdir)
        memo_key = (path, VOCAB_MIN_COUNT, VOCAB_MAX_PIECE_LEN)
        if _VOCAB_PARAMS_OK.get(memo_key) != sidecar:
            row = spark.read.parquet(pdir).first()
            got = (row["min_count"], row["max_piece_len"])
            if got != (VOCAB_MIN_COUNT, VOCAB_MAX_PIECE_LEN):
                raise ValueError(
                    f"vocab artifact at {path!r} was built with "
                    f"(min_count, max_piece_len)={got}, requested "
                    f"{(VOCAB_MIN_COUNT, VOCAB_MAX_PIECE_LEN)} — use a "
                    "different path to derive a new vocabulary")
            _VOCAB_PARAMS_OK[memo_key] = sidecar
    else:
        # legacy artifact (written before the _params sidecar existed)
        # OR a torn write (killed between the vocab and sidecar jobs —
        # the sidecar cannot be written first because the vocab
        # overwrite wipes ``path`` including ``_params``): either way
        # the mismatch guard above cannot fire, which is exactly the
        # silent-wrong-vocabulary failure it targets (r10 advisory).
        # Backfilling the current constants would launder an unverified
        # assumption into a permanent record, so warn instead.
        import warnings
        warnings.warn(
            f"vocab artifact at {path!r} has no _params sidecar "
            "(written by an older version): cannot verify it was "
            f"built with (min_count, max_piece_len)="
            f"{(VOCAB_MIN_COUNT, VOCAB_MAX_PIECE_LEN)} — re-derive at a "
            "fresh path to restore the parameter-mismatch guard",
            stacklevel=2)
    return path


# process-level memo for worker-side vocab loads, keyed by the file
# list + mtimes so a rewritten artifact invalidates: without it every
# partition-task of an encode job re-reads the parquet and re-hashes
# the piece set (~shuffle-partition-count redundant loads per job)
_VOCAB_MEMO: dict = {}

# (path, min_count, max_piece_len) -> the _params sidecar fingerprint
# that was verified this process — see wordpiece_vocab_file's reuse
# branch (dict so a re-derived artifact overwrites its slot)
_VOCAB_PARAMS_OK: dict = {}


def _sidecar_fingerprint(spark, pdir: str) -> tuple:
    """(name, mtime) listing of the ``_params`` sidecar dir through the
    Hadoop FS API — a driver-local glob reads an EMPTY listing for
    hdfs:// / s3a:// artifacts, so the stale-memo invalidation would
    silently never fire on remote stores (the same r9 lesson as
    wordpiece_vocab_file's ``_completed``).  Local paths resolve
    through the same API; on any failure the driver-local fallback
    stats defensively — a file deleted between listing and stat by a
    concurrent overwrite contributes a None mtime instead of crashing
    the caller with FileNotFoundError (the fingerprint still changes,
    which is all the memo needs)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(pdir)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return tuple(sorted(
            (st.getPath().getName(), int(st.getModificationTime()))
            for st in fs.listStatus(hpath)))
    except Exception:
        import glob
        out = []
        for f in glob.glob(os.path.join(pdir, "*")):
            try:
                mt = os.path.getmtime(f)
            except OSError:
                mt = None
            out.append((os.path.basename(f), mt))
        return tuple(sorted(out, key=lambda t: t[0]))


def _load_vocab_pieces(vocab_path: str) -> list:
    """Worker-side vocab load (pyarrow, no Spark session needed): the
    kernel opens the tokenizer file exactly the way a production
    tokenizer does.  The path must be a worker-visible POSIX path
    (local FS, NFS, or a fuse-mounted artifact store) — the same
    contract as any tokenizer file a training job ships.  Raises
    ``FileNotFoundError`` when the path holds no parquet parts: an
    empty vocab would silently encode every word as [UNK], which is
    never what a caller wants (r9 review finding)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    parts = tuple(sorted(_glob.glob(f"{vocab_path}/*.parquet")))
    if not parts:
        raise FileNotFoundError(
            f"no parquet vocab parts under {vocab_path!r} — not a "
            "completed wordpiece_vocab_file artifact, or not a "
            "worker-visible POSIX path")
    key = (parts, tuple(_os.path.getmtime(f) for f in parts))
    hit = _VOCAB_MEMO.get(vocab_path)
    if hit is not None and hit[0] == key:
        return hit[1]
    pieces = [p for f in parts
              for p in pq.read_table(f).column("piece").to_pylist()]
    _VOCAB_MEMO[vocab_path] = (key, pieces)
    return pieces


def _load_vocab_set(vocab_path: str) -> tuple:
    """Memoized (frozenset, max piece length) view of the tokenizer
    file — what the encode kernel actually needs.  Cached alongside
    the piece list so repeat partition-tasks in one worker process
    skip both the parquet read and the 30-250k-piece set build."""
    _load_vocab_pieces(vocab_path)           # ensure/refresh the memo
    entry = _VOCAB_MEMO[vocab_path]
    if len(entry) == 2:                      # (key, pieces) — add view
        key, pieces = entry
        vset = frozenset(pieces)
        max_len = max((len(p) for p in pieces), default=1)
        _VOCAB_MEMO[vocab_path] = (key, pieces, vset, max_len)
    _, _, vset, max_len = _VOCAB_MEMO[vocab_path]
    return vset, max_len


def wordpiece_encode_words(words: DataFrame, vocab: list | str) -> DataFrame:
    """Greedy longest-match subword encoding of a word table (the
    application side of tokenizer training — simplified wordpiece
    without the ## continuation convention): at each position take the
    longest vocab piece matching the remaining word (ties impossible —
    lengths differ); if none matches, emit ``[UNK]`` and advance one
    character.

    The 100 TB trick is the INPUT, not the kernel: encode the DISTINCT
    word table (vocabulary-sized, like bpe_pair_stats) and join the
    corpus against the result — the corpus text itself never passes
    through Python.  The kernel is an Arrow-batched mapInPandas;
    ``vocab`` is either an in-memory piece list or the PATH of a
    persisted tokenizer file (:func:`wordpiece_vocab_file`) — with a
    path, each worker loads the artifact itself and the vocab never
    passes through the driver (tokenizer vocabularies are bounded
    artifacts — 30-250k pieces — exactly what production tokenizers
    ship as files).

    Returns (tok, pieces array<string>, n_pieces, n_unk).
    """
    import pandas as pd

    vocab_path = vocab if isinstance(vocab, str) else None
    vset, max_len = frozenset(), 1
    if vocab_path is None:
        vset = frozenset(vocab)
        max_len = max((len(p) for p in vocab), default=1)

    def encode(batches):
        if vocab_path is not None:
            _vset, _max_len = _load_vocab_set(vocab_path)
        else:
            _vset, _max_len = vset, max_len
        for pdf in batches:
            out_p, out_n, out_u = [], [], []
            for w in pdf["tok"]:
                # a NULL word cannot be encoded: NULL stats (the
                # NULL-text convention — NULL, not 0), never a kernel
                # TypeError that kills the whole encode job (r10
                # review finding; tokens() never yields NULL, so only
                # external word tables hit this)
                if w is None or (not isinstance(w, str) and pd.isna(w)):
                    out_p.append(None)
                    out_n.append(None)
                    out_u.append(None)
                    continue
                pieces = []
                n_unk = 0
                pos = 0
                while pos < len(w):
                    for l in range(min(_max_len, len(w) - pos), 0, -1):
                        cand = w[pos:pos + l]
                        if cand in _vset:
                            pieces.append(cand)
                            pos += l
                            break
                    else:
                        pieces.append("[UNK]")
                        n_unk += 1
                        pos += 1
                out_p.append(pieces)
                out_n.append(len(pieces))
                out_u.append(n_unk)
            yield pd.DataFrame({"tok": pdf["tok"], "pieces": out_p,
                                "n_pieces": out_n, "n_unk": out_u})

    return words.mapInPandas(
        encode, "tok string, pieces array<string>, "
                "n_pieces int, n_unk int")


def wordpiece_doc_stats(df: DataFrame, vocab: list | str) -> DataFrame:
    """Per-document subword statistics under a fixed tokenizer vocab
    (an in-memory piece list, or the path of a persisted tokenizer
    file — see :func:`wordpiece_encode_words`): total piece count and
    UNK count — the real token accounting that sequence packing and
    mixture budgeting consume (the whitespace token count is the cheap
    approximation).

    One corpus shuffle builds the per-(doc, word) counts; the greedy
    encoder runs over DISTINCT words only; the final join multiplies
    encodes by occurrence counts.  Documents with no tokens (or NULL
    text) report zeros.  Output: (doc_id, n_pieces, n_unk).
    """
    toks = tokens(F.col("text"))
    wcnt = (df.select("doc_id", F.explode(toks).alias("tok"))
            .groupBy("doc_id", "tok").agg(F.count("*").alias("cnt")))
    words = wcnt.select("tok").distinct()
    enc = wordpiece_encode_words(words, vocab)
    per_doc = (wcnt.join(enc, "tok")
               .groupBy("doc_id")
               .agg(F.sum(F.col("cnt") * F.col("n_pieces"))
                    .alias("n_pieces"),
                    F.sum(F.col("cnt") * F.col("n_unk")).alias("n_unk")))
    return (df.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
                    F.coalesce("n_unk", F.lit(0)).alias("n_unk")))
