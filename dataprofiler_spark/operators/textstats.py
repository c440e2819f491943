"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All expression-only (split/size/filter/aggregate — whole-stage codegen);
each has a DuckDB-expressible formulation so the driver's oracle can verify
it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataprofiler_spark.functions.expressions import words

# Minimal per-language marker sets for the n-gram/stopword heuristic.
# Real corpora would load fastText-style models; the *operator shape*
# (score per language → argmax with deterministic tie-break) is the point.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "value", "table", "row"),
    "de": ("der", "die", "und", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "de"),
    "zh": ("的", "是", "了", "在"),
}


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count (the 'token counting' baseline; a BPE-ish
    estimate adds ceil(chars/4) blending, see bpe_token_estimate).
    Whitespace-robust: runs of \\s count as one separator, empty docs
    count 0 (expressions.words)."""
    return F.size(words(text_col))


def bpe_token_estimate(text_col: str | Column) -> Column:
    """BPE-ish token estimate without a tokenizer: one token per word piece
    of ≤4 chars — ceil(len(word)/4) summed over words. Deterministic,
    portable to SQL (matches GPT-style ~4 chars/token heuristic)."""
    return F.aggregate(
        words(text_col),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, word count, mean word length,
    distinct-word ratio, stopword ratio — the standard cheap quality
    filters (C4/Gopher-style) as pure column math.

    Tokenization is whitespace-robust (expressions.words): n_words can be
    0 for empty/whitespace-only docs, so every ratio nullif-guards its
    denominator (NULL, matching DuckDB's /0) instead of erroring under
    ANSI. mean_word_len sums actual word lengths (len of the ''-joined
    words) rather than assuming single-space separators."""
    staged = df.withColumn("__qf_words", words(F.col(text_col)))
    ws = F.col("__qf_words")
    n_words = F.size(ws)
    n = F.nullif(n_words, F.lit(0))
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(ws, lambda w: F.array_contains(stop, w)))
    return staged.withColumns(
        {
            "n_chars_calc": F.length(text_col).cast("long"),
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round(F.length(F.concat_ws("", ws)) / n, 6),
            "distinct_word_ratio": F.round(F.size(F.array_distinct(ws)) / n, 6),
            "stopword_ratio": F.round(n_stop / n, 6),
        }
    ).drop("__qf_words")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0,1]: rewards mid-length docs, lexical
    diversity, and presence (not dominance) of stopwords."""
    feats = quality_features(df, text_col)
    len_score = F.least(F.col("n_words") / 64.0, F.lit(1.0))
    div_score = F.col("distinct_word_ratio")
    stop_score = F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
    return feats.withColumn(
        "quality_score",
        F.round(0.4 * len_score + 0.4 * div_score + 0.2 * stop_score, 6),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic: per-language hit counts over the
    token array → argmax with deterministic tie-break (lang code asc),
    'und' when nothing matches. Pure expressions (one pass, no shuffle)."""
    ws = words(F.col(text_col))
    def _marker_filter(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return lambda w: F.array_contains(arr, w)

    scores = [
        F.struct(
            (-F.size(F.filter(ws, _marker_filter(markers)))).alias("neg_hits"),
            F.lit(code).alias("lang"),
        )
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    # ascending sort on (neg_hits, lang) = hits desc, lang asc tie-break
    best = F.sort_array(F.array(*scores))[0]
    return df.withColumn(
        "lang_pred",
        F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und")),
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition features (Gopher-style quality rules):
    duplicate-word fraction and duplicate-bigram fraction — 1 − distinct/
    total over words and word 2-grams. High values flag boilerplate /
    degenerate generations; the standard pre-training repetition filter.

    Pure array expressions, no shuffle: the words array is materialized as
    a column so the bigram transform doesn't re-evaluate the split per
    element (CLAUDE.md gotcha 8). Tokenization is whitespace-robust with
    empty pseudo-tokens filtered (gotchas 25 / VERDICT r4 #1) — otherwise
    '' counts as a duplicate 'word' and enters bigrams, inflating both
    fractions purely from formatting."""
    staged = df.withColumn("__words", words(F.col(text_col)))
    ws = F.col("__words")
    n = F.size(ws)
    bigrams = F.when(
        n >= 2,
        F.expr(
            "transform(sequence(1, size(__words) - 1), "
            "i -> concat_ws(' ', element_at(__words, i), element_at(__words, i + 1)))"
        ),
    ).otherwise(F.array())
    staged = staged.withColumn("__bigrams", bigrams)
    nb = F.size("__bigrams")
    return staged.withColumns(
        {
            "dup_word_frac": F.round(
                F.when(n > 0, 1.0 - F.size(F.array_distinct(ws)) / n).otherwise(0.0), 6
            ),
            "dup_bigram_frac": F.round(
                F.when(nb > 0, 1.0 - F.size(F.array_distinct("__bigrams")) / nb).otherwise(0.0),
                6,
            ),
        }
    ).drop("__words", "__bigrams")


def fingerprint(df: DataFrame, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized, lowercased text —
    the md5-definition-hash pattern of the reference's schema objects
    (/root/reference/src/db/schema_extractor.py:29-33) applied to documents."""
    c = F.col(text_col)
    if normalize:
        c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(c))


def vocabulary_stats(
    df: DataFrame, text_col: str = "text", group_by: list[str] | None = None
) -> DataFrame:
    """Per-group vocabulary statistics: total words, distinct words
    (vocabulary size), and type-token ratio — the corpus-diversity metric
    a training mix is balanced on. Explode collapses map-side for the
    total; the distinct is one exact count-distinct per group. Tokenization
    is whitespace-robust with empty pseudo-tokens filtered (gotcha 25) so
    word totals don't shift with whitespace formatting."""
    group_by = group_by or []
    # explode_outer + null post-filter, NOT explode: the optimizer infers
    # a size()>0 filter below a plain explode that re-evaluates the whole
    # split chain per row (gotcha 43, 2x measured on the tokenize stage)
    word_rows = df.select(
        *group_by, F.explode_outer(words(F.col(text_col))).alias("w")
    ).filter(F.col("w").isNotNull())
    return word_rows.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias("total_words"),
        F.count_distinct("w").alias("vocab_size"),
        F.round(F.count_distinct("w") / F.count(F.lit(1)), 6).alias("type_token_ratio"),
    )


def unigram_vocab(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus unigram counts (word, cnt) — the language-model table
    unigram_logprob scores against. One explode + hash aggregate over a
    bounded vocabulary (map-side partials collapse the explosion).
    Materialize/store it once per corpus snapshot; scoring batches then
    broadcast it."""
    word_rows = df.select(
        F.explode_outer(words(F.col(text_col))).alias("w")  # gotcha 43
    ).filter(F.col("w").isNotNull())
    counts = word_rows.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return counts


def unigram_logprob(
    df: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    key_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean unigram log-probability + perplexity — the
    CCNet-style fluency score: a document whose words are improbable
    under the corpus language model (gibberish, boilerplate noise,
    wrong-language fragments) scores low and gets filtered/bucketed.
    Smoothing: logp(w) = ln((cnt_w + α) / (N + α·(V+1))) with OOV words
    taking cnt_w = 0 — every word has finite mass, no -inf.

    Shape: vocab (bounded, word-count rows) is broadcast; the scoring
    pass is one explode + broadcast join + per-doc aggregate. vocab=None
    self-scores against the input corpus (one extra scan to build the
    table — production stores it per snapshot instead). Documents with
    no words yield NULL score."""
    if vocab is None:
        vocab = unigram_vocab(df, text_col)
    totals = vocab.agg(
        F.sum("cnt").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    # empty pseudo-tokens from consecutive whitespace are not words: they
    # must not enter the vocab or a doc's word count (a formatting
    # artifact would shift the fluency score)
    word_rows = df.select(
        key_col, F.explode_outer(words(F.col(text_col))).alias("w")  # gotcha 43
    ).filter(F.col("w").isNotNull())
    scored = (
        word_rows.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            key_col,
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
                / (F.col("__n") + F.lit(alpha) * (F.col("__v") + 1))
            ).alias("__lp"),
        )
    )
    return scored.groupBy(key_col).agg(
        F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        F.round(F.exp(-F.avg("__lp")), 4).alias("perplexity"),
        F.count(F.lit(1)).alias("n_words"),
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    top_k: int = 5,
    min_doc_freq: int = 1,
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF: tf = term count in doc,
    idf = ln((N+1)/(df+1)) + 1 (smoothed, never zero). The corpus-level
    summarization primitive (topic labeling, near-dup explanation,
    quality auditing).

    Shape: the (doc, word) term-count frame feeds BOTH the doc-frequency
    aggregate and the scoring join, so it is lazily localCheckpoint-ed
    across the two uses — re-deriving it would scan and explode the text
    twice (CLAUDE.md gotcha 16), and unlike a catalog-pinned persist the
    checkpoint blocks are freed by the ContextCleaner when the returned
    frame is dropped. Doc frequencies are vocabulary-sized and broadcast back
    (a per-word collect_list would concentrate a stopword's whole
    posting list in one row — the OOM shape, deliberately avoided). N is
    a parquet count-star (metadata-only). Top-k per doc is a rank window
    over (doc) — state per task is one counter. Ties break by word for
    determinism/oracle parity."""
    n_docs = df.count()  # count-star: column-pruned/metadata, no explode
    word_rows = df.select(
        key_col, F.explode_outer(words(F.col(text_col))).alias("w")  # gotcha 43
    ).filter(F.col("w").isNotNull())
    tf = (
        word_rows.groupBy(key_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    if min_doc_freq > 1:
        dfreq = dfreq.filter(F.col("df") >= min_doc_freq)
    idf = F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)) + 1
    scored = tf.join(F.broadcast(dfreq), "w").select(
        key_col,
        "w",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    rk = Window.partitionBy(key_col).orderBy(
        F.desc("tfidf"), F.asc("w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select(key_col, "rank", F.col("w").alias("keyword"), "tfidf")
    )


SCRIPTS = [
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("hiragana", r"\p{IsHiragana}", r"\p{Hiragana}"),
    ("katakana", r"\p{IsKatakana}", r"\p{Katakana}"),
    ("hangul", r"\p{IsHangul}", r"\p{Hangul}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("devanagari", r"\p{IsDevanagari}", r"\p{Devanagari}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
    ("hebrew", r"\p{IsHebrew}", r"\p{Hebrew}"),
    ("thai", r"\p{IsThai}", r"\p{Thai}"),
]


def script_profile(
    df: DataFrame, text_col: str = "text", key_cols: list[str] | None = None
) -> DataFrame:
    """Unicode-script composition per document: one `<script>_chars`
    count per major script (Unicode Script property — identical
    semantics in Java regex `\\p{IsX}` and RE2 `\\p{X}`, which is what
    makes the oracle possible), plus `dominant_script` (max count, ties
    to the lexicographically larger name — array_max over (count, name)
    structs, mirrored by DuckDB's list_max) and `nonlatin_frac` over the
    script-classified characters. The script gate a multilingual corpus
    router runs BEFORE n-gram language-ID (lang_id): scripts partition
    cheaply and exactly; n-grams then discriminate within a script.
    Map-side regex expressions only."""
    keys = key_cols if key_cols is not None else [c for c in df.columns if c != text_col]
    c = F.col(text_col)
    counts = [
        F.coalesce(F.regexp_count(c, F.lit(java_pat)), F.lit(0)).alias(f"{name}_chars")
        for name, java_pat, _ in SCRIPTS
    ]
    out = df.select(*keys, *counts)
    total = None
    for name, _, _ in SCRIPTS:
        col = F.col(f"{name}_chars")
        total = col if total is None else (total + col)
    dominant = F.when(
        total > 0,
        F.array_max(
            F.array(
                *[
                    F.struct(
                        F.col(f"{name}_chars").alias("c"), F.lit(name).alias("s")
                    )
                    for name, _, _ in SCRIPTS
                ]
            )
        )["s"],
    )
    return out.select(
        *keys,
        *[f"{name}_chars" for name, _, _ in SCRIPTS],
        dominant.alias("dominant_script"),
        F.round(
            F.when(total > 0, (total - F.col("latin_chars")) / total), 6
        ).alias("nonlatin_frac"),
    )


def zipf_fit(df: DataFrame, text_col: str = "text", top_n: int = 1000) -> DataFrame:
    """OLS fit of ln(count) against ln(rank) over the corpus's `top_n`
    most frequent words. Zipf's law predicts slope ≈ -1 on natural text;
    the deviation is a cheap corpus-quality signal (boilerplate floods
    flatten the head, templated spam steepens it) tracked per snapshot
    next to the drift metrics.

    Returns ONE row: (n_ranks, slope, intercept, r2) — slope/intercept
    from the covar_pop/var_pop closed form (same as growth.linregress),
    r2 = cov²/(var_x·var_y) with a NULL guard for degenerate corpora.

    Scale shape: word counts are one explode + hash aggregate (map-side
    combine over the vocabulary); the top-n selection is an
    orderBy+limit — TakeOrderedAndProject, per-partition top-k merged at
    the driver, never a full sort shuffle. The ONLY window runs over the
    ≤ top_n surviving rows (bounded by a literal, not by data), then one
    scalar aggregate closes the fit."""
    counts = unigram_vocab(df, text_col)
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("w"))
    xy = top.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.covar_pop("x", "y").alias("__cov"),
        F.var_pop("x").alias("__vx"),
        F.var_pop("y").alias("__vy"),
        F.avg("x").alias("__mx"),
        F.avg("y").alias("__my"),
    )
    slope = F.col("__cov") / F.nullif(F.col("__vx"), F.lit(0.0))
    return agg.select(
        "n_ranks",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("__my") - slope * F.col("__mx"), 6).alias("intercept"),
        F.round(
            (F.col("__cov") * F.col("__cov"))
            / F.nullif(F.col("__vx") * F.col("__vy"), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    df_threshold: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate exposure per document: the fraction of a
    document's distinct k-word shingles that occur in MORE than
    `df_threshold` documents (RefinedWeb-style boilerplate signal —
    navigation chrome, license headers, templated spans). Complements
    repetition_stats, which only sees repetition WITHIN one document.

    Returns (key_col, n_shingles, n_boilerplate, boilerplate_frac) for
    every input document (frac NULL when the document has no shingles).

    Scale shape (redesigned late round 5, 2x measured at 2M docs): the
    SHINGLE-ARRAY frame is what gets localCheckpointed — one array row
    per document — NOT the exploded digest stream; materializing the
    explode (28x the rows) cost 135 s against ~45 s to recompute it from
    the arrays (gotcha 36: checkpoint the narrow source, re-derive the
    explode). Both digest streams (doc-frequency aggregate, per-doc
    probe) re-derive from the cached arrays. The per-doc count then
    SEMI-joins the HOT set (shingles with df > threshold) instead of
    full-joining the entire doc-frequency table — the hot set is the
    boilerplate vocabulary, tiny on real corpora (4x measured even on a
    worst-case all-hot fixture; shuffle-hash hint, so an adversarial hot
    set never falls back to a sort-merge). Shingles travel as 64-bit
    digests, never text (gotcha 9); per-doc totals come from size() on
    the array, so empty docs survive without a carry-through column."""
    from dataprofiler_spark.operators.dedup import _spread_small_input, word_shingles

    # whitespace-robust tokenization with empty pseudo-tokens filtered
    # BEFORE shingling (gotcha 25) so spans here are the SAME spans
    # remove_duplicated_spans removes — the stats and the acting operator
    # must agree on what is boilerplate
    staged = _spread_small_input(df).select(
        F.col(key_col),
        word_shingles(words(F.col(text_col)), shingle_k, pre_split=True).alias("__sh"),
    ).localCheckpoint(eager=False)
    # outer: word_shingles is never empty (whole-text fallback), and a
    # plain explode's inferred size()>0 filter re-runs the explode
    # argument per row (gotcha 43)
    sh = staged.select(key_col, F.explode_outer("__sh").alias("s")).select(
        key_col, F.xxhash64("s").alias("h")
    )
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") > df_threshold)
        .select("h")
    )
    nb = (
        sh.join(hot.hint("shuffle_hash"), "h", "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    ns = staged.select(key_col, F.size("__sh").cast("long").alias("n_shingles"))
    return ns.join(nb, key_col, "left").select(
        key_col,
        "n_shingles",
        F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_boilerplate"),
        F.round(
            F.coalesce(F.col("__nb"), F.lit(0))
            / F.nullif(F.col("n_shingles"), F.lit(0)),
            6,
        ).alias("boilerplate_frac"),
    )


def _ranked_vocab(df: DataFrame, text_col: str, top_n: int) -> DataFrame:
    """(word, rank) over the corpus's top_n most frequent words; rank by
    (cnt desc, word) — the window runs over <= top_n rows (bounded by a
    literal, same justification as zipf_fit)."""
    counts = unigram_vocab(df, text_col)
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(top_n)
    win = Window.orderBy(F.desc("cnt"), F.asc("w"))
    return top.withColumn("rank", F.row_number().over(win)).select("w", "rank")


def vocab_rank_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Vocabulary drift between two corpus snapshots over their top_n
    frequency heads: how much the vocabularies overlap and how well the
    shared words' frequency RANKS agree. Complements token_frequency_psi
    (mass-based) with an order-based signal that catches re-rankings PSI
    smooths over.

    Returns ONE row: (n_a, n_b, n_shared, overlap_jaccard, rank_corr)
    where rank_corr is the Pearson correlation of each side's own
    1-based rank over the SHARED words (Spearman-style; NULL when < 2
    shared words).

    Scale shape: two explode+hash-agg vocab counts, two
    TakeOrderedAndProject top-n cuts, a full-outer join of two <= top_n
    row frames, one scalar aggregate. Nothing is corpus-sized past the
    first aggregate."""
    ra = _ranked_vocab(df_a, text_col, top_n).select(
        "w", F.col("rank").alias("rank_a")
    )
    rb = _ranked_vocab(df_b, text_col, top_n).select(
        "w", F.col("rank").alias("rank_b")
    )
    j = ra.join(rb, "w", "full_outer")
    agg = j.agg(
        F.count("rank_a").alias("n_a"),
        F.count("rank_b").alias("n_b"),
        F.count(F.when(F.col("rank_a").isNotNull() & F.col("rank_b").isNotNull(), 1)).alias(
            "n_shared"
        ),
        F.corr("rank_a", "rank_b").alias("__rho"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_shared",
        F.round(
            F.col("n_shared")
            / F.nullif(F.col("n_a") + F.col("n_b") - F.col("n_shared"), F.lit(0)),
            6,
        ).alias("overlap_jaccard"),
        F.round("__rho", 6).alias("rank_corr"),
    )


def hashed_word_bucket(w: Column, n_buckets: int) -> Column:
    """Hashed-feature bucket for a word: first 7 hex chars of md5 → long,
    mod n_buckets. The ONE Python copy of the expression — the hashed
    classifier and its DuckDB oracles replay it verbatim, so any change
    must land here and in the
    `CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % n` SQL together."""
    return F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long") % n_buckets


def hashed_linear_score(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 18,
    seed: int = 42,
    weights: DataFrame | None = None,
    score_col: str = "quality_score",
) -> DataFrame:
    """Model-based quality filtering plumbing: a linear text classifier
    over hashed unigram features — the fastText architecture that
    FineWeb-Edu-class corpus filters use. score = sigmoid(mean of the
    per-word bucket weights), rounded 6dp.

    `weights=None` uses deterministic demo weights derived from the
    bucket id by the engine's seeded-LCG family (w ∈ [-1, 1]) — fully
    SQL-replayable, so the ENTIRE feature pipeline (tokenize → hash →
    bucket → weight → mean → sigmoid) is oracle-verified; a production
    deployment swaps in a trained weight table via `weights`
    (bucket:long, weight:double), applied with a broadcast join.

    Scale shape: explode words → per-word bucket/weight expression →
    hash-aggregate mean per doc (gotcha 15: explode + codegen agg beats
    the interpreted HOF fold on long arrays). The shuffle carries
    (key, partial sum/count) after map-side combine — narrow. Empty docs
    (no non-empty words, gotcha 25) score NULL, surfaced not dropped."""
    from dataprofiler_spark.operators.dedup import _MERSENNE, _minhash_params

    word_rows = df.select(
        F.col(key_col),
        F.explode_outer(words(F.col(text_col))).alias("__w"),
    )
    staged = word_rows.withColumn(
        "__bucket", hashed_word_bucket(F.col("__w"), n_buckets)
    )
    if weights is not None:
        from pyspark.sql.functions import broadcast

        staged = staged.join(
            broadcast(weights.select(F.col("bucket").alias("__bucket"), F.col("weight").alias("__wt"))),
            on="__bucket",
            how="left",
        ).withColumn("__wt", F.coalesce(F.col("__wt"), F.lit(0.0)))
    else:
        (a, b) = _minhash_params(1, seed)[0]
        staged = staged.withColumn(
            "__wt",
            ((F.col("__bucket") * a + b) % _MERSENNE) / F.lit(_MERSENNE / 2.0)
            - F.lit(1.0),
        )
    agg = staged.groupBy(key_col).agg(
        F.avg(F.when(F.col("__w").isNotNull(), F.col("__wt"))).alias("__m")
    )
    return agg.select(
        key_col,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m"))), 6).alias(score_col),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """Quality-filter calibration: confusion counts + precision/recall/F1
    at each candidate threshold (predict positive iff score ≥ t) — the
    sweep a corpus team runs against a labeled sample before picking the
    classifier cut for a filtering pass (FineWeb-Edu-style "keep if
    score ≥ 3" decisions).

    ONE corpus pass for the whole grid: every (threshold, cell) is a
    conditional sum in a single hash aggregate (map-side combined; the
    shuffle carries one partial row per task), then the 1×(4·|grid|) row
    is unpivoted with `stack` — never a per-threshold scan, never a
    grid×rows explode. Rows with NULL score or label carry no signal for
    a cut decision and are excluded (count them upstream if they matter).
    Ratios are NULL (not 0) when undefined, rounded 6dp."""
    import math

    thresholds = (
        [round(i / 20, 2) for i in range(21)] if thresholds is None else thresholds
    )
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    bad = [t for t in thresholds if not math.isfinite(t)]
    if bad:
        # nan/inf interpolate into the stack() expr as invalid SQL literals
        raise ValueError(f"thresholds must be finite, got {bad}")
    if len(set(thresholds)) != len(thresholds):
        raise ValueError("duplicate thresholds would emit duplicate grid rows")
    s, y = F.col(score_col), F.col(label_col).cast("boolean")
    scored = df.filter(s.isNotNull() & y.isNotNull())
    aggs = []
    for i, t in enumerate(thresholds):
        pred = s >= F.lit(float(t))
        aggs += [
            F.sum((pred & y).cast("long")).alias(f"__tp_{i}"),
            F.sum((pred & ~y).cast("long")).alias(f"__fp_{i}"),
            F.sum((~pred & y).cast("long")).alias(f"__fn_{i}"),
            F.sum((~pred & ~y).cast("long")).alias(f"__tn_{i}"),
        ]
    row = scored.agg(*aggs)
    cells = ", ".join(
        f"CAST({float(t)!r} AS DOUBLE), __tp_{i}, __fp_{i}, __fn_{i}, __tn_{i}"
        for i, t in enumerate(thresholds)
    )
    unpivoted = row.select(
        F.expr(
            f"stack({len(thresholds)}, {cells}) AS (threshold, tp, fp, fn, tn)"
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    # empty input: sums are NULL — pin counts to 0 so the grid still
    # comes back (ratios stay NULL via the 0 denominators)
    counts = unpivoted.select(
        "threshold",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("tp", "fp", "fn", "tn")],
    )
    prec = tp / F.nullif(tp + fp, F.lit(0))
    rec = tp / F.nullif(tp + fn, F.lit(0))
    f1 = 2 * prec * rec / F.nullif(prec + rec, F.lit(0.0))
    return counts.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def bigram_vocab(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus bigram counts (w1, w2, cnt) over adjacent word pairs —
    the conditional table bigram_logprob scores against. ONE scan: the
    pairs are a per-row transform over the materialized words array
    (gotcha 8), exploded into a hash aggregate (map-side combine). The
    bigram vocabulary is larger than the unigram one (up to V² in
    theory, ~linear in corpus tokens in practice) — prune with
    `min_count` before storing/joining at scale."""
    staged = df.withColumn("__bv_ws", words(F.col(text_col)))
    # outer: the size >= 2 gate makes the pair array non-empty, and a
    # plain explode's inferred filter re-runs the pair transform (gotcha 43)
    pairs = staged.filter(F.size("__bv_ws") >= 2).select(
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(__bv_ws) - 1), "
                "i -> struct(element_at(__bv_ws, i) AS w1, "
                "element_at(__bv_ws, i + 1) AS w2))"
            )
        ).alias("__p")
    )
    counts = pairs.groupBy(
        F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return counts


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram log-probability + perplexity — the
    CCNet-style fluency score one order above unigram_logprob: word
    SEQUENCES that are improbable under the corpus bigram model (shuffled
    text, keyword-stuffed spam, wrong-language interleaving) score low
    even when every individual word is common. Smoothing:
    logp(w2 | w1) = ln((c(w1,w2) + α) / (c(w1) + α·(V+1))) with V = the
    corpus unigram vocabulary size; unseen pairs and unseen contexts both
    get finite mass. Documents with < 2 words have no bigrams and are
    absent from the output (surface them with a left join upstream).

    Scale shape: the bigram table is NOT broadcast (unlike the unigram
    table it is not vocabulary-bounded — it grows ~linearly with corpus
    tokens): scored pairs join it SHUFFLE-side on the pair key, both
    sides narrow (gotcha 9 family: the pair rows carry two words + a
    count, never document text). Context counts (unigram, bounded) and
    the V scalar ARE broadcast. One corpus scan per table build + one
    scoring scan; store the tables per snapshot in production instead of
    self-scoring."""
    uni = unigram_vocab(df, text_col)
    bi = bigram_vocab(df, text_col)
    v = uni.agg(F.count(F.lit(1)).alias("__v"))
    staged = df.withColumn("__bl_ws", words(F.col(text_col)))
    doc_pairs = staged.filter(F.size("__bl_ws") >= 2).select(
        F.col(key_col),
        F.explode_outer(  # gotcha 43; non-empty via the size >= 2 gate
            F.expr(
                "transform(sequence(1, size(__bl_ws) - 1), "
                "i -> struct(element_at(__bl_ws, i) AS w1, "
                "element_at(__bl_ws, i + 1) AS w2))"
            )
        ).alias("__p"),
    ).select(key_col, F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    ctx = uni.select(F.col("w").alias("w1"), F.col("cnt").alias("__c1"))
    scored = (
        doc_pairs.join(bi.hint("shuffle_hash"), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            key_col,
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha))
                / (
                    F.coalesce(F.col("__c1"), F.lit(0))
                    + F.lit(alpha) * (F.col("__v") + 1)
                )
            ).alias("__lp"),
        )
    )
    return scored.groupBy(key_col).agg(
        F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        F.round(F.exp(-F.avg("__lp")), 4).alias("perplexity"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


# Encoding-damage heuristics (pure expressions, both engines' regex
# dialects — Java util.regex and DuckDB's RE2 — read these identically):
# U+FFFD is the decoder's explicit damage marker; control chars outside
# \t\n\r never belong in prose; the mojibake alternation catches the
# classic UTF-8-read-as-Latin-1 artifacts ('Ã' + a U+0080-U+00BF
# continuation ghost, the 'â€'-family punctuation wrecks, 'Â' + NBSP).
_REPLACEMENT_PAT = "�"
_CONTROL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_MOJIBAKE_PAT = "Ã[\\x{0080}-\\x{00BF}]|â€|Â\\x{00A0}"
_ASCII_PAT = r"[\x00-\x7F]"


def encoding_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document encoding-damage features appended to `df`: counts of
    U+FFFD replacement chars, non-\\t\\n\\r control chars, mojibake
    artifacts (UTF-8 double-decode sequences), non-ASCII chars, and the
    non-ASCII ratio. The web-curation gate that catches corrupt decodes
    BEFORE they pollute vocabulary/shingle statistics — none of the
    other text metrics see the difference between damaged and legitimate
    non-Latin text.

    Scale shape: pure per-row regexp projection (whole-stage codegen, no
    shuffle, no UDF); counts derive from length-after-regexp_replace so
    each pattern is a single pass over the string. n_chars == 0 docs get
    NULL ratios (nullif, ANSI-safe; DuckDB /0 agrees)."""
    t = F.col(text_col)
    n_chars = F.length(t)

    def _count(pat: str) -> Column:
        return (n_chars - F.length(F.regexp_replace(t, pat, ""))).cast("long")

    n_non_ascii = F.length(F.regexp_replace(t, _ASCII_PAT, "")).cast("long")
    # mojibake matches span 1-2 chars — count OCCURRENCES, not chars
    n_mojibake = F.regexp_count(t, F.lit(_MOJIBAKE_PAT)).cast("long")
    return df.select(
        "*",
        _count(_REPLACEMENT_PAT).alias("n_replacement"),
        _count(_CONTROL_PAT).alias("n_control"),
        n_mojibake.alias("n_mojibake"),
        n_non_ascii.alias("n_non_ascii"),
        F.round(n_non_ascii / F.nullif(n_chars.cast("long"), F.lit(0)), 4).alias(
            "non_ascii_ratio"
        ),
    )


def encoding_summary(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source encoding-health rollup: document counts carrying ANY
    replacement/control/mojibake damage plus the mean non-ASCII ratio —
    the monitoring panel that localizes a broken upstream decoder to the
    source that shipped it (a per-doc frame at corpus scale is output,
    not a report). ONE scan, one hash aggregate (map-side combine); the
    regexp features fold into the same codegen stage as the scan."""
    feats = encoding_quality(df, text_col)
    return feats.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_replacement") > 0).cast("long")).alias("repl_docs"),
        F.sum((F.col("n_control") > 0).cast("long")).alias("control_docs"),
        F.sum((F.col("n_mojibake") > 0).cast("long")).alias("mojibake_docs"),
        F.round(F.avg("non_ascii_ratio"), 4).alias("avg_non_ascii_ratio"),
        F.round(F.max("non_ascii_ratio"), 4).alias("max_non_ascii_ratio"),
    )


def tokenizer_fertility(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source tokenizer-fertility panel: document/word/char totals,
    the BPE-ish token estimate, and the chars-per-word / chars-per-token
    / words-per-doc ratios — the budgeting numbers (context-window cost,
    token-budget planning) that differ sharply across sources (code vs
    prose vs CJK) and drift when a source's formatting changes.

    Scale shape: ONE scan, ONE hash aggregate. posexplode_outer carries
    every doc (empty docs emit one NULL word row) so doc counts and char
    totals ride the SAME exploded stream as the word stats — pos 0 / NULL
    marks each document's first row, so no second aggregate or join; the
    per-word ceil(len/4) sums in codegen instead of a per-row HOF fold
    (gotcha 15). Ratios NULL (not /0) for wordless sources."""
    staged = df.select(
        F.col(group_col),
        F.length(F.col(text_col)).alias("__tf_nc"),
        F.posexplode_outer(words(F.col(text_col))).alias("__tf_pos", "__tf_w"),
    )
    first = F.col("__tf_pos").isNull() | (F.col("__tf_pos") == 0)
    out = staged.groupBy(F.col(group_col)).agg(
        F.sum(first.cast("long")).alias("n_docs"),
        F.sum(F.when(first, F.col("__tf_nc"))).alias("total_chars"),
        F.count("__tf_w").alias("total_words"),
        F.sum(F.ceil(F.length("__tf_w") / 4.0)).alias("est_bpe_tokens"),
    )
    nw = F.nullif(F.col("total_words"), F.lit(0))
    return out.select(
        group_col,
        "n_docs",
        "total_chars",
        "total_words",
        "est_bpe_tokens",
        F.round(F.col("total_chars") / nw, 4).alias("chars_per_word"),
        F.round(F.col("total_chars") / F.nullif(F.col("est_bpe_tokens"), F.lit(0)), 4)
        .alias("chars_per_token"),
        F.round(F.col("total_words") / F.col("n_docs"), 4).alias("words_per_doc"),
    )


def _unicode_normalize_batch(form: str, strip_accents: bool):
    """Arrow-batch unicode normalizer (stdlib unicodedata; created lazily
    inside normalize_text — gotcha 3)."""
    import unicodedata

    def _one(t):
        if t is None:
            return None
        s = unicodedata.normalize(form, t)
        if strip_accents:
            s = "".join(
                c
                for c in unicodedata.normalize("NFD", s)
                if unicodedata.category(c) != "Mn"
            )
            s = unicodedata.normalize(form, s)
        return s

    # no type annotations: pandas_udf's typehint parser cannot resolve a
    # stringified 'pd.Series' against this closure's locals; the explicit
    # returnType at the call site is authoritative
    def _batch(s):
        return s.map(_one)

    return _batch


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    strip_accents: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Unicode-normalize a text column (NFC/NFKC/NFD/NFKD, optional
    accent stripping) — the standard pre-tokenization step: composed and
    decomposed forms of the same visible text ('é' as one codepoint vs
    'e'+U+0301) otherwise hash, shingle, and tokenize differently,
    silently splitting duplicates and vocabulary entries.

    Scale shape: the Python surface is budgeted to the rows that NEED it.
    Pure-ASCII text is already in every normal form, so rows are routed
    by a JVM regexp into an ASCII branch (passthrough, no Python) and a
    non-ASCII branch (Arrow-batched pandas UDF, stdlib unicodedata) and
    unioned back. Routing must be by FILTER SPLIT, not `when(...)` —
    ExtractPythonUDFs evaluates a conditionally-guarded UDF on every row
    anyway (gotcha 6). The price is two passes over the source instead
    of one; on real web corpora the non-ASCII sliver is small and the
    Python saved dominates the extra JVM scan (read the source once
    upstream / localCheckpoint it if the input is itself expensive)."""
    out_col = out_col or text_col
    t = F.col(text_col)
    is_ascii = t.isNull() | t.rlike(r"^[\x00-\x7F]*$")
    udf = F.pandas_udf(_unicode_normalize_batch(form, strip_accents), "string")
    ascii_rows = df.filter(is_ascii).withColumn(out_col, t)
    rest = df.filter(~is_ascii).withColumn(out_col, udf(t))
    return ascii_rows.unionByName(rest)
