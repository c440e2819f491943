"""Per-document text features for training-data pipelines: whitespace and
BPE-estimate token counts, quality features and score, a marker-token
language-ID heuristic and a content fingerprint, plus one corpus
statistic: the Zipf-law fit of the word-frequency head.

The per-document operators are column expressions or projections over one
document (no shuffle, no UDF); the array folds (aggregate/filter) are
higher-order functions and run interpreted. Each operator has a
DuckDB-expressible formulation so the driver's oracle can verify it
value-for-value.
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


def fingerprint(df: DataFrame, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized, lowercased text —
    the md5-definition-hash pattern of the reference's schema objects
    (/root/reference/src/db/schema_extractor.py:29-33) applied to documents."""
    c = F.col(text_col)
    if normalize:
        c = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(c))



def zipf_fit(df: DataFrame, text_col: str = "text", top_n: int = 1000) -> DataFrame:
    """OLS fit of ln(count) against ln(rank) over the corpus's `top_n`
    most frequent words. Zipf's law predicts slope ≈ -1 on natural text;
    the deviation is a cheap corpus-quality signal (boilerplate floods
    flatten the head, templated spam steepens it) tracked per snapshot
    next to the drift metrics.

    Returns ONE row: (n_ranks, slope, intercept, r2) — slope/intercept
    from the covar_pop/var_pop closed form (same as growth.regression_slope),
    r2 = cov²/(var_x·var_y) with a NULL guard for degenerate corpora.

    Scale shape: word counts are one explode + hash aggregate (map-side
    combine over the vocabulary); the top-n selection is an
    orderBy+limit — TakeOrderedAndProject, per-partition top-k merged at
    the driver, never a full sort shuffle. The ONLY window runs over the
    ≤ top_n surviving rows (bounded by a literal, not by data), then one
    scalar aggregate closes the fit."""
    counts = (
        df.select(F.explode_outer(words(F.col(text_col))).alias("w"))  # gotcha 43
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
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
