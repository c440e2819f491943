"""Text analysis: token counts, quality features, lang-id heuristic,
fingerprint, Zipf fit."""

import pytest

from dataprofiler_spark.operators.textstats import (
    bpe_token_estimate,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)


def test_token_count(spark):
    df = spark.createDataFrame([("a bb ccc",), ("single",)], "text string")
    got = [r.n for r in df.select(token_count("text").alias("n")).collect()]
    assert got == [3, 1]


def test_bpe_estimate(spark):
    # 'abcd'→1, 'abcde'→2, 'a'→1  ⇒ total 4
    df = spark.createDataFrame([("abcd abcde a",)], "text string")
    assert df.select(bpe_token_estimate("text").alias("n")).collect()[0].n == 4


def test_quality_features_and_score(spark):
    df = spark.createDataFrame([("the value table the value",)], "text string")
    row = quality_score(df).collect()[0]
    assert row.n_words == 5
    assert row.distinct_word_ratio == pytest.approx(3 / 5, abs=1e-6)
    assert row.stopword_ratio == 1.0  # every word is an en marker
    assert 0.0 <= row.quality_score <= 1.0
    # mean word len: (25 chars - 4 spaces) / 5 words
    assert row.mean_word_len == pytest.approx(21 / 5, abs=1e-6)


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [("the value of the table",), ("der und die das nicht",), ("xyzzy qwerty",)],
        "text string",
    )
    got = [r.lang_pred for r in lang_id(df).collect()]
    assert got == ["en", "de", "und"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "text string")
    fps = [r.fingerprint for r in fingerprint(df).collect()]
    assert fps[0] == fps[1]  # case + whitespace normalized
    raw = [r.fingerprint for r in fingerprint(df, normalize=False).collect()]
    assert raw[0] != raw[1]


def test_contamination_check_planted_leak(spark):
    """A corpus doc embedding a benchmark 5-gram is flagged with the right
    shingle counts; clean docs are absent from the report."""
    from dataprofiler_spark.operators.dedup import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over and more words here"),
            (2, "completely unrelated words with no overlap at all in this document"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in contamination_check(corpus, bench, shingle_k=5).collect()}
    assert set(rows) == {1}
    # 'the quick brown fox jumps' and 'quick brown fox jumps over' both leak
    assert rows[1].n_shared_shingles == 2
    assert rows[1].n_shingles == 9  # 13 words -> 9 distinct 5-grams
    assert rows[1].overlap_frac == pytest.approx(2 / 9, abs=1e-6)


def test_word_ops_ignore_empty_pseudo_tokens(spark):
    """Gotcha 25: consecutive/leading/trailing spaces must not create ''
    'words' — token counts, the BPE estimate and the word-level quality
    features are invariant to whitespace formatting."""
    from dataprofiler_spark.operators.textstats import quality_features

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "  a  b   a "), (3, "x y"), (4, "  x   y  ")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.n_tok, r.n_bpe, r.n_words, r.distinct_word_ratio, r.mean_word_len)
        for r in quality_features(df)
        .withColumn("n_tok", token_count("text"))
        .withColumn("n_bpe", bpe_token_estimate("text"))
        .collect()
    }
    assert rows[1] == rows[2] == (3, 3, 3, pytest.approx(2 / 3, abs=1e-6), 1.0)
    assert rows[3] == rows[4] == (2, 2, 2, 1.0, 1.0)


def test_zipf_fit_exact_powerlaw(spark):
    from dataprofiler_spark.operators.textstats import zipf_fit

    # corpus where word w_r appears floor(64 / r) times: ln(cnt) is close
    # to -1 * ln(rank) + ln(64); the fit must recover a slope near -1
    words = []
    for r in range(1, 9):
        words += [f"w{r:02d}"] * (64 // r)
    df = spark.createDataFrame([(0, " ".join(words))], "doc_id int, text string")
    row = zipf_fit(df, top_n=8).collect()[0]
    assert row.n_ranks == 8
    assert -1.1 < row.slope < -0.85
    assert row.r2 > 0.97


def test_zipf_fit_degenerate_uniform(spark):
    from dataprofiler_spark.operators.textstats import zipf_fit

    # uniform counts: var_y = 0 -> slope 0 (cov/varx = 0), r2 NULL-guarded
    df = spark.createDataFrame([(0, "a b c d")], "doc_id int, text string")
    row = zipf_fit(df).collect()[0]
    assert row.n_ranks == 4 and row.slope == 0.0
    assert row.r2 is None


def test_zipf_fit_no_full_sort_shuffle(spark):
    from dataprofiler_spark.operators.textstats import zipf_fit

    df = spark.createDataFrame([(0, "a a b")], "doc_id int, text string")
    plan = zipf_fit(df)._jdf.queryExecution().executedPlan().toString()
    # top-n must be TakeOrderedAndProject, not a global Sort + Limit
    assert "TakeOrderedAndProject" in plan


def test_bpe_estimate_empty_doc_matches_oracle_convention(spark):
    """Empty/whitespace-only docs: the engine's fold returns 0 while
    DuckDB's list_aggregate([], 'sum') is NULL — the registered oracle
    COALESCEs to 0, so both engines read 0. Pin both halves."""
    import duckdb

    from dataprofiler_spark.operators.textstats import bpe_token_estimate

    df = spark.createDataFrame(
        [(1, ""), (2, "  \n\t "), (3, "word")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", bpe_token_estimate("text").alias("n")).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1}
    sql = """SELECT CAST(COALESCE(list_aggregate(list_transform(
               list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> ''),
               w -> CAST(ceil(len(w) / 4.0) AS BIGINT)), 'sum'), 0) AS BIGINT)
             FROM (VALUES (''), ('  \n\t '), ('word')) v(t)"""
    assert [r[0] for r in duckdb.connect().execute(sql).fetchall()] == [0, 0, 1]
