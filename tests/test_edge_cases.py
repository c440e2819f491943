"""Degenerate-input robustness: empty tables, all-null columns, single
rows, unicode text, empty strings through the core operators — the inputs
a 100 TB pipeline WILL contain somewhere. No crashes, sane outputs."""

import pytest

from dataprofiler_spark.operators.profile import profile


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string, lang string, n_chars bigint")


def test_profile_empty_table(spark, empty_docs):
    for exact in (True, False):
        rows = profile(empty_docs, "t", exact=exact).collect()
        assert rows == [] or all(r.row_count == 0 for r in rows)


def test_profile_all_null_column(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id bigint, v double")
    r = {x.column_name: x for x in profile(df, "t").collect()}
    assert r["v"].not_null_count == 0
    assert r["v"].not_null_proportion == 0.0
    assert r["v"].is_unique is False  # nn == 0 → not unique (metrics.py:287)
    assert r["v"].min_value is None and r["v"].avg_value is None


def test_profile_single_row(spark):
    df = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    r = {x.column_name: x for x in profile(df, "t").collect()}
    assert r["v"].stddev_pop == 0.0
    assert r["v"].stddev_samp is None  # n=1: sample stddev undefined
    assert r["v"].median_value == 5.0


def test_dedup_ops_on_empty_and_unicode(spark, empty_docs):
    from dataprofiler_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    assert lsh_candidate_pairs(empty_docs, "doc_id").count() == 0
    assert connected_components(
        spark.createDataFrame([], "key1 bigint, key2 bigint")
    ).count() == 0

    uni = spark.createDataFrame(
        [(1, "héllo wörld schön günstig straße"), (2, "héllo wörld schön günstig straße"),
         (3, ""), (4, "中文 文本 去重 测试 中文 文本")],
        "doc_id bigint, text string",
    )
    pairs = {(r.key1, r.key2) for r in lsh_candidate_pairs(uni, "doc_id").collect()}
    assert (1, 2) in pairs  # identical unicode text → identical signature


def test_drift_empty_vs_nonempty_histogram(spark):
    from dataprofiler_spark.operators.drift import histogram, psi

    full = histogram(spark.createDataFrame([(i,) for i in range(100)], "x int"), "x", 10)
    empty = histogram(spark.createDataFrame([], "x int"), "x", 10)
    # all mass novel → large but FINITE psi (epsilon smoothing)
    v = psi(empty, full)
    assert v > 1.0 and v == v  # not NaN


def test_growth_empty_and_full(spark):
    from dataprofiler_spark.operators.growth import growth_profile

    empty = spark.createDataFrame([], "id int")
    p = growth_profile(empty, "id", "int")
    assert (p.current_value, p.alert_status) == (None, "OK")
    full = spark.createDataFrame([(2147483647,)], "id int")
    pf = growth_profile(full, "id", "int")
    assert pf.remaining_values == 0 and pf.days_until_full == 0.0
    assert pf.alert_status == "CRITICAL"


def test_checks_on_empty_input(spark):
    from dataprofiler_spark.operators.checks import run_sequence_suite
    from dataprofiler_spark.sources import gen_sources_ref

    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    res = run_sequence_suite(empty, gen_sources_ref(spark))
    rows = res.verdicts.collect()
    # every registered partition shows up as an empty-partition failure
    fails = {(r.partition_value, r.check_name) for r in rows if not r.passed}
    assert all(c == "row_count_gt_0" for _, c in fails) and len(fails) > 0
    assert res.violations.count() == 0


def test_round3_ops_on_empty_and_degenerate_inputs(spark):
    """New round-3 operators must not crash or mis-report on empty frames
    or single-category entropy."""
    from dataprofiler_spark.operators.dedup import connected_components_star
    from dataprofiler_spark.operators.drift import categorical_entropy
    from dataprofiler_spark.operators.growth import daily_count_anomalies
    empty_docs = spark.createDataFrame([], "doc_id bigint, text string, g string")

    # entropy of a constant column is exactly 0 (one class)
    const = spark.createDataFrame([("x",)] * 5, "v string")
    row = categorical_entropy(const, "v").collect()[0]
    assert row.entropy == 0.0 and row.n_classes == 1
    # ungrouped global agg over empty input: one row, NULL entropy, 0
    # classes (standard SQL global-aggregate semantics); grouped → 0 rows
    e = categorical_entropy(empty_docs, "text").collect()
    assert len(e) == 1 and e[0].entropy is None and e[0].n_classes == 0
    assert categorical_entropy(empty_docs, "text", group_by=["g"]).count() == 0

    # anomalies on an empty frame / a single-day group: no flags, no crash
    ev = spark.createDataFrame([], "ts timestamp, event_type string")
    assert daily_count_anomalies(ev, "event_type").count() == 0

    # star CC on an empty pair list and on self-pairs only
    no_pairs = spark.createDataFrame([], "key1 bigint, key2 bigint")
    assert connected_components_star(no_pairs).count() == 0
    self_only = spark.createDataFrame([(5, 5)], "key1 bigint, key2 bigint")
    rows = {r.node: r.component for r in connected_components_star(self_only).collect()}
    assert rows == {5: 5}


def test_round3_ops_edge_cases(spark):
    """Empty / single-row / degenerate inputs for the round-3 additions:
    KS, JSD, PII."""
    from dataprofiler_spark.operators.drift import (
        histogram,
        jsd_by_group,
        ks_statistic,
    )
    from dataprofiler_spark.operators.pii import pii_scan, pii_summary

    # KS/JSD: empty sides and single-value distributions
    ev = spark.createDataFrame([], "x double, g string")
    assert ks_statistic(ev, ev, "x", "g").count() == 0
    sv = spark.createDataFrame([(1.0, "a")] * 3, "x double, g string")
    assert ks_statistic(sv, sv, "x", "g").collect()[0].ks_stat == 0.0
    # one side empty: D = 1 (all mass vs none) on the populated support
    d = ks_statistic(sv, ev, "x", "g").collect()[0]
    assert d.ks_stat == 1.0 and d.n_cur == 1  # clamped denominator
    h = histogram(sv, "x", 1.0, ["g"])
    he = histogram(ev, "x", 1.0, ["g"])
    assert jsd_by_group(h, h, "g").collect()[0].jsd == 0.0
    assert jsd_by_group(h, he, "g").count() == 1  # baseline-only group kept

    # PII on empty frame and empty-string text
    ep = spark.createDataFrame([], "doc_id long, text string, source string")
    assert pii_scan(ep).count() == 0
    assert pii_summary(ep).count() == 0
    blank = spark.createDataFrame([(1, "", "s")], "doc_id long, text string, source string")
    assert pii_scan(blank).collect()[0].has_pii is False
