"""Verdict-matrix and violation-row parity on the injected-violation fixture.

Expected counts derive from ViolationSpec (FIXTURES.md §4): every defect is
injected at exact row-id ranges, so the pass/fail matrix is known a priori —
the rebuild analog of the reference's seeded prod/uat drift fixtures
(/root/reference/init-scripts/postgres/01-sample-data.sql).
"""

import numpy as np
import pandas as pd
import pytest

from dataprofiler_spark.operators.checks import (
    _lists_equal_batch,
    equality_frame,
    row_check_frame,
    run_sequence_suite,
    uniqueness_frame,
    verdicts_and_violations,
)
from dataprofiler_spark.sources import gen_sequences, gen_sources_ref, violation_spec

N = 10_000


@pytest.fixture(scope="module")
def suite_result(spark):
    bad = gen_sequences(spark, N, violations=True)
    ref = gen_sequences(spark, N, violations=False)  # golden copy
    res = run_sequence_suite(bad, gen_sources_ref(spark), reference=ref, violation_cap=10_000)
    verdicts = {
        (r.partition_value, r.check_name): r
        for r in res.verdicts.collect()
    }
    violations = res.violations.groupBy("check_name").count().collect()
    vio_counts = {r.check_name: r["count"] for r in violations}
    return verdicts, vio_counts


def test_expected_verdict_matrix(suite_result):
    verdicts, _ = suite_result
    u = violation_spec(N).dup_rows[1]  # 100

    # duplicates: u rows forced into web, u/2 pairs → u violation rows
    assert verdicts[("web", "unique_doc_id")].violation_count == u
    assert not verdicts[("web", "unique_doc_id")].passed
    assert verdicts[("books", "unique_doc_id")].passed

    # orphans: 'ghost' partition fails RI entirely
    assert verdicts[("ghost", "ri_source")].violation_count == u
    assert not verdicts[("ghost", "ri_source")].passed
    assert verdicts[("web", "ri_source")].passed

    # registered-but-empty partition fails row_count_gt_0
    assert not verdicts[("empty_src", "row_count_gt_0")].passed
    assert verdicts[("web", "row_count_gt_0")].passed

    # n_tok / range / null-doc totals across partitions == injected counts
    for check in ("n_tok_matches_size", "token_range", "doc_id_not_null"):
        total = sum(v.violation_count for (p, c), v in verdicts.items() if c == check)
        assert total == u, check

    # reference equality: perturbed rows + range rows (range injection also
    # changes tokens vs the golden copy) = 2u mismatches
    total_eq = sum(
        v.violation_count for (p, c), v in verdicts.items() if c == "tokens_match_reference"
    )
    assert total_eq == 2 * u


def test_expected_violation_rows(suite_result):
    _, vio = suite_result
    u = violation_spec(N).dup_rows[1]
    assert vio["unique_doc_id"] == u
    assert vio["ri_source"] == u
    assert vio["n_tok_matches_size"] == u
    assert vio["token_range"] == u
    assert vio["doc_id_not_null"] == u
    assert vio["tokens_match_reference"] == 2 * u


def test_clean_data_all_pass(spark):
    clean = gen_sequences(spark, 2000)
    res = run_sequence_suite(clean, gen_sources_ref(spark), reference=clean)
    failing = res.verdicts.filter(
        (~res.verdicts.passed) & (res.verdicts.check_name != "row_count_gt_0")
    ).count()
    assert failing == 0
    # the only expected failure: registered-but-empty partition
    empty = res.verdicts.filter(~res.verdicts.passed).collect()
    assert {(r.partition_value, r.check_name) for r in empty} == {("empty_src", "row_count_gt_0")}
    assert res.violations.count() == 0


def test_lists_equal_batch_vectorized():
    a = pd.Series([np.array([1, 2, 3]), np.array([]), np.array([5]), None, np.array([7, 8])])
    b = pd.Series([np.array([1, 2, 3]), np.array([]), np.array([6]), np.array([1]), np.array([7, 8, 9])])
    out = _lists_equal_batch(a, b)
    assert list(out) == [True, True, False, False, False]


def test_prefilter_equality_same_counts(spark):
    """hash-prefiltered equality must produce the same verdict counts and
    violation rows as the full-UDF mode (collision probability 2^-64)."""
    bad = gen_sequences(spark, N, violations=True)
    ref = gen_sequences(spark, N, violations=False)
    v_full, x_full = verdicts_and_violations(
        equality_frame(bad, ref, exact=True), "t", violation_cap=10_000
    )
    v_pre, x_pre = verdicts_and_violations(
        equality_frame(bad, ref, exact=False), "t", violation_cap=10_000
    )
    full = {(r.partition_value): r.violation_count for r in v_full.collect()}
    pre = {(r.partition_value): r.violation_count for r in v_pre.collect()}
    assert full == pre
    assert x_full.count() == x_pre.count() == 2 * violation_spec(N).dup_rows[1]
    # the digest join yields the same violation rows, detail included
    assert sorted(x_full.collect()) == sorted(x_pre.collect())


def test_lists_equal_both_null_passes():
    """NULL semantics consistent with prefilter mode (xxhash64(NULL) ==
    xxhash64(NULL)): both-null is equal; null-vs-value is a violation."""
    a = pd.Series([None, None, np.array([1])])
    b = pd.Series([None, np.array([1]), None])
    assert list(_lists_equal_batch(a, b)) == [True, False, False]
    # all-null columns (NullArray inference path)
    assert list(_lists_equal_batch(pd.Series([None, None]), pd.Series([None, None]))) == [True, True]


def test_null_tokens_same_verdict_both_modes(spark):
    """NULL tokens and NULL token elements must get the SAME verdict from
    both equality modes, the one SQL's IS DISTINCT FROM gives: a null-vs-null
    row passes, and [1, NULL] equals [1, NULL] but not [NULL, 1]."""
    df = spark.createDataFrame(
        [(1, None, "a"), (2, [1, 2], "a"), (3, None, "a"),
         (4, [1, None], "a"), (5, [None, 1], "a")],
        "doc_id bigint, tokens array<int>, source string",
    )
    ref = spark.createDataFrame(
        [(1, None), (2, [1, 2]), (3, [9]), (4, [1, None]), (5, [1, None])],
        "doc_id bigint, tokens array<int>",
    )
    for exact in (True, False):
        v, _ = verdicts_and_violations(equality_frame(df, ref, exact=exact), "t")
        row = v.collect()[0]
        assert row.violation_count == 2, exact  # doc 3 (null vs value) and doc 5
        assert row.row_count == 5, exact


def test_violation_cap_is_per_check_per_partition(spark):
    """Mass failure: the cap window is keyed on (check_name,
    partition_value), so each partition contributes up to `cap` rows —
    not one global reducer funneling every violating row of a check."""
    from dataprofiler_spark.operators.checks import RowCheck
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"),
    )
    checks = [RowCheck("always_fails", F.lit(True), F.lit("boom"))]
    _, violations = verdicts_and_violations(
        row_check_frame(df, checks, part_col="source", key_col="doc_id"), "t", violation_cap=10
    )
    per_part = {r["partition_value"]: r["count"] for r in
                violations.groupBy("partition_value").count().collect()}
    assert per_part == {"0": 10, "1": 10, "2": 10, "3": 10}


def test_violation_caps_are_per_partition_everywhere(spark):
    """uniqueness/RI/equality violation caps bound rows PER (check,
    partition) — a global limit starves later partitions of their budget
    (mass failure in one partition would read as 'other partitions
    clean')."""
    rows = [(f"dup{i % 3}", p) for p in ("p1", "p2") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    _, v = verdicts_and_violations(uniqueness_frame(df), "t", violation_cap=5)
    per_part = {r.partition_value: 0 for r in v.collect()}
    for r in v.collect():
        per_part[r.partition_value] += 1
    assert per_part == {"p1": 5, "p2": 5}  # 5 per partition, not 5 total

    parents = spark.createDataFrame([("known",)], "source string")
    orphans = spark.createDataFrame(
        [(f"k{i}", p) for p in ("p1", "p2") for i in range(20)],
        "doc_id string, source2 string",
    ).withColumnRenamed("source2", "source")
    _, rv = verdicts_and_violations(
        row_check_frame(orphans, [], registered=parents), "t", violation_cap=3
    )
    counts = {}
    for r in rv.filter(rv.check_name == "ri_source").collect():
        counts[r.partition_value] = counts.get(r.partition_value, 0) + 1
    assert all(c == 3 for c in counts.values()) and len(counts) == 2


def test_uniqueness_null_keys_spread_not_funneled(spark):
    """High-null (or hot-duplicate) keys must not funnel rows into a
    single reducer (the 10^12-row hazard): the two-level aggregate
    collapses every (key, partition) group map-side before any shuffle.
    Correctness is unchanged — NULLs are never duplicates, but still
    count toward row_count."""
    rows = [(None, "s") for _ in range(50)] + [("a", "s"), ("a", "s"), ("b", "s")]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    verdicts, violations = verdicts_and_violations(uniqueness_frame(df), "t")
    v = verdicts.collect()[0]
    assert (v.row_count, v.violation_count, v.passed) == (53, 2, False)
    assert sorted(r.key for r in violations.collect()) == ["a", "a"]
