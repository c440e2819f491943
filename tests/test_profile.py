"""Metric semantics parity with the reference's dbt-profiler conventions
(/root/reference/src/core/metrics.py): gating, rounding, is_unique verdict,
stringified min/max — on a hand-computed fixture."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataprofiler_spark.operators.profile import profile


@pytest.fixture(scope="module")
def small(spark):
    rows = [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "b", None),
        (4, None, 40.0),
        (5, "c", 10.0),
    ]
    return spark.createDataFrame(rows, "id int, name string, val double")


def prof_map(df):
    return {r.column_name: r for r in df.collect()}


def test_counts_proportions_unique(small):
    p = prof_map(profile(small, "t"))
    assert p["id"].row_count == 5
    assert p["id"].not_null_count == 5
    assert p["id"].distinct_count == 5
    assert p["id"].is_unique is True  # metrics.py:287

    assert p["name"].not_null_count == 4
    assert p["name"].distinct_count == 3  # COUNT(DISTINCT) skips NULL
    assert p["name"].not_null_proportion == 0.8  # round(·,4) metrics.py:404
    assert p["name"].distinct_proportion == 0.6
    assert p["name"].is_unique is False

    assert p["val"].not_null_count == 4
    assert p["val"].distinct_count == 3
    assert p["val"].is_unique is False


def test_minmax_stringified_and_gated(small):
    p = prof_map(profile(small, "t"))
    # numeric → supported, stringified (metrics.py:293-338)
    assert p["id"].min_value == "1"
    assert p["id"].max_value == "5"
    assert p["val"].max_value == "40.0"
    # string → not minmax-supported per dbt-profiler gate (metrics.py:211-229)
    assert p["name"].min_value is None
    assert p["name"].max_value is None


def test_numeric_stats_rounding(small):
    p = prof_map(profile(small, "t"))
    vals = [10.0, 20.0, 40.0, 10.0]
    mean = sum(vals) / 4
    sdp = math.sqrt(sum((v - mean) ** 2 for v in vals) / 4)
    sds = math.sqrt(sum((v - mean) ** 2 for v in vals) / 3)
    assert p["val"].avg_value == round(mean, 6)  # round 6, metrics.py:410
    assert p["val"].median_value == 15.0  # PERCENTILE_CONT(0.5), metrics.py:353
    assert p["val"].stddev_pop == round(sdp, 6)
    assert p["val"].stddev_samp == round(sds, 6)
    # non-numeric columns gated out (metrics.py:193-208)
    assert p["name"].avg_value is None
    assert p["name"].median_value is None


def test_zero_not_none(spark):
    """Deliberate divergence from the reference's falsy-rounding bug
    (metrics.py:404-413 maps 0.0 → None; SURVEY.md §4.3)."""
    df = spark.createDataFrame([(0.0,), (0.0,)], "x double")
    p = prof_map(profile(df, "t"))
    assert p["x"].avg_value == 0.0
    assert p["x"].stddev_pop == 0.0


def test_empty_table(spark):
    df = spark.createDataFrame([], T.StructType([T.StructField("x", T.IntegerType())]))
    rows = profile(df, "t").collect()
    # ungrouped agg on empty input still yields the single global group
    assert len(rows) == 1
    assert rows[0].row_count == 0
    assert rows[0].not_null_proportion is None  # None-gated when row_count==0 (metrics.py:284-286)


def test_approx_mode(spark):
    df = spark.range(0, 5000).selectExpr("id", "cast(id % 97 as double) as v")
    p = prof_map(profile(df, "t", exact=False))
    assert abs(p["id"].distinct_count - 5000) / 5000 < 0.05  # HLL++ rsd
    assert abs(p["v"].median_value - 48.0) <= 1.0


def test_grouped_profile(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, x int"
    )
    rows = profile(df, "t", group_by=["g"]).collect()
    by = {(r.g, r.column_name): r for r in rows}
    assert by[("a", "x")].row_count == 2
    assert by[("b", "x")].row_count == 1
    assert by[("a", "x")].avg_value == 1.5


def test_approx_is_unique_tolerates_hll_error(spark):
    """In approx mode is_unique must not flap within the HLL rsd band:
    5000 unique ids stay 'unique' even when the estimate is off by a
    percent; a clearly duplicated column stays non-unique."""
    df = spark.range(0, 5000).selectExpr("id", "id % 7 as dup")
    p = prof_map(profile(df, "t", exact=False))
    assert p["id"].is_unique is True
    assert p["dup"].is_unique is False


def test_array_profile_tokens(spark):
    """Array-column profile on the input_hint tokens shape: sizes, exact
    whole-array distinct, element bounds; null arrays excluded from
    not_null_count; non-array / non-numeric-element columns ignored."""
    from dataprofiler_spark.operators.profile import array_profile

    df = spark.createDataFrame(
        [(1, [1, 2, 3], ["a"]), (2, [4, 5], ["b"]), (3, None, None), (4, [1, 2, 3], ["c"])],
        "id bigint, tokens array<int>, labels array<string>",
    )
    rows = {r.column_name: r for r in array_profile(df, "t").collect()}
    assert set(rows) == {"tokens"}  # string-element arrays gated out
    t = rows["tokens"]
    assert (t.row_count, t.not_null_count, t.distinct_count) == (4, 3, 2)
    assert (t.min_size, t.max_size) == (2, 3)
    assert t.avg_size == pytest.approx(8 / 3, abs=1e-6)
    assert (t.elem_min, t.elem_max) == (1.0, 5.0)
    # grouped variant: one row per (group, column)
    g = array_profile(df.withColumn("g", F.col("id") % 2), "t", group_by=["g"])
    assert g.count() == 2


def test_partition_skew_report(spark):
    from dataprofiler_spark.operators.profile import partition_skew_report

    df = spark.createDataFrame(
        [("hot",)] * 80 + [("a",)] * 10 + [("b",)] * 10, "src string"
    )
    rows = {r.partition_value: r for r in partition_skew_report(df, "src").collect()}
    assert rows["hot"].fraction == 0.8
    assert rows["hot"].rows_over_avg == 2.4  # 80 / mean(80,10,10)
    assert rows["a"].rows_over_avg == 0.3


def test_frequent_values_basic(spark):
    from dataprofiler_spark.operators.profile import frequent_values

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), (None, 2), ("a", 3)], "s string, n int"
    )
    out = frequent_values(df, ["s", "n"], k=2).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r.column_name, []).append((r.rank, r.value, r.cnt))
    assert sorted(by_col["s"]) == [(1, "a", 3), (2, None, 1)]  # NULL is a class
    assert sorted(by_col["n"]) == [(1, "2", 3), (2, "1", 1)]


def test_frequent_values_one_scan_two_stage(spark):
    from dataprofiler_spark.operators.profile import frequent_values

    df = spark.createDataFrame([("a", 1)], "s string, n int")
    plan = frequent_values(df)._jdf.queryExecution().executedPlan().toString()
    # one scan feeding one aggregate; the rank is the two-stage pattern
    # (two windows: map-local pre-trim + final), never a single global one
    assert plan.count("Scan ExistingRDD") <= 1
    # skew-safe top-k signature: Spark 4 plans the rank-limit as
    # WindowGroupLimit Partial (map-side pre-trim) + Final — no reducer
    # ever sorts a column's full distinct-value set
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_category_diversity_hand_computed(spark):
    """[a×4, b×2, c×2]: H = 1.5 bits, norm = 1.5/log2(3), HHI = 0.375,
    top share = 0.5; a single-category column gets NULL norm_entropy."""
    from dataprofiler_spark.operators.profile import category_diversity

    df = spark.createDataFrame(
        [(v,) for v in ["a"] * 4 + ["b"] * 2 + ["c"] * 2], "source string"
    )
    r = category_diversity(df, "source").collect()[0]
    assert (r.n_categories, r.n_rows) == (3, 8)
    assert r.entropy_bits == 1.5
    assert r.norm_entropy == round(1.5 / 1.584962500721156, 6)
    assert r.hhi == 0.375
    assert r.top_share == 0.5

    one = spark.createDataFrame([("a",), ("a",)], "source string")
    r1 = category_diversity(one, "source").collect()[0]
    assert r1.entropy_bits == 0.0 and r1.norm_entropy is None
