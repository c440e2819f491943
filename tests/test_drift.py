"""Drift: PSI/χ² cross thresholds on shifted distributions, stay quiet on
identical ones (SURVEY.md §5 rebuild test plan item 3)."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.drift import (
    chi_squared,
    histogram,
    psi,
)
from dataprofiler_spark.sources import gen_sequences


@pytest.fixture(scope="module")
def snapshots(spark):
    a = gen_sequences(spark, 8000, seed=42)
    b = gen_sequences(spark, 8000, seed=43)  # same distribution, new sample
    # shifted: n_tok distribution moved right by filtering short docs
    shifted = a.filter(F.col("n_tok") > 80)
    return a, b, shifted


def test_psi_stable_vs_shifted(spark, snapshots):
    a, b, shifted = snapshots
    ha = histogram(a, "n_tok", 16)
    hb = histogram(b, "n_tok", 16)
    hs = histogram(shifted, "n_tok", 16)
    assert psi(ha, hb) < 0.1  # same distribution → stable
    assert psi(ha, hs) > 0.25  # injected shift → major drift


def test_psi_identical_is_zero(spark, snapshots):
    a, _, _ = snapshots
    h = histogram(a, "n_tok", 16)
    assert psi(h, h) == pytest.approx(0.0, abs=1e-12)


def test_chi_squared(spark, snapshots):
    a, b, shifted = snapshots
    ha, hb, hs = (histogram(x, "n_tok", 16) for x in (a, b, shifted))
    stat_same, dof_same = chi_squared(ha, hb)
    stat_shift, dof_shift = chi_squared(ha, hs)
    # same distribution: stat ≈ dof; shifted: stat ≫ dof
    assert stat_same < 3 * dof_same
    assert stat_shift > 10 * dof_shift


def test_histogram_null_bucket(spark):
    df = spark.createDataFrame([(1,), (None,), (25,)], "x int")
    h = {r.bucket: r.cnt for r in histogram(df, "x", 10).collect()}
    assert h[0.0] == 1 and h[20.0] == 1 and h[None] == 1


def test_psi_null_bucket_joins_null_safely(spark):
    """Identical histograms WITH null mass must read as zero drift: the
    NULL buckets have to pair up in the join (eqNullSafe), not each read
    as absent on the other side (which inflated PSI to ~2.3)."""
    from dataprofiler_spark.operators.drift import drift_by_group, psi

    rows = [(i,) for i in range(90)] + [(None,)] * 10
    df = spark.createDataFrame(rows, "x int")
    h = histogram(df, "x", 10)
    assert psi(h, h) == pytest.approx(0.0, abs=1e-12)

    hg = histogram(df.withColumn("g", F.lit("a")), "x", 10, group_by=["g"])
    row = drift_by_group(hg, hg, "g").collect()[0]
    assert row["psi"] == pytest.approx(0.0, abs=1e-6)
    assert row["chi2_stat"] == pytest.approx(0.0, abs=1e-6)
    # null bucket participates in dof: 9 value buckets + the null bucket
    # = 10 buckets with baseline mass → dof 9
    assert row["chi2_dof"] == 9


def test_drift_by_group_null_and_one_sided_groups(spark):
    """The GROUP key half of the null-safety: a NULL group value must not
    be dropped by the totals joins, and a group present on only one side
    (new/vanished partition) must surface with max drift, not vanish."""
    from dataprofiler_spark.operators.drift import drift_by_group

    base = spark.createDataFrame(
        [("a", 0.0, 50), ("a", 10.0, 50), (None, 0.0, 100), ("gone", 0.0, 30)],
        "g string, bucket double, cnt long",
    )
    cur = spark.createDataFrame(
        [("a", 0.0, 50), ("a", 10.0, 50), (None, 0.0, 100), ("new", 0.0, 40)],
        "g string, bucket double, cnt long",
    )
    rows = {r.g: r for r in drift_by_group(base, cur, "g").collect()}
    # NULL group paired with itself: zero drift, not dropped
    assert None in rows and rows[None].psi == pytest.approx(0.0, abs=1e-6)
    assert rows["a"].psi == pytest.approx(0.0, abs=1e-6)
    # one-sided groups survive (baseline-only: no current rows → huge PSI;
    # current-only: no baseline mass → huge PSI, dof -1/no χ² terms)
    assert "gone" in rows and rows["gone"].psi > 1
    assert "new" in rows and rows["new"].psi > 1


def test_categorical_entropy_known_values(spark):
    from dataprofiler_spark.operators.drift import categorical_entropy

    import math

    df = spark.createDataFrame(
        [("g1", "x")] * 2 + [("g1", "y")] * 2 + [("g2", "x")] * 4 + [("g2", None)] * 4,
        "g string, v string",
    )
    rows = {r.g: r for r in categorical_entropy(df, "v", group_by=["g"]).collect()}
    # two equally likely classes -> ln 2; NULL counts as its own class
    assert rows["g1"].entropy == pytest.approx(math.log(2), abs=1e-6)
    assert rows["g1"].n_classes == 2
    assert rows["g2"].entropy == pytest.approx(math.log(2), abs=1e-6)
    # ungrouped: uniform over 3 classes (x: 6, y: 2, NULL: 4 -> not uniform)
    total = categorical_entropy(df, "v").collect()[0]
    p = [6 / 12, 2 / 12, 4 / 12]
    assert total.entropy == pytest.approx(-sum(x * math.log(x) for x in p), abs=1e-6)
    assert total.n_classes == 3


def test_jsd_by_group_properties(spark):
    """JSD: 0 for identical distributions, symmetric, bounded by ln 2
    (reached for disjoint supports) — all without epsilon smoothing."""
    import math

    from dataprofiler_spark.operators.drift import histogram, jsd_by_group

    a = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") % 2).cast("string").alias("g")
    )
    b = spark.range(0, 5000).select(
        ((F.col("id") * 7) % 130).alias("x"), (F.col("id") % 2).cast("string").alias("g")
    )
    ha, hb = histogram(a, "x", 10.0, ["g"]), histogram(b, "x", 10.0, ["g"])
    assert all(r.jsd == 0.0 for r in jsd_by_group(ha, ha, "g").collect())
    ab = {r.g: r.jsd for r in jsd_by_group(ha, hb, "g").collect()}
    ba = {r.g: r.jsd for r in jsd_by_group(hb, ha, "g").collect()}
    assert ab == ba  # symmetric
    assert all(0 < v <= math.log(2) + 1e-9 for v in ab.values())
    # disjoint supports -> exactly ln 2
    c = spark.range(0, 1000).select((F.col("id") % 10 + 1000).alias("x"), F.lit("0").alias("g"))
    hc = histogram(c, "x", 10.0, ["g"])
    one = jsd_by_group(ha.filter(F.col("g") == "0"), hc, "g").collect()[0]
    assert abs(one.jsd - math.log(2)) < 1e-6


def test_ks_statistic_exact_vs_numpy(spark):
    """Grouped exact KS equals the brute-force numpy computation."""
    import numpy as np

    from dataprofiler_spark.operators.drift import ks_statistic

    a = spark.range(0, 6000).select(
        (F.col("id") % 97).alias("x"), (F.col("id") % 3).cast("string").alias("g")
    )
    b = spark.range(0, 6000).select(
        ((F.col("id") * 11) % 123).alias("x"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = {r.g: r for r in ks_statistic(a, b, "x", "g").collect()}
    for g in ("0", "1", "2"):
        av = np.array([i % 97 for i in range(6000) if i % 3 == int(g)])
        bv = np.array([(i * 11) % 123 for i in range(6000) if i % 3 == int(g)])
        vals = np.unique(np.concatenate([av, bv]))
        d = np.abs(
            np.searchsorted(np.sort(av), vals, side="right") / len(av)
            - np.searchsorted(np.sort(bv), vals, side="right") / len(bv)
        ).max()
        assert abs(out[g].ks_stat - d) < 1e-6
        assert out[g].n_base == len(av) and out[g].n_cur == len(bv)
    # identical samples -> 0
    assert all(r.ks_stat == 0.0 for r in ks_statistic(a, a, "x", "g").collect())


def test_ks_nulls_excluded(spark):
    from dataprofiler_spark.operators.drift import ks_statistic

    a = spark.createDataFrame([(1.0,), (2.0,), (None,)], "x double")
    b = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    r = ks_statistic(a, b, "x").collect()[0]
    assert r.ks_stat == 0.0 and r.n_base == 2  # NULL carries no order


def test_wasserstein_exact_and_shift_property(spark):
    """W1 equals the sorted-sample mean absolute difference for
    equal-size samples, and W1(x, x+c) == c exactly."""
    import numpy as np

    from dataprofiler_spark.operators.drift import wasserstein_1d

    a = spark.range(0, 4000).select((F.col("id") % 211).alias("x"), F.lit("g").alias("g"))
    b = spark.range(0, 4000).select(((F.col("id") * 13) % 301).alias("x"), F.lit("g").alias("g"))
    got = wasserstein_1d(a, b, "x", "g").collect()[0].w1
    av = np.sort(np.array([i % 211 for i in range(4000)]))
    bv = np.sort(np.array([(i * 13) % 301 for i in range(4000)]))
    assert abs(got - np.abs(av - bv).mean()) < 1e-6

    shifted = a.withColumn("x", F.col("x") + 37)
    assert wasserstein_1d(a, shifted, "x", "g").collect()[0].w1 == 37.0
    assert wasserstein_1d(a, a, "x", "g").collect()[0].w1 == 0.0
    # magnitude sensitivity vs KS: a +500 shift has KS 1.0 (same as +5 on
    # disjoint support) but 100x the W1
    from dataprofiler_spark.operators.drift import ks_statistic
    s5 = a.withColumn("x", F.col("x") + 500)
    ks = ks_statistic(a, s5, "x", "g").collect()[0].ks_stat
    w = wasserstein_1d(a, s5, "x", "g").collect()[0].w1
    assert ks == 1.0 and w == 500.0
