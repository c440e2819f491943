"""Distribution-drift detection: histograms, PSI, chi-squared, token sketches.

The reference's "drift" is metric-delta display and schema/inventory set-diffs
(/root/reference/dashboard/backend/app.py:429-436, 1094-1177) — it has NO
distributional test. The north_star requires PSI / chi-squared over n_tok
histograms and token-frequency sketches vs a stored baseline profile, so this
module is a designed extension (SURVEY.md §2.4 A15), built as plain DataFrame
math: no UDF and no join.

Token-frequency drift has no function of its own: `pipeline.run_validation`
passes the exploded (partition, token) rows to `drift_by_group`, whose merge
aggregate counts them. `token_count_min_sketch` is the bounded-memory count
sketch of the same stream.

Scale shape: a histogram of a 10^12-row table is groupBy(bucket) over ~1e3
buckets → partial aggregation collapses everything map-side. Every
two-sided statistic merges its sides the same way: a tagged union and ONE
hash aggregate over the keys (so rows sharing a key add up), then totals
as window sums and one aggregate for the statistic — each input is
scanned once and no aggregated side is shuffled a second time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def histogram(
    df: DataFrame,
    col: str,
    bucket_width: float,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram: (bucket = floor(col/width)*width, cnt).
    NULLs land in a NULL bucket so drift in null-rate is visible too."""
    group_by = group_by or []
    bucket = (F.floor(F.col(col) / F.lit(bucket_width)) * F.lit(bucket_width)).cast(
        "double"
    )
    return df.groupBy(*group_by, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _merged(
    baseline: DataFrame,
    current: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
) -> DataFrame:
    """The one merge of two count frames ((*group_cols, *key_cols, cnt)
    each) → (*group_cols, *key_cols, b_cnt, c_cnt, b_tot, c_tot), with the
    totals per group (over the whole frame when group_cols is empty).

    Tagged union + ONE hash aggregate over the keys: rows that share a
    key add up on either side, so a side may be a histogram or
    un-aggregated (key, cnt) rows. groupBy keys
    NULL like any other value, so each side's NULL bucket (null-rate mass)
    and NULL group pair with the other side's, and a key or group present
    on one side only gets 0 on the other. The totals are window sums over
    the merged rows (group-sized: at most a group's bucket count), so no
    input is read twice and no aggregated side is re-shuffled by a join."""
    keys = [*group_cols, *key_cols]
    tagged = baseline.select(
        *keys, F.col("cnt").alias("__b"), F.lit(0).alias("__c")
    ).unionByName(
        current.select(*keys, F.lit(0).alias("__b"), F.col("cnt").alias("__c"))
    )
    w = Window.partitionBy(*group_cols)
    return (
        tagged.groupBy(*keys)
        .agg(F.sum("__b").alias("b_cnt"), F.sum("__c").alias("c_cnt"))
        .select(
            *keys,
            "b_cnt",
            "c_cnt",
            F.sum("b_cnt").over(w).alias("b_tot"),
            F.sum("c_cnt").over(w).alias("c_tot"),
        )
    )


def _proportions(eps: float) -> tuple[Column, Column]:
    """(p_base, p_cur) over _merged's rows, epsilon-smoothed: a bucket
    present on one side only must not produce ±inf."""
    p_base = F.greatest(F.col("b_cnt") / F.greatest(F.col("b_tot"), F.lit(1)), F.lit(eps))
    p_cur = F.greatest(F.col("c_cnt") / F.greatest(F.col("c_tot"), F.lit(1)), F.lit(eps))
    return p_base, p_cur


def psi(
    baseline: DataFrame,
    current: DataFrame,
    key_cols: list[str] | None = None,
    eps: float = 1e-6,
) -> float:
    """Population Stability Index: Σ (p_cur - p_base) · ln(p_cur / p_base).

    Rule of thumb thresholds: <0.1 stable, 0.1-0.25 moderate, >0.25 major
    shift (standard PSI convention; the reference has no analog)."""
    p_base, p_cur = _proportions(eps)
    row = (
        _merged(baseline, current, [], key_cols or ["bucket"])
        .agg(F.sum((p_cur - p_base) * F.log(p_cur / p_base)).alias("psi"))
        .collect()[0]
    )
    return float(row["psi"] or 0.0)


def chi_squared(
    baseline: DataFrame,
    current: DataFrame,
    key_cols: list[str] | None = None,
) -> tuple[float, int]:
    """Pearson χ² of current counts vs expected counts scaled from the
    baseline distribution. Returns (statistic, degrees_of_freedom).
    Buckets with zero baseline mass are excluded (no expected count)."""
    p_base, _ = _proportions(0.0)
    expected = p_base * F.greatest(F.col("c_tot"), F.lit(1))
    stats = (
        _merged(baseline, current, [], key_cols or ["bucket"])
        .filter(F.col("b_cnt") > 0)
        .select(((F.col("c_cnt") - expected) ** 2 / expected).alias("term"))
        .agg(F.sum("term").alias("stat"), F.count(F.lit(1)).alias("k"))
        .collect()[0]
    )
    return float(stats["stat"] or 0.0), max(int(stats["k"]) - 1, 0)


def drift_by_group(
    baseline: DataFrame,
    current: DataFrame,
    group_col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group PSI and χ² between two grouped count frames
    ((group, bucket, cnt) each) — fully distributed, one row per group:
    (group, psi, chi2_stat, chi2_dof). This is the per-partition drift
    verdict input for the validation pipeline.

    Rows that share a (group, bucket) add up, on either side: `current`
    may be raw (group, bucket, cnt = 1) rows, as the pipeline's
    token-frequency check passes them. Plan: the tagged union of both
    sides, one hash aggregate over (group, bucket) (map-side partials
    collapse raw rows to bucket counts), the per-group totals as window
    sums over group, then this per-group aggregate — no join, and each
    input is scanned once."""
    p_base, p_cur = _proportions(eps)
    expected = p_base * F.col("c_tot")
    return _merged(baseline, current, [group_col], ["bucket"]).groupBy(group_col).agg(
        F.round(F.sum((p_cur - p_base) * F.log(p_cur / p_base)), 6).alias("psi"),
        F.round(
            F.sum(
                # expected = p_base * c_tot is 0 for a group with NO
                # current rows (a baseline-only group survives the
                # merge): χ² has no defined term there, so it
                # contributes nothing
                F.when(
                    (F.col("b_cnt") > 0) & (expected > 0),
                    (F.col("c_cnt") - expected) ** 2 / expected,
                )
            ),
            6,
        ).alias("chi2_stat"),
        (F.sum(F.when(F.col("b_cnt") > 0, 1).otherwise(0)) - 1).alias("chi2_dof"),
    )


def jsd_by_group(
    baseline: DataFrame,
    current: DataFrame,
    group_col: str,
) -> DataFrame:
    """Per-group Jensen–Shannon divergence between two grouped histograms:
    JSD = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2, in nats, bounded
    [0, ln 2 ≈ 0.6931]. Complements PSI/χ²: symmetric, always finite (no
    epsilon smoothing needed — a bucket absent on one side contributes a
    bounded term, where PSI's log-ratio diverges and needs eps).

    Same merge and plan as drift_by_group (rows sharing a (group, bucket)
    add up; tagged-union aggregate + per-group window totals) and one
    hash aggregate per group. The reference has no distributional test
    (this module's header); designed extension like PSI/χ²."""
    p, q = _proportions(0.0)
    m = (p + q) / F.lit(2.0)
    # 0·log(0/m) ≡ 0 (limit), so gate each KL term on its own mass
    term = (
        F.when(F.col("b_cnt") > 0, p * F.log(p / m) / 2).otherwise(F.lit(0.0))
        + F.when(F.col("c_cnt") > 0, q * F.log(q / m) / 2).otherwise(F.lit(0.0))
    )
    return (
        _merged(baseline, current, [group_col], ["bucket"])
        .groupBy(group_col)
        .agg(F.round(F.sum(term), 6).alias("jsd"))
    )


def _cdfs(
    baseline: DataFrame, current: DataFrame, col: str, keys: list[str]
) -> DataFrame:
    """Both sides' empirical CDFs at every observed non-NULL value of
    `col`, per group: (*keys, v, cb, cc, nb, nc) with cb/nb and cc/nc the
    CDFs at v. _merged over one count per row (map-side partials collapse
    rows to distinct values), then a cumulative-sum window per group
    ordered by value."""

    def values(df: DataFrame) -> DataFrame:
        return df.filter(F.col(col).isNotNull()).select(
            *keys, F.col(col).alias("v"), F.lit(1).alias("cnt")
        )

    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _merged(values(baseline), values(current), keys, ["v"]).select(
        *keys,
        "v",
        F.sum("b_cnt").over(w_cum).alias("cb"),
        F.sum("c_cnt").over(w_cum).alias("cc"),
        F.greatest(F.col("b_tot"), F.lit(1)).alias("nb"),
        F.greatest(F.col("c_tot"), F.lit(1)).alias("nc"),
    )


def ks_statistic(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, optionally per group:
    D = max over observed values of |CDF_base(x) − CDF_cur(x)|, computed on
    RAW rows (no pre-bucketing — this is the exact test the bucketed
    PSI/χ² approximate). NULL values carry no order and are excluded; each
    side's sample size is returned so callers can apply the asymptotic
    critical value c(α)·√((n+m)/(n·m)).

    Distributed shape: tag each side, union, and run ONE hash aggregate
    over (group, value) — map-side partials collapse row count to
    distinct-value count, and the tagged union needs a single shuffle
    where a two-aggregate + full-outer-join merge needs three. Then a
    cumulative-sum window per group ordered by value. The
    window sorts only DISTINCT values within each group (bounded by value
    cardinality, not row count); for truly continuous high-cardinality
    columns at corpus scale, quantize first (histogram()) and accept the
    bucketed approximation — the sort per group is the scale limit of the
    exact test on any engine.
    """
    keys = [group_col] if group_col else []
    return _cdfs(baseline, current, col, keys).groupBy(*keys).agg(
        F.round(
            F.max(F.abs(F.col("cb") / F.col("nb") - F.col("cc") / F.col("nc"))), 6
        ).alias("ks_stat"),
        F.max("nb").alias("n_base"),
        F.max("nc").alias("n_cur"),
    )


def wasserstein_1d(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance, optionally per
    group: W₁ = ∫|CDF_base(x) − CDF_cur(x)| dx, computed as
    Σ |ΔCDF(v)| · (next_v − v) over consecutive observed values. The
    magnitude-sensitive complement to KS: a distribution shifted by 500
    and one shifted by 5 have similar KS but 100× different W₁ — W₁ is
    in the UNITS of `col`, directly thresholdable ("mean token length
    moved by ~N characters of mass").

    Same distributed shape as ks_statistic (tagged union → ONE aggregate
    over distinct values → per-group ordered window); numeric columns
    only (the distance needs a metric). NULLs are excluded as in KS."""
    keys = [group_col] if group_col else []
    w_next = Window.partitionBy(*keys).orderBy("v")
    v = F.col("v").cast("double")
    staged = _cdfs(baseline, current, col, keys).select(
        *keys,
        (
            F.abs(F.col("cb") / F.col("nb") - F.col("cc") / F.col("nc"))
            * (F.lead(v).over(w_next) - v)
        ).alias("__seg"),
    )
    return staged.groupBy(*keys).agg(
        F.round(F.coalesce(F.sum("__seg"), F.lit(0.0)), 6).alias("w1")
    )


def categorical_entropy(
    df: DataFrame,
    col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Shannon entropy (nats) of a categorical column's distribution,
    optionally per group: −Σ p·ln p, plus the distinct-count. A skew/
    balance profile metric — entropy ≈ 0 flags a near-constant column,
    entropy ≈ ln(k) a uniform one.

    Two hash aggregations + a group-sized join; NULL category participates
    as its own class (its mass is part of the distribution)."""
    group_by = group_by or []
    counts = df.groupBy(*group_by, F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if group_by:
        tot = counts.groupBy(*group_by).agg(F.sum("cnt").alias("tot"))
        cond = None
        for k in group_by:
            eq = counts[k].eqNullSafe(tot[k])
            cond = eq if cond is None else (cond & eq)
        joined = counts.alias("c").join(tot.alias("t"), cond).select(
            *[F.col(f"c.{k}") for k in group_by], "cnt", "tot"
        )
    else:
        joined = counts.crossJoin(
            counts.agg(F.sum("cnt").alias("tot"))
        )
    p = F.col("cnt") / F.col("tot")
    return joined.groupBy(*group_by).agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        F.count(F.lit(1)).alias("n_classes"),
    )


class CountMinSketchHandle:
    """Driver-side handle over Spark's JVM CountMinSketch (the PySpark
    DataFrame API does not surface df.stat.countMinSketch; the SQL
    aggregate `count_min_sketch` returns the serialized sketch, which we
    rehydrate through the gateway). Mergeable across partitions/snapshots."""

    def __init__(self, spark, payload: bytes):
        jvm = spark.sparkContext._jvm
        bis = jvm.java.io.ByteArrayInputStream(bytes(payload))
        self._j = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)

    def estimate(self, item: int) -> int:
        return int(self._j.estimateCount(int(item)))

    def merge(self, other: "CountMinSketchHandle") -> "CountMinSketchHandle":
        self._j.mergeInPlace(other._j)
        return self

    @property
    def total_count(self) -> int:
        return int(self._j.totalCount())


def token_count_min_sketch(
    df: DataFrame,
    tokens_col: str = "tokens",
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> CountMinSketchHandle:
    """Count-Min sketch over the exploded token stream (north_star
    "token-frequency sketches"): sublinear memory (w·d counters) regardless
    of vocab size; point-lookup overestimates by ≤ eps·N with probability
    `confidence`. Computed as ONE distributed aggregate (partial sketches
    merge on the reducers); only the fixed-size sketch reaches the driver."""
    exploded = df.select(F.explode(tokens_col).alias("token"))
    row = exploded.agg(
        F.expr(
            f"count_min_sketch(token, cast({eps} as double), cast({confidence} as double), {seed})"
        ).alias("sketch")
    ).collect()[0]
    return CountMinSketchHandle(df.sparkSession, row["sketch"])
