"""Deterministic per-stratum sampling with the skew-safe two-stage rank
(plans/windows.top_rows_per_group) under a salted md5 order with a key
tie-break: the balanced-subset pattern the validation path's capped
samples (violations, duplicate keys) are built on."""

from pyspark.sql import functions as F

from dataprofiler_spark.plans.windows import top_rows_per_group


def _stratified(df, n, salt=""):
    h = F.md5(F.concat(F.lit(salt), F.col("k").cast("string")))
    return {(r.g, r.k) for r in top_rows_per_group(df, ["g"], [h, F.col("k")], n).collect()}


def test_stratified_sample_balanced_and_nested(spark):
    """Exactly n per stratum (or the whole stratum when smaller),
    deterministic across calls and partitionings, n=5 ⊆ n=10 with the
    same salt, and a different salt draws a different subset."""
    rows = [(i, "big" if i < 80 else "small") for i in range(84)]
    df = spark.createDataFrame(rows, "k bigint, g string")
    s10 = _stratified(df, 10)
    per = {}
    for g, k in s10:
        per.setdefault(g, set()).add(k)
    assert len(per["big"]) == 10 and len(per["small"]) == 4  # capped at |stratum|
    # deterministic, also when the map-local pre-trim sees other splits
    assert _stratified(df, 10) == s10
    assert _stratified(df.repartition(7), 10) == s10
    # nested supersets
    assert _stratified(df, 5) <= s10
    # a different salt draws a different subset
    assert _stratified(df, 10, salt="x") != s10
