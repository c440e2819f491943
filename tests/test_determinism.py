"""Determinism: same seed → byte-identical profile output (SURVEY.md §5
rebuild test plan item 5) and stable CMS estimates."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.drift import token_count_min_sketch
from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.sources import gen_sequences


def test_profile_output_deterministic(spark):
    a = profile(gen_sequences(spark, 3000), "t", group_by=["source"])
    b = profile(gen_sequences(spark, 3000), "t", group_by=["source"])
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb  # byte-identical rows


def test_count_min_sketch_bounds(spark):
    df = gen_sequences(spark, 2000)
    cms = token_count_min_sketch(df, eps=0.001, confidence=0.99)
    counts = df.select(F.explode("tokens").alias("token")).groupBy("token").count()
    exact = {r.token: r["count"] for r in counts.collect()}
    n_total = sum(exact.values())
    assert cms.total_count == n_total
    # CMS never underestimates; overestimate bounded by eps*N
    for tok in list(exact)[:200]:
        est = cms.estimate(tok)
        assert est >= exact[tok]
        assert est <= exact[tok] + 0.001 * n_total * 2  # slack for prob bound

    # mergeability: two half-sketches merged never underestimate the whole
    h1 = token_count_min_sketch(df.filter(F.col("source") == "web"))
    h2 = token_count_min_sketch(df.filter(F.col("source") != "web"))
    h1.merge(h2)
    tok = next(iter(exact))
    assert h1.estimate(tok) >= exact[tok]
