"""The md5 double-hashing Bloom bitmap (plans/bloom.py): no false
negatives over a ledger, the map-side probe plan and the bit layout. No
package code calls these helpers now; they are kept for the
sketch-then-confirm resume of ROADMAP Direction 1."""


def test_bloom_history_identical_and_no_false_negatives(spark):
    """Every digest in the ledger must be flagged maybe_seen by the probe
    of a bloom built over that ledger (zero false negatives)."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.plans.bloom import (
        bloom_probe,
        build_digest_bloom,
        content_hash,
    )

    docs = spark.createDataFrame(
        [(i, f"content-{i % 40}") for i in range(120)], "doc_id bigint, text string"
    )
    hist = docs.filter(F.col("doc_id") % 3 == 0).select(
        content_hash("text").alias("digest")
    )
    new = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")

    # every truly-seen digest flags maybe_seen=True (zero false negatives)
    probed = bloom_probe(new, build_digest_bloom(hist), ["text"])
    staged = probed.withColumn("__dg", content_hash("text"))
    seen = staged.join(hist, staged["__dg"] == hist["digest"], "left_semi")
    # gcd(3, 40) = 1, so the ledger holds all 40 contents: every row is seen
    assert seen.count() == new.count() == 80
    assert seen.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_probe_plan_is_mapside(spark):
    """The probe must be pure map-side over the batch: k BROADCAST hash
    joins of the bitmap, no shuffle exchange of the probed frame and no
    Python UDF (the 100-TB contract: the batch is never re-shuffled just
    to ask 'seen before?')."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.plans.bloom import bloom_probe, build_digest_bloom

    hist = spark.range(100).select(F.md5(F.col("id").cast("string")).alias("digest"))
    new = spark.range(50).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    bloom = build_digest_bloom(hist)
    # materialize the bloom first so its own (legitimate) aggregate
    # exchange does not appear in the probe plan under test
    bloom = spark.createDataFrame(bloom.collect(), bloom.schema)
    out = bloom_probe(new, bloom, ["text"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    # the only exchanges are broadcast distributions of the bitmap
    import re

    non_broadcast = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
    assert non_broadcast == [], non_broadcast


def test_build_digest_bloom_bit_layout(spark):
    """Bitmap words reproduce the documented double-hashing layout:
    pos_i = (h1 + i*h2) mod m, word pos//64, bit pos%64 — recomputed in
    plain Python from the digests."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.plans.bloom import build_digest_bloom

    digests = [f"{i:032x}" for i in (3, 5, 7)] + ["ab" * 16]
    df = spark.createDataFrame([(d,) for d in digests], "digest string")
    m, k = 1 << 10, 5
    got = {r.word_idx: r.word for r in build_digest_bloom(df, m_bits=m, k=k).collect()}
    want: dict[int, int] = {}
    for d in digests:
        h1 = int(d[:15], 16)
        h2 = int(d[15:30], 16) | 1
        for i in range(k):
            pos = (h1 + i * h2) % m
            w = want.get(pos // 64, 0) | (1 << (pos % 64))
            # Spark longs are signed 64-bit
            want[pos // 64] = w - (1 << 64) if w >= (1 << 63) else w
    assert got == want
