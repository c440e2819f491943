"""Structured Streaming validation: micro-batch suite parity with batch,
checkpoint resume (new files only), running violation counters."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.sources import gen_sequences
from dataprofiler_spark.streaming.validate import (
    sequence_schema,
    streaming_violation_counts,
    validate_stream,
)

N = 3000


def _write_batch(spark, path, n, violations, offset_dir):
    gen_sequences(spark, n, violations=violations).write.mode("overwrite").parquet(
        f"{path}/{offset_dir}"
    )


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, inp, N, True, "f1")

    q = validate_stream(spark, f"{inp}/*", ckpt, out, violation_cap=10_000)
    q.awaitTermination(120)
    v1 = spark.read.parquet(f"{out}/verdicts")
    batches1 = [r.batch_id for r in v1.select("batch_id").distinct().collect()]

    # totals must equal the batch suite on the same data
    from dataprofiler_spark.operators.checks import (
        row_check_frame,
        sequence_row_checks,
        verdicts_and_violations,
    )

    bv, _ = verdicts_and_violations(
        row_check_frame(
            spark.read.schema(sequence_schema()).parquet(f"{inp}/f1"), sequence_row_checks()
        ),
        "sequences_stream",
    )
    stream_totals = {
        r.check_name: r.total
        for r in v1.groupBy("check_name").agg(F.sum("violation_count").alias("total")).collect()
    }
    batch_totals = {
        r.check_name: r.total
        for r in bv.groupBy("check_name").agg(F.sum("violation_count").alias("total")).collect()
    }
    assert stream_totals == batch_totals
    x = spark.read.parquet(f"{out}/violations")
    assert x.count() > 0

    # add a clean file; restart → ONLY the new file is processed (checkpoint)
    gen_sequences(spark, 500, violations=False).write.mode("overwrite").parquet(f"{inp}/f2")
    q2 = validate_stream(spark, f"{inp}/*", ckpt, out, violation_cap=10_000)
    q2.awaitTermination(120)
    v2 = spark.read.parquet(f"{out}/verdicts")
    new_batches = [r.batch_id for r in v2.select("batch_id").distinct().collect()]
    assert len(new_batches) == len(batches1) + 1
    # the resumed batch saw only the 500 clean rows
    newest = max(new_batches)
    rows_in_new = (
        v2.filter(F.col("batch_id") == newest)
        .groupBy()
        .agg(F.max("row_count"))
        .collect()[0][0]
    )
    assert rows_in_new <= 500


def test_streaming_violation_counts_live(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_batch(spark, inp, N, True, "f1")
    stream = spark.readStream.schema(sequence_schema()).parquet(f"{inp}/*")
    counts = streaming_violation_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("viol_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.source: r for r in spark.sql("SELECT * FROM viol_counts").collect()}
    assert "ghost" in rows  # orphan partition present in stream
    total_null = sum(r.doc_id_not_null_violations for r in rows.values())
    assert total_null == N // 100  # ViolationSpec null range


def test_stateful_consecutive_alerts(spark, tmp_path):
    """applyInPandasWithState: the alert fires only after K consecutive
    failing micro-batches, and a clean batch resets the streak — state
    carries across micro-batches (maxFilesPerTrigger=1 forces one file
    per batch, ordered by mtime)."""
    import os
    import time as _time

    from dataprofiler_spark.streaming.validate import stateful_consecutive_alerts

    inp = str(tmp_path / "in")
    mk = lambda i, bad: spark.createDataFrame(  # noqa: E731
        [(f"d{i}-{j}", [1, 2, 3], (99 if bad else 3), "web") for j in range(50)],
        schema=sequence_schema(),
    ).coalesce(1).write.mode("overwrite").parquet(f"{inp}/f{i}")
    for i, bad in enumerate([True, True, False, True]):
        mk(i, bad)
        t = 1_700_000_000 + i * 60  # force file-stream ordering by mtime
        for root, _, files in os.walk(f"{inp}/f{i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
        _time.sleep(0.05)

    stream = (
        spark.readStream.schema(sequence_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{inp}/*")
    )
    q = (
        stateful_consecutive_alerts(stream, k_consecutive=2)
        .writeStream.format("memory")
        .queryName("alerts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM alerts").collect()
    streaks = [r.consecutive_failed_batches for r in rows]
    alerts = [r.alert for r in rows]
    assert streaks == [1, 2, 0, 1]  # second bad batch crosses K; clean resets
    assert alerts == [False, True, False, False]
    assert all(r.batch_rows == 50 for r in rows)
    assert [r.batch_violations > 0 for r in rows] == [True, True, False, True]


def test_windowed_violation_rates_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windows + watermark: a finalized window emits once in
    append mode, and a row arriving later than the watermark is dropped
    (its window's counts must NOT include it)."""
    import os
    import time as _time

    from pyspark.sql import types as T

    from dataprofiler_spark.streaming.validate import windowed_violation_rates

    schema = T.StructType(
        sequence_schema().fields + [T.StructField("ts", T.TimestampType())]
    )
    inp = str(tmp_path / "in")

    def write(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{inp}/f{i}"
        )
        t = 1_700_000_000 + i * 60
        for root, _, files in os.walk(f"{inp}/f{i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
        _time.sleep(0.05)

    from datetime import datetime

    ts = lambda m: datetime(2026, 1, 1, 0, m)  # noqa: E731
    # batch 1: 3 on-time rows in window [00:00,00:10), one bad (n_tok wrong),
    # plus a row at 01:00 that will push the watermark far past that window
    write(0, [
        ("a1", [1, 2], 2, "web", ts(1)),
        ("a2", [1, 2], 99, "web", ts(2)),   # n_tok violation
        ("a3", [1], 1, "web", ts(5)),
        ("adv", [1], 1, "web", datetime(2026, 1, 1, 1, 0)),
    ])
    # batch 2: advances nothing new for the old window; the watermark
    # (prev-batch max − delay = 00:55) now finalizes [00:00,00:10).
    # Subtlety: a late row landing in the SAME batch as its window's
    # finalization still merges — admission uses the previous batch's
    # watermark — so the drop is only guaranteed a batch AFTER.
    write(1, [("mid", [1], 1, "web", datetime(2026, 1, 1, 1, 1))])
    # batch 3: a LATE row for the finalized window (dropped by watermark)
    # and a fresh row to keep the query advancing
    write(2, [
        ("late", [1], 1, "web", ts(3)),
        ("b1", [1], 1, "web", datetime(2026, 1, 1, 2, 0)),
    ])

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{inp}/*")
    )
    q = (
        windowed_violation_rates(
            stream, window_duration="10 minutes", watermark_delay="5 minutes"
        )
        .writeStream.format("memory")
        .queryName("win_rates")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.window.start.minute + 60 * r.window.start.hour): r
        for r in spark.sql("SELECT * FROM win_rates").collect()
    }
    w0 = rows[0]  # the [00:00,00:10) window, finalized by the watermark
    assert w0.rows_seen == 3  # late row NOT counted
    assert w0.n_tok_matches_size_violations == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingestion dedup: re-delivered doc_ids
    inside the watermark horizon are dropped (first-seen wins); distinct
    keys all pass through exactly once."""
    from dataprofiler_spark.streaming.validate import streaming_dedup

    inp = str(tmp_path / "in")
    schema = "doc_id string, ts timestamp, payload string"
    rows1 = [("a", "2024-01-01 10:00:00", "v1"), ("b", "2024-01-01 10:01:00", "v1")]
    rows2 = [("a", "2024-01-01 10:02:00", "REDELIVERY"), ("c", "2024-01-01 10:03:00", "v1")]
    for name, rows in (("f1", rows1), ("f2", rows2)):
        spark.createDataFrame(rows, "doc_id string, ts_s string, payload string").select(
            "doc_id", F.col("ts_s").cast("timestamp").alias("ts"), "payload"
        ).write.mode("overwrite").parquet(f"{inp}/{name}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{inp}/*")
    )
    q = (
        streaming_dedup(stream, watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.payload) for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert got == {("a", "v1"), ("b", "v1"), ("c", "v1")}  # redelivery dropped


def test_drift_stream_alerts_on_shifted_batch(spark, tmp_path):
    """Two micro-batches against a static baseline histogram: the
    matching batch stays quiet, the shifted batch (n_tok + 200) raises
    the PSI > 0.25 alert — per batch, per group, with lineage."""
    from dataprofiler_spark.operators.drift import histogram
    from dataprofiler_spark.streaming.validate import drift_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = gen_sequences(spark, N, violations=False)
    baseline_hist = histogram(base, "n_tok", 50.0, ["source"])
    baseline_hist.cache().count()  # static, tiny

    # batch 1: same distribution; batch 2: all lengths shifted +200
    # (each ONE file, so maxFilesPerTrigger=1 gives exactly two batches)
    gen_sequences(spark, N, violations=False).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{inp}/f1")
    gen_sequences(spark, N, violations=False).withColumn(
        "n_tok", F.col("n_tok") + F.lit(200)
    ).coalesce(1).write.mode("overwrite").parquet(f"{inp}/f2")

    q = drift_stream(
        spark, f"{inp}/*", baseline_hist, ckpt, out, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    drift = spark.read.parquet(f"{out}/drift")
    batches = sorted(r.batch_id for r in drift.select("batch_id").distinct().collect())
    assert len(batches) == 2  # one drift verdict set per micro-batch
    per_batch = {
        r.batch_id: r.alerts
        for r in drift.groupBy("batch_id")
        .agg(F.sum(F.col("psi_alert").cast("int")).alias("alerts"))
        .collect()
    }
    # exactly one of the two batches alerted, on every source group
    n_groups = drift.select("source").distinct().count()
    assert sorted(per_batch.values()) == [0, n_groups]
    baseline_hist.unpersist()


def test_profile_stream_matches_batch_profile(spark, tmp_path):
    """Partials appended per micro-batch merge to EXACTLY the batch
    profile over all data (moments/min/max exact; that is the merge-safe
    guarantee) — and a later batch only appends, never rewrites."""
    from dataprofiler_spark.operators.incremental import (
        finalize_partials,
        numeric_partials,
    )
    from dataprofiler_spark.streaming.validate import current_profile, profile_stream

    inp = str(tmp_path / "in")
    parts = str(tmp_path / "parts")
    ckpt = str(tmp_path / "ckpt")
    gen_sequences(spark, 2000, violations=False).coalesce(1).write.parquet(f"{inp}/f1")
    gen_sequences(spark, 1000, violations=False).withColumn(
        "n_tok", F.col("n_tok") + F.lit(7)
    ).coalesce(1).write.parquet(f"{inp}/f2")

    q = profile_stream(spark, f"{inp}/*", parts, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    got = current_profile(spark, parts).collect()[0]
    all_rows = spark.read.schema(sequence_schema()).parquet(f"{inp}/f1", f"{inp}/f2")
    want = finalize_partials(numeric_partials(all_rows, ["n_tok"])).collect()[0]
    assert got.row_count == want.row_count == 3000
    assert got.avg_value == want.avg_value
    assert got.min_value == want.min_value and got.max_value == want.max_value
    assert got.stddev_pop == want.stddev_pop

    # two batch ids recorded -> per-batch lineage retained in the store
    ids = spark.read.parquet(parts).select("batch_id").distinct().count()
    assert ids == 2


def test_profile_stream_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch whose append landed but
    whose checkpoint commit didn't is re-run with the SAME batch_id —
    current_profile must not double-count it."""
    from dataprofiler_spark.operators.incremental import numeric_partials
    from dataprofiler_spark.streaming.validate import current_profile, profile_stream

    inp = str(tmp_path / "in")
    parts = str(tmp_path / "parts")
    ckpt = str(tmp_path / "ckpt")
    gen_sequences(spark, 1500, violations=False).coalesce(1).write.parquet(f"{inp}/f1")
    q = profile_stream(spark, f"{inp}/*", parts, ckpt)
    q.awaitTermination(120)

    # simulate the replay: append the same batch's partials again with
    # the same batch_id (what a crash-restart produces)
    replay = numeric_partials(
        spark.read.schema(sequence_schema()).parquet(f"{inp}/f1"), ["n_tok"]
    ).withColumn("batch_id", F.lit(0))
    replay.write.mode("append").parquet(parts)

    got = current_profile(spark, parts).collect()[0]
    assert got.row_count == 1500  # not 3000


def test_current_drift_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: simulate a crash-replay by
    re-appending one batch's (deterministic) drift rows with the same
    batch_id — current_drift reads through the duplicates; the raw store
    double-counts."""
    from dataprofiler_spark.operators.drift import histogram
    from dataprofiler_spark.streaming.validate import current_drift, drift_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    base = gen_sequences(spark, N, violations=False)
    baseline_hist = histogram(base, "n_tok", 50.0, ["source"]).cache()
    gen_sequences(spark, N, violations=False).coalesce(1).write.parquet(f"{inp}/f1")
    drift_stream(spark, f"{inp}/*", baseline_hist, ckpt, out).awaitTermination(120)

    store = f"{out}/drift"
    once = spark.read.parquet(store)
    n_rows, n_alerts = once.count(), once.filter("psi_alert").count()
    once.write.mode("append").parquet(store)  # the replayed append

    assert spark.read.parquet(store).count() == 2 * n_rows
    cur = current_drift(spark, out)
    assert cur.count() == n_rows
    assert cur.filter("psi_alert").count() == n_alerts
    baseline_hist.unpersist()


def test_ingest_dedup_stream_cross_batch_ledger(spark, tmp_path):
    """Two micro-batch rounds: batch 2's re-delivery of batch-1 content is
    dropped by the digest ledger; its internal dup collapses; the corpus
    ends with exactly one row per distinct content."""
    from dataprofiler_spark.streaming.validate import (
        current_corpus,
        ingest_dedup_stream,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content")], schema
    ).write.mode("append").parquet(inp)
    ingest_dedup_stream(
        spark, inp, schema, ck, out, cols=["text"]
    ).awaitTermination(120)

    spark.createDataFrame(
        [(10, "beta content"),      # historical dup -> dropped
         (11, "gamma content"), (12, "gamma content")],  # internal dup pair
        schema,
    ).write.mode("append").parquet(inp)
    ingest_dedup_stream(
        spark, inp, schema, ck, out, cols=["text"]
    ).awaitTermination(120)

    corpus = current_corpus(spark, out)
    texts = sorted(r.text for r in corpus.collect())
    assert texts == ["alpha content", "beta content", "gamma content"]
    assert {r.doc_id for r in corpus.collect()} == {1, 2, 11}
    ledger = spark.read.parquet(f"{out}/digest_ledger")
    assert ledger.distinct().count() == 3
