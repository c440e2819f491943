"""Continuous validation via Structured Streaming.

The reference is strictly batch/cron — its 'time series' is repeated batch
snapshots into append-only tables (SURVEY.md §2.9). This module is the
rebuild's optional continuous path: the SAME row-check predicates run over
a file stream, two ways:

1. `validate_stream` — foreachBatch: every micro-batch goes through the
   exact batch check suite and appends verdicts (+ batch lineage) to the
   sink. Checkpointed: a restarted query resumes at the next unprocessed
   file, the streaming analog of the manifest's skip-validated-partitions.
2. `streaming_violation_counts` — a pure streaming aggregation (update
   mode) maintaining running per-partition violation counters, for
   dashboard-style live counts.

Design note: foreachBatch is the right tool here, not stateful operators —
validation is stateless per row, and reusing the batch operators keeps ONE
implementation of the check semantics (no batch/stream divergence).
"""

from __future__ import annotations

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dataprofiler_spark.operators.checks import (
    RowCheck,
    row_check_frame,
    sequence_row_checks,
    verdicts_and_violations,
)


def sequence_schema() -> T.StructType:
    """The input_hint schema (streams must declare schemas up front)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )


def validate_stream(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    output_dir: str,
    checks: list[RowCheck] | None = None,
    part_col: str = "source",
    table_name: str = "sequences_stream",
    available_now: bool = True,
    violation_cap: int = 1000,
) -> StreamingQuery:
    """File-stream validation: each micro-batch runs the batch check suite;
    verdicts and violation rows append to parquet sinks with the batch id
    as lineage. availableNow=True drains all pending files then stops
    (deterministic for tests/backfills); False = continuous."""
    checks = checks or sequence_row_checks()
    thresholds = {ck.name: ck.threshold_rate for ck in checks}
    stream = spark.readStream.schema(sequence_schema()).parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        verdicts, violations = verdicts_and_violations(
            row_check_frame(batch_df, checks, part_col=part_col),
            table_name,
            violation_cap,
            thresholds,
        )
        (
            verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{output_dir}/verdicts")
        )
        (
            violations.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(f"{output_dir}/violations")
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


ALERT_OUTPUT_SCHEMA = (
    "source string, batch_rows long, batch_violations long, "
    "consecutive_failed_batches int, alert boolean"
)
_ALERT_STATE_SCHEMA = "streak int"


def stateful_consecutive_alerts(
    stream_df: DataFrame,
    part_col: str = "source",
    k_consecutive: int = 2,
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): alert a
    partition only after K CONSECUTIVE micro-batches contain violations of
    the n_tok==len(tokens) invariant — flap suppression that no stateless
    aggregation can express (it needs the previous batches' verdicts).

    State per group: one int (current failure streak) — bounded by the
    number of live partitions, no watermark needed. The kernel is
    Arrow-batched pandas (vectorized length compare), consistent with the
    engine's no-per-row-Python rule.

    Returns the grouped transform; attach .writeStream with
    outputMode('update')."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        rows = 0
        bad = 0
        for pdf in pdfs:
            rows += len(pdf)
            # vectorized: n_tok vs actual token-array length (null-safe)
            lens = pdf["tokens"].map(lambda t: -1 if t is None else len(t))
            bad += int((pdf["n_tok"].fillna(-2).astype("int64") != lens).sum())
        (streak,) = state.get if state.exists else (0,)
        streak = streak + 1 if bad > 0 else 0
        state.update((streak,))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "batch_rows": [rows],
                "batch_violations": [bad],
                "consecutive_failed_batches": [streak],
                "alert": [streak >= k_consecutive],
            }
        )

    return stream_df.groupBy(part_col).applyInPandasWithState(
        update,
        outputStructType=ALERT_OUTPUT_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_violation_rates(
    stream_df: DataFrame,
    ts_col: str = "ts",
    part_col: str = "source",
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
    checks: list[RowCheck] | None = None,
) -> DataFrame:
    """Event-time windowed violation rates with a watermark for late data:
    per (window, partition) row counts + per-check violation counts.

    The watermark bounds state: windows older than max(event_time) −
    `watermark_delay` are finalized and dropped from state, and
    later-than-watermark rows are discarded (the documented trade — a
    longer delay admits later data but holds more open windows). Use
    outputMode('append') to emit each window exactly once when it
    finalizes — the shape that feeds an alerting sink."""
    checks = checks or sequence_row_checks()
    aggs = [F.count(F.lit(1)).alias("rows_seen")]
    for ck in checks:
        aggs.append(
            F.sum(F.when(ck.fail_predicate, 1).otherwise(0)).alias(f"{ck.name}_violations")
        )
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), part_col)
        .agg(*aggs)
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_col: str = "doc_id",
    ts_col: str = "ts",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming EXACT dedup: keep the first-seen row per key within the
    watermark horizon (dropDuplicatesWithinWatermark) — the ingestion-side
    companion to the batch dedup operators: duplicate re-deliveries
    (at-least-once sources, replays) are dropped before they ever reach
    the corpus.

    State is bounded by the watermark: a key's dedup record is evicted once
    the watermark passes its event time + delay, so duplicates separated by
    more than `watermark_delay` are NOT caught (that is the batch dedup's
    job in the nightly compaction) — the standard bounded-state trade, vs
    dropDuplicates whose state grows forever on an unbounded stream."""
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        [key_col]
    )


def streaming_violation_counts(
    stream_df: DataFrame,
    checks: list[RowCheck] | None = None,
    part_col: str = "source",
) -> DataFrame:
    """Running per-partition violation counters as a streaming aggregation
    (use outputMode('update') / ('complete')). State is one row per
    (partition × check) — bounded by design, no watermark needed."""
    checks = checks or sequence_row_checks()
    aggs = [F.count(F.lit(1)).alias("rows_seen")]
    for ck in checks:
        aggs.append(
            F.sum(F.when(ck.fail_predicate, 1).otherwise(0)).alias(f"{ck.name}_violations")
        )
    return stream_df.groupBy(part_col).agg(*aggs)


def drift_stream(
    spark: SparkSession,
    input_path: str,
    baseline_hist: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    value_col: str = "n_tok",
    group_col: str = "source",
    bucket_width: float = 50.0,
    psi_alert: float = 0.25,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous drift monitoring: every micro-batch is histogrammed and
    scored against a STATIC baseline histogram with the batch drift
    operators (drift_by_group: per-group PSI + χ², null-safe merge), and
    the per-group verdict rows append to a parquet sink with batch
    lineage. `psi_alert` uses the standard PSI > 0.25 'major shift'
    convention.

    foreachBatch (not a stateful operator) for the same reason as
    validate_stream: ONE implementation of the drift semantics — the
    static baseline join is ordinary batch code inside the micro-batch.
    The baseline frame is histogram-sized (groups × buckets), so each
    batch adds one histogram-sized merge (tagged union + one aggregate,
    no join) and no streaming state at all: a restarted query resumes
    from the checkpoint with nothing to rebuild.

    At-least-once caveat: a batch whose parquet append succeeded but
    whose checkpoint commit did not is REPLAYED with the same batch_id,
    appending duplicate verdict rows. The rows are deterministic, so
    consumers must read through `current_drift` (dedups on
    (batch_id, group)) — mirroring `current_profile` — or alert counts
    can double after a crash-replay."""
    from dataprofiler_spark.operators.drift import drift_by_group, histogram

    reader = spark.readStream.schema(sequence_schema())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cur = histogram(batch_df, value_col, bucket_width, [group_col])
        out = (
            drift_by_group(baseline_hist, cur, group_col)
            .withColumn("psi_alert", F.col("psi") > psi_alert)
            .withColumn("batch_id", F.lit(batch_id))
        )
        out.write.mode("append").parquet(f"{output_dir}/drift")

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_drift(
    spark: SparkSession, output_dir: str, group_col: str = "source"
) -> DataFrame:
    """Read the drift verdict store idempotently: foreachBatch is
    at-least-once, so a crash between the parquet append and the
    checkpoint commit replays a batch with the SAME batch_id and writes
    identical rows — dedup on (batch_id, group) makes the replay
    read-neutral instead of double-counting alerts (the profile-side
    twin of current_profile's partials dedup)."""
    return spark.read.parquet(f"{output_dir}/drift").dropDuplicates(
        ["batch_id", group_col]
    )


def profile_stream(
    spark: SparkSession,
    input_path: str,
    partials_dir: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    hist_widths: dict[str, float] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous profile maintenance: every micro-batch computes its
    merge-safe numeric partials (operators/incremental.py) and APPENDS
    them — batch-id-stamped — to a partials store. Because the partial
    state is associative and commutative (counts/sums add, min/max
    combine, HLL unions, histogram buckets add), the current profile at
    any moment is `current_profile(spark, partials_dir)` regardless of
    how arrivals were batched; nothing is ever rescanned or rewritten.
    The streaming analog of incremental snapshot profiling, and the
    reason the partial state was designed merge-safe in the first
    place."""
    from dataprofiler_spark.operators.incremental import numeric_partials

    cols = columns or ["n_tok"]
    reader = spark.readStream.schema(sequence_schema())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            numeric_partials(batch_df, cols, hist_widths=hist_widths)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_profile(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Finalized profile over everything the stream has appended so far —
    one merge of the stored partials, no source rescans."""
    from dataprofiler_spark.operators.incremental import (
        finalize_partials,
        merge_partials,
    )

    # idempotence under foreachBatch's at-least-once semantics: a batch
    # whose append succeeded but whose checkpoint commit did not is
    # re-run with the SAME batch_id and writes identical (deterministic)
    # partial rows — dedup on (batch_id, column_name) makes the replay
    # merge-neutral instead of double-counting the whole batch
    stored = (
        spark.read.parquet(partials_dir)
        .dropDuplicates(["batch_id", "column_name"])
        .drop("batch_id")
    )
    return finalize_partials(merge_partials(stored))


def ingest_dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType | str,
    checkpoint_dir: str,
    output_dir: str,
    cols: list[str],
    key_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous-ingestion EXACT dedup against a persistent digest
    ledger — the streaming face of dedup_against_history: every
    micro-batch collapses its own duplicates, drops content already in
    `{output_dir}/digest_ledger`, appends the surviving ROWS to
    `{output_dir}/corpus` and only then commits the new digests to the
    ledger.

    Write order is the crash-safety contract: corpus append BEFORE
    ledger append. A replay after a corpus-append-only crash re-emits the
    same rows with the same batch_id (read through `current_corpus`,
    which dedups on (batch_id, key) exactly like current_profile); a
    ledger-first order could lose content forever (the replayed batch
    would see its own digests as 'historical' and write nothing).

    The ledger is an append-only narrow parquet of 128-bit digests — at
    corpus scale store it bucketed by digest and compact periodically;
    the probe is the same digest-only anti-join either way."""
    from dataprofiler_spark.operators.dedup import dedup_against_history

    stream = spark.readStream.schema(schema).parquet(input_path)
    ledger_dir = f"{output_dir}/digest_ledger"
    corpus_dir = f"{output_dir}/corpus"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        try:
            ledger = spark.read.parquet(ledger_dir)
        except AnalysisException:
            # first batch only: the ledger dir does not exist yet. Any
            # OTHER read failure (FS hiccup, corrupt footer, permissions)
            # must fail the batch — falling back to an empty ledger would
            # re-ingest previously-seen content under a new batch_id,
            # polluting the corpus permanently with no error surfaced.
            ledger = spark.createDataFrame([], "digest string")
        fresh = dedup_against_history(batch_df, ledger, cols, key_col)
        survivors = batch_df.join(
            fresh.select(F.col(f"survivor_{key_col}").alias(key_col)),
            key_col,
            "semi",
        )
        (
            survivors.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(corpus_dir)
        )
        fresh.select("digest").write.mode("append").parquet(ledger_dir)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def current_corpus(spark: SparkSession, output_dir: str, key_col: str = "doc_id") -> DataFrame:
    """Read the ingested corpus idempotently: foreachBatch appends are
    at-least-once, so a replayed batch can append the same survivors
    twice with the same batch_id — dedup on (batch_id, key)."""
    return spark.read.parquet(f"{output_dir}/corpus").dropDuplicates(
        ["batch_id", key_col]
    )
