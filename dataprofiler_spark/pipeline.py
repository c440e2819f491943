"""The end-to-end validation pipeline: profile → checks → drift → sinks →
manifest, resumable per partition.

This is the rebuild's analog of the reference's run_profiler /
run_schema_profiler / run_autoincrement_profiler lifecycle
(/root/reference/main.py:212-400): flag-gated stages, per-partition failure
isolation (main.py:792-794), append-only sinks, and a summary verdict —
re-expressed as a handful of lazy DataFrames executed in one pass each.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from dataprofiler_spark.operators.checks import run_sequence_suite
from dataprofiler_spark.operators.drift import drift_by_group, histogram
from dataprofiler_spark.operators.profile import ProfileConfig, profile
from dataprofiler_spark.plans.manifest import Manifest, PartitionRecord, Snapshot
from dataprofiler_spark.sinks import append_rows, sink_filesystem


@dataclass
class ValidationConfig:
    table_name: str = "sequences"
    part_col: str = "source"
    # cap on materialized violation rows PER (check, partition) — not a
    # single global per-check cap (that would funnel every violating row of
    # one check through ONE reducer under mass failure, exactly when
    # violations matter). Sinks should size for cap × partitions × checks.
    violation_cap: int = 1000
    null_rate_threshold: float = 0.0
    exact: bool = True  # exact metrics in tests; sketches at scale
    # "auto" resolves to "prefilter" (digest join, no UDF — the scale path)
    # when exact=False: a 10^12-row config must never silently run the
    # anti-scaling full-UDF mode. "full"/"prefilter" force a mode.
    equality_udf_mode: str = "auto"
    drift_bucket_width: float = 16.0  # n_tok histogram bucket
    psi_threshold: float = 0.25  # standard major-shift cut
    output_dir: str | None = None
    manifest_dir: str | None = None
    # the table state resume is judged against (plans/manifest.py
    # Snapshot): an append to one partition only re-validates THAT
    # partition; a snapshot with no per-partition entries is one global
    # token for the whole input
    snapshot: "Snapshot | None" = None

    def __post_init__(self):
        if self.equality_udf_mode == "auto":
            self.equality_udf_mode = "full" if self.exact else "prefilter"


@dataclass
class ValidationResult:
    profiles: DataFrame
    verdicts: DataFrame
    violations: DataFrame
    # one row per (partition, drift check), labelled by check_name
    drift: DataFrame | None
    skipped_partitions: set[str] = field(default_factory=set)
    summary: dict = field(default_factory=dict)


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    sources_ref: DataFrame,
    reference: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    baseline_token_freq: DataFrame | None = None,
    expectations: list | None = None,
    cfg: ValidationConfig | None = None,
) -> ValidationResult:
    """Run the full constraint suite with checkpoint/resume.

    Resume needs both `manifest_dir` and `snapshot`; every run with a
    `manifest_dir` records its partitions' verdicts. A partition is
    skipped when its manifest record is 'validated' under the token the
    partition has in `snapshot` (`Snapshot.token`: its own lineage entry,
    else the snapshot_id). A skipped partition whose record also carries
    the current snapshot_id was validated against this exact table, so it
    is filtered out of `df` and `sources_ref` up front — the filter is
    pushed into the source read, so it costs nothing (partition pruning
    on a partitioned table). Any other skipped partition (the table
    changed elsewhere since it validated) is still scanned, re-validated
    and recorded; it is only reported as skipped.

    With `output_dir` set, the run appends to four sinks under it.
    `violations` is a distributed Spark write. `data_profiles`,
    `validation_verdicts` and `drift_metrics` are written from the rows
    the run has already collected, one parquet file each per run, with no
    Spark job (`sinks.append_rows`). `output_dir` is resolved first, so a
    location pyarrow cannot write to fails before any Spark job runs."""
    cfg = cfg or ValidationConfig()
    out = sink_filesystem(cfg.output_dir) if cfg.output_dir else None
    manifest = Manifest(cfg.manifest_dir) if cfg.manifest_dir else None
    # without a snapshot the manifest still records every partition (under
    # an empty token), but nothing is looked up or skipped
    snap = cfg.snapshot or Snapshot(snapshot_id="", partition_lineage={})

    skipped: set[str] = set()
    if manifest is not None and cfg.snapshot is not None:
        records = manifest.validated_partitions_for(snap)
        skipped = set(records)
        pruned = sorted(p for p, rec in records.items() if rec.snapshot_id == snap.snapshot_id)
        if pruned:
            df = df.filter(~F.col(cfg.part_col).isin(pruned))
            sources_ref = sources_ref.filter(~F.col(cfg.part_col).isin(pruned))

    # With output_dir set the run issues SEVERAL actions over the same
    # input (the profile collect, the drift collects, the verdict collect
    # and the violations write) — fresh plans do NOT reuse shuffle
    # outputs, so each would re-read the source. Persist the input across
    # them; MEMORY_AND_DISK in local/bench scale — on a cluster where the
    # table doesn't fit, swap for DISK_ONLY or accept the extra passes.
    persisted = False
    if cfg.output_dir:
        df = df.persist()
        persisted = True

    profiles = profile(
        df,
        cfg.table_name,
        group_by=[cfg.part_col],
        cfg=ProfileConfig(exact=cfg.exact),
    )
    # profiles is aggregate-sized (partitions × columns). When it feeds
    # more than one consumer (expectation verdicts AND the sink write),
    # collect ONCE and rebuild a local frame — otherwise the profile scan
    # re-executes per consumer.
    if expectations or cfg.output_dir:
        profile_rows = profiles.collect()
        profiles = spark.createDataFrame(profile_rows, profiles.schema)

    suite = run_sequence_suite(
        df,
        sources_ref,
        reference=reference,
        table_name=cfg.table_name,
        part_col=cfg.part_col,
        violation_cap=cfg.violation_cap,
        null_rate_threshold=cfg.null_rate_threshold,
        equality_udf_mode=cfg.equality_udf_mode,
    )
    verdicts, violations = suite.verdicts, suite.violations
    if persisted:
        # both outputs derive from the suite's check frame: the verdict
        # collect fills it, the violations write reads it back, so no
        # check plan (nor the equality UDF) runs twice
        suite.frame.persist()

    if expectations:
        from dataprofiler_spark.operators.expectations import evaluate_expectations

        verdicts = verdicts.unionByName(
            evaluate_expectations(profiles, expectations, part_col=cfg.part_col)
        )

    # (drift_by_group frame, check_name) per drift check
    drifts = []
    if baseline_hist is not None:
        cur_hist = histogram(df, "n_tok", cfg.drift_bucket_width, group_by=[cfg.part_col])
        drifts.append(
            (drift_by_group(baseline_hist, cur_hist, cfg.part_col), "n_tok_drift_psi")
        )

    if baseline_token_freq is not None:
        # token-frequency drift per partition (north_star: PSI over token
        # sketches as well as n_tok histograms). The exploded tokens go in
        # as raw (partition, token, 1) rows: drift_by_group's one merge
        # aggregate counts them, collapsing the explosion map-side
        # (bounded vocab).
        cur_tokens = df.select(
            cfg.part_col, F.explode("tokens").alias("bucket"), F.lit(1).alias("cnt")
        )
        drifts.append(
            (
                drift_by_group(baseline_token_freq, cur_tokens, cfg.part_col, eps=1e-9),
                "token_freq_drift_psi",
            )
        )

    drift = None
    if drifts:
        # drift frames are group-sized (one row per partition). They feed
        # BOTH the verdict union and the drift sink — collect each once, so
        # the histogram scans don't re-execute per consumer, and label its
        # rows with the check. The frame collected must be the one
        # drift_by_group returned (perfbench/tracing.py attributes that
        # collect to the drift layer by frame identity).
        drift_rows = [(*r, name) for frame, name in drifts for r in frame.collect()]
        # the schema unionByName would give: a field is nullable if it is
        # in any check's frame
        fields = zip(*(frame.schema for frame, _ in drifts))
        drift = spark.createDataFrame(
            drift_rows,
            StructType(
                [StructField(f[0].name, f[0].dataType, any(g.nullable for g in f)) for f in fields]
                + [StructField("check_name", StringType(), False)]
            ),
        )
        verdicts = verdicts.unionByName(
            drift.select(
                F.lit(cfg.table_name).alias("table_name"),
                F.col(cfg.part_col).cast("string").alias("partition_value"),
                "check_name",
                F.lit(None).cast("long").alias("row_count"),
                F.lit(None).cast("long").alias("violation_count"),
                (F.col("psi") <= cfg.psi_threshold).alias("passed"),
            )
        )

    # verdict matrix is small (partitions × checks) — safe to collect for
    # the manifest + summary (violation ROWS stay distributed/capped).
    # Collect ONCE and write the sink from the collected rows.
    collected = verdicts.collect()
    verdict_rows = spark.createDataFrame(collected, verdicts.schema)

    if out is not None:
        # profiles, verdicts and drift are rows on the driver already:
        # append them from here, with no Spark job. violations is the one
        # distributed write; it reads the persisted check frame.
        fs, root = out
        append_rows(profile_rows, profiles.schema, f"{root}/data_profiles", fs)
        append_rows(collected, verdicts.schema, f"{root}/validation_verdicts", fs)
        violations.write.mode("append").parquet(f"{cfg.output_dir}/violations")
        if drift is not None:
            append_rows(drift_rows, drift.schema, f"{root}/drift_metrics", fs)
    if persisted:
        suite.frame.unpersist()
        df.unpersist()
    by_part: dict[str, dict] = {}
    for r in collected:
        d = by_part.setdefault(
            r.partition_value, {"row_count": 0, "checks": {}, "metrics": {}}
        )
        d["checks"][r.check_name] = bool(r.passed)
        if r.row_count is not None:
            d["row_count"] = max(d["row_count"], r.row_count)
            d["metrics"][f"{r.check_name}_violations"] = (
                int(r.violation_count) if r.violation_count is not None else None
            )

    if manifest is not None:
        for part, d in by_part.items():
            # a partition with ANY failed check must not be recorded as
            # 'validated' — a resumed run would silently skip known-bad
            # partitions and report a clean summary
            manifest.record(
                PartitionRecord(
                    partition_value=part,
                    status="validated" if all(d["checks"].values()) else "failed",
                    # the partition's own token, so a later snapshot skips
                    # it iff that token is unchanged; the snapshot id lets
                    # a run against the same table prune it
                    lineage=snap.token(part),
                    row_count=d["row_count"],
                    metrics=d["metrics"],
                    checks=d["checks"],
                    snapshot_id=snap.snapshot_id,
                )
            )

    n_checks = len(collected)
    n_failed = sum(1 for r in collected if not r.passed)
    summary = {
        "table_name": cfg.table_name,
        "partitions_validated": len(by_part),
        "partitions_skipped": len(skipped),
        "checks_evaluated": n_checks,
        "checks_failed": n_failed,
        "passed": n_failed == 0,
        "rows_validated": int(
            sum(d["row_count"] for d in by_part.values())
        ),
        "run_at": time.time(),
    }
    return ValidationResult(profiles, verdict_rows, violations, drift, skipped, summary)
