"""End-to-end pipeline: verdict matrix, sinks, drift gate, and
checkpoint/resume semantics (SURVEY.md §5 rebuild test plan item 4)."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.drift import histogram
from dataprofiler_spark.pipeline import ValidationConfig, run_validation
from dataprofiler_spark.plans.manifest import Manifest, Snapshot
from dataprofiler_spark.sources import gen_sequences, gen_sources_ref

N = 5_000


def one_token(token: str) -> Snapshot:
    """A snapshot with no per-partition entries: every partition's token
    is the snapshot id, so any change re-validates every partition."""
    return Snapshot(snapshot_id=token, partition_lineage={})


def test_pipeline_end_to_end(spark, tmp_path):
    bad = gen_sequences(spark, N, violations=True)
    ref = gen_sequences(spark, N)
    cfg = ValidationConfig(
        output_dir=str(tmp_path / "out"),
        manifest_dir=str(tmp_path / "manifest"),
        snapshot=one_token("snap-1"),
    )
    res = run_validation(spark, bad, gen_sources_ref(spark), reference=ref, cfg=cfg)
    assert res.summary["passed"] is False
    assert res.summary["partitions_skipped"] == 0
    assert res.summary["rows_validated"] == N
    # sinks written
    v = spark.read.parquet(str(tmp_path / "out" / "validation_verdicts"))
    assert v.filter("NOT passed").count() > 0
    x = spark.read.parquet(str(tmp_path / "out" / "violations"))
    assert x.count() > 0
    # manifest has per-partition lineage + row counts + check matrix
    recs = Manifest(cfg.manifest_dir).load()
    assert "web" in recs and recs["web"].lineage == "snap-1"
    assert recs["web"].row_count > 0
    assert recs["web"].checks["unique_doc_id"] is False
    assert recs["ghost"].checks["ri_source"] is False


def test_pipeline_single_execution_with_output_dir(spark, tmp_path):
    """With output_dir set, the suite's input scans must not re-execute per
    sink write (the round-2 ~3× regression): the input and the check frame
    are persisted across the verdict collect + violations write, and the
    aggregate-sized results (profiles, verdicts, drift) are collected once
    and returned as LOCAL frames, which execute no input scan. The
    equality UDF sees each joined row exactly once across both actions."""
    import pandas as pd

    from dataprofiler_spark.operators import checks

    # patch the CONCRETE class (pyspark.sql.DataFrame is an abstract parent
    # in Spark 4; instances are classic.dataframe.DataFrame)
    DataFrame = type(spark.range(1))

    calls = {"persist": 0, "unpersist": 0}
    orig_persist, orig_unpersist = DataFrame.persist, DataFrame.unpersist

    def counting_persist(self, *a, **k):
        calls["persist"] += 1
        return orig_persist(self, *a, **k)

    def counting_unpersist(self, *a, **k):
        calls["unpersist"] += 1
        return orig_unpersist(self, *a, **k)

    udf_rows = spark.sparkContext.accumulator(0)
    kernel = checks._lists_equal_batch

    def counting_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        out = kernel(a, b)
        udf_rows.add(len(out))
        return out

    DataFrame.persist, DataFrame.unpersist = counting_persist, counting_unpersist
    checks._lists_equal_batch = counting_kernel
    try:
        bad = gen_sequences(spark, N, violations=True)
        ref = gen_sequences(spark, N)
        baseline = histogram(ref, "n_tok", 16.0, group_by=["source"])
        cfg = ValidationConfig(output_dir=str(tmp_path / "out"))
        res = run_validation(
            spark, bad, gen_sources_ref(spark), reference=ref,
            baseline_hist=baseline, cfg=cfg,
        )
    finally:
        DataFrame.persist, DataFrame.unpersist = orig_persist, orig_unpersist
        checks._lists_equal_batch = kernel

    joined = sum(
        r.row_count for r in res.verdicts.collect() if r.check_name == "tokens_match_reference"
    )
    assert udf_rows.value == joined > 0
    # the input and the suite's check frame are persisted once each for
    # the multi-action phase, then both released
    assert calls["persist"] == 2 and calls["unpersist"] == 2
    # profiles, drift and verdicts are local frames over collected rows:
    # executing them cannot re-run any input scan
    for frame in (res.profiles, res.drift, res.verdicts):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" not in plan and "Exchange" not in plan, plan
    # sinks still correct
    assert spark.read.parquet(str(tmp_path / "out" / "violations")).count() > 0
    assert spark.read.parquet(str(tmp_path / "out" / "data_profiles")).count() > 0
    assert spark.read.parquet(str(tmp_path / "out" / "drift_metrics")).count() > 0


def test_collected_sinks_written_from_driver(spark, tmp_path, monkeypatch):
    """Only `violations` goes through DataFrameWriter. profiles, verdicts
    and drift are appended from the rows the run collected, one parquet
    file per sink per run, and Spark reads each sink back as the matching
    ValidationResult frame: same columns and types (Spark's file reader
    marks every column nullable), every run's rows."""
    from pyspark.sql import DataFrameWriter

    written = []
    spark_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *a, **k):
        written.append(str(path))
        return spark_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    bad = gen_sequences(spark, 2_000, violations=True)
    ref = gen_sequences(spark, 2_000)
    base_hist = histogram(ref, "n_tok", 16.0, group_by=["source"])
    base_freq = (
        ref.select("source", F.explode("tokens").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = tmp_path / "out"
    sinks = {
        "data_profiles": "profiles",
        "validation_verdicts": "verdicts",
        "drift_metrics": "drift",
    }
    results, files = [], []
    for _ in range(2):
        results.append(
            run_validation(
                spark, bad, gen_sources_ref(spark), reference=ref,
                baseline_hist=base_hist, baseline_token_freq=base_freq,
                cfg=ValidationConfig(output_dir=str(out)),
            )
        )
        files.append({s: sorted((out / s).glob("*.parquet")) for s in sinks})

    assert written == [f"{out}/violations"] * 2
    for sink, field in sinks.items():
        first, second = files[0][sink], files[1][sink]
        assert len(first) == 1 and len(second) == 2 and first[0] in second, sink
        back = spark.read.parquet(str(out / sink))
        want = getattr(results[0], field).schema
        assert [(f.name, f.dataType) for f in back.schema] == [
            (f.name, f.dataType) for f in want
        ], sink
        assert sorted(map(tuple, back.collect())) == sorted(
            tuple(r) for res in results for r in getattr(res, field).collect()
        ), sink


def test_repeated_run_reuses_generated_code(spark, tmp_path):
    """A repeated run_validation reuses the classes the previous run
    compiled: the session's codegen cache must hold one run's working set
    (~170 classes here; Spark's default keeps 100, so every run evicted
    and recompiled nearly all of them). The cache is emptied first so the
    first run is cold whatever ran earlier in the session."""
    jvm = spark.sparkContext._jvm
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()

    def compiles():
        return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    bad = gen_sequences(spark, N, violations=True)
    ref = gen_sequences(spark, N)
    baseline = histogram(ref, "n_tok", 16.0, group_by=["source"])
    cfg = ValidationConfig(output_dir=str(tmp_path / "out"))
    per_run = []
    for _ in range(2):
        before = compiles()
        run_validation(
            spark, bad, gen_sources_ref(spark), reference=ref,
            baseline_hist=baseline, cfg=cfg,
        )
        per_run.append(compiles() - before)
    first, second = per_run
    assert first > 0 and second <= first // 4, per_run


def test_plan_building_skips_call_site_capture(spark, monkeypatch):
    """Building run_validation's plans records no Python call site: with
    PySpark's DataFrame debugging on (its default), every DataFrame and
    Column call walks the stack and makes about five extra Py4J round
    trips, over half the driver time of building the plans."""
    import pyspark.errors.utils as pyspark_errors

    sites = []
    monkeypatch.setattr(
        pyspark_errors, "_capture_call_site", lambda depth: sites.append(depth) or ""
    )
    run_validation(
        spark, gen_sequences(spark, 200), gen_sources_ref(spark),
        reference=gen_sequences(spark, 200), cfg=ValidationConfig(exact=False),
    )
    assert sites == []


def test_pipeline_resume_skips_validated(spark, tmp_path):
    clean = gen_sequences(spark, N)
    cfg = ValidationConfig(
        manifest_dir=str(tmp_path / "manifest"), snapshot=one_token("snap-A")
    )
    r1 = run_validation(spark, clean, gen_sources_ref(spark), cfg=cfg)
    assert r1.summary["partitions_skipped"] == 0
    n_parts = r1.summary["partitions_validated"]
    # the registered-but-empty partition fails row_count_gt_0 even on clean
    # data → recorded as 'failed', never skipped (a failing partition must
    # be revalidated, not silently skipped on resume)
    recs = Manifest(cfg.manifest_dir).load()
    assert recs["empty_src"].status == "failed"
    assert all(
        rec.status == "validated" for p, rec in recs.items() if p != "empty_src"
    )

    # resubmission with the same token: every PASSING partition skipped
    # (and pruned from the scan); the failing empty partition is re-checked
    r2 = run_validation(spark, clean, gen_sources_ref(spark), cfg=cfg)
    assert r2.summary["partitions_skipped"] == n_parts - 1
    assert r2.summary["partitions_validated"] == 1
    assert r2.summary["rows_validated"] == 0

    # token change (new snapshot) invalidates the skip
    cfg2 = ValidationConfig(manifest_dir=cfg.manifest_dir, snapshot=one_token("snap-B"))
    r3 = run_validation(spark, clean, gen_sources_ref(spark), cfg=cfg2)
    assert r3.summary["partitions_skipped"] == 0


def test_pipeline_failed_partitions_not_skipped_on_resume(spark, tmp_path):
    """A rerun on bad data with the same token must RE-validate the
    failing partitions and report the failures again — a 'validated' status
    for failed partitions would make known violations read as a clean run."""
    bad = gen_sequences(spark, N, violations=True)
    cfg = ValidationConfig(
        manifest_dir=str(tmp_path / "manifest"), snapshot=one_token("snap-bad")
    )
    r1 = run_validation(spark, bad, gen_sources_ref(spark), cfg=cfg)
    assert r1.summary["checks_failed"] > 0
    failed_parts = {
        p for p, rec in Manifest(cfg.manifest_dir).load().items()
        if rec.status == "failed"
    }
    assert failed_parts  # bad data must mark partitions failed

    r2 = run_validation(spark, bad, gen_sources_ref(spark), cfg=cfg)
    assert r2.summary["checks_failed"] > 0  # still reported, not skipped
    assert not (failed_parts & r2.skipped_partitions)


def test_config_approx_implies_prefilter():
    """ValidationConfig(exact=False) must resolve the 'auto' equality mode
    to the prefilter scale path (the full-UDF mode anti-scales)."""
    assert ValidationConfig(exact=False).equality_udf_mode == "prefilter"
    assert ValidationConfig(exact=True).equality_udf_mode == "full"
    assert ValidationConfig(exact=False, equality_udf_mode="full").equality_udf_mode == "full"


def test_pipeline_drift_gate(spark, tmp_path):
    base = gen_sequences(spark, N)
    shifted = base.filter(F.col("n_tok") > 80)  # distribution shift
    base_hist = histogram(base, "n_tok", 16.0, group_by=["source"])
    cfg = ValidationConfig()
    res = run_validation(
        spark, shifted, gen_sources_ref(spark), baseline_hist=base_hist, cfg=cfg
    )
    drift_fails = res.verdicts.filter(
        (F.col("check_name") == "n_tok_drift_psi") & ~F.col("passed")
    ).count()
    assert drift_fails > 0  # shift detected per partition
    assert res.drift is not None
    # identical snapshot → no drift failures
    res2 = run_validation(
        spark, base, gen_sources_ref(spark), baseline_hist=base_hist, cfg=cfg
    )
    assert (
        res2.verdicts.filter(
            (F.col("check_name") == "n_tok_drift_psi") & ~F.col("passed")
        ).count()
        == 0
    )


def test_pipeline_token_frequency_drift(spark):
    """Token-frequency drift gate: a vocabulary shift (tokens restricted to
    the low half) must fail token_freq_drift_psi per partition; same
    distribution passes."""
    base = gen_sequences(spark, N)
    base_freq = (
        base.select("source", F.explode("tokens").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # vocabulary shift: keep only rows whose first token is in the low half,
    # then truncate arrays to even positions — changes token distribution
    shifted = base.withColumn("tokens", F.filter("tokens", lambda t: t < 25000)).filter(
        F.size("tokens") > 0
    ).withColumn("n_tok", F.size("tokens"))
    res = run_validation(
        spark, shifted, gen_sources_ref(spark), baseline_token_freq=base_freq,
        cfg=ValidationConfig(),
    )
    fails = res.verdicts.filter(
        (F.col("check_name") == "token_freq_drift_psi") & ~F.col("passed")
    ).count()
    assert fails > 0
    res2 = run_validation(
        spark, base, gen_sources_ref(spark), baseline_token_freq=base_freq,
        cfg=ValidationConfig(),
    )
    assert (
        res2.verdicts.filter(
            (F.col("check_name") == "token_freq_drift_psi") & ~F.col("passed")
        ).count()
        == 0
    )


def test_drift_sink_one_row_per_partition_and_check(spark, tmp_path):
    """With both drift baselines, drift_metrics (and ValidationResult.drift)
    hold exactly one row per (partition, check), labelled by check_name,
    and each drift verdict is that row's PSI against the threshold."""
    base = gen_sequences(spark, N)
    base_hist = histogram(base, "n_tok", 16.0, group_by=["source"])
    base_freq = (
        base.select("source", F.explode("tokens").alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cfg = ValidationConfig(output_dir=str(tmp_path / "out"))
    res = run_validation(
        spark, base, gen_sources_ref(spark), baseline_hist=base_hist,
        baseline_token_freq=base_freq, cfg=cfg,
    )
    checks = ("n_tok_drift_psi", "token_freq_drift_psi")
    parts = {r.source for r in base.select("source").distinct().collect()}
    sink = spark.read.parquet(str(tmp_path / "out" / "drift_metrics")).collect()
    assert sorted((r.source, r.check_name) for r in sink) == sorted(
        (p, c) for p in parts for c in checks
    )
    assert sorted(map(tuple, res.drift.collect())) == sorted(map(tuple, sink))
    verdicts = {
        (r.partition_value, r.check_name): r.passed
        for r in res.verdicts.collect()
        if r.check_name in checks
    }
    assert verdicts == {
        (r.source, r.check_name): r.psi <= cfg.psi_threshold for r in sink
    }


def test_snapshot_resume_reinvalidates_only_appended_partition(spark, tmp_path):
    """Snapshot-id lineage model (SURVEY §7.4 / VERDICT r3 action 6):
    validate a hive-partitioned input against its Snapshot; append data to
    ONE partition → the new snapshot has a new snapshot_id, the stale
    partition's skip is invalidated, every untouched partition still
    skips. The table changed, so nothing is pruned: the resumed run gives
    the verdicts of a run without a manifest over every row. A rerun
    against the unchanged snapshot prunes every validated partition."""
    from dataprofiler_spark.plans.manifest import snapshot_from_path

    inp = str(tmp_path / "table")
    clean = gen_sequences(spark, N)
    clean.write.partitionBy("source").parquet(inp)

    snap1 = snapshot_from_path(inp, part_prefix="source")
    cfg = ValidationConfig(
        manifest_dir=str(tmp_path / "manifest"), snapshot=snap1
    )
    stored = spark.read.parquet(inp)
    r1 = run_validation(spark, stored, gen_sources_ref(spark), cfg=cfg)
    assert r1.summary["partitions_skipped"] == 0
    recs = Manifest(cfg.manifest_dir).load()
    some_part = next(p for p, rec in recs.items() if rec.status == "validated")
    assert recs[some_part].snapshot_id == snap1.snapshot_id
    assert recs[some_part].lineage == snap1.partition_lineage[some_part]

    # append rows to ONE partition
    extra = clean.filter(F.col("source") == some_part).limit(50)
    extra.write.mode("append").partitionBy("source").parquet(inp)
    snap2 = snapshot_from_path(inp, part_prefix="source")
    assert snap2.snapshot_id != snap1.snapshot_id
    assert snap2.partition_lineage[some_part] != snap1.partition_lineage[some_part]
    untouched = [
        p for p in snap1.partition_lineage
        if p != some_part and snap2.partition_lineage[p] == snap1.partition_lineage[p]
    ]
    assert untouched

    cfg2 = ValidationConfig(manifest_dir=cfg.manifest_dir, snapshot=snap2)
    r2 = run_validation(
        spark, spark.read.parquet(inp), gen_sources_ref(spark), cfg=cfg2
    )
    # the appended partition re-validates; untouched VALIDATED partitions skip
    assert some_part not in r2.skipped_partitions
    validated_untouched = {
        p for p in untouched if recs[p].status == "validated"
    }
    assert validated_untouched <= r2.skipped_partitions

    def matrix(res):
        return {
            (r.partition_value, r.check_name): (r.passed, r.row_count, r.violation_count)
            for r in res.verdicts.collect()
        }

    full = run_validation(spark, spark.read.parquet(inp), gen_sources_ref(spark))
    assert matrix(r2) == matrix(full)
    assert r2.summary["rows_validated"] == spark.read.parquet(inp).count()

    # same snapshot again: the partitions r2 validated are pruned, only
    # the failing ones are read
    passed = {p for p, rec in Manifest(cfg.manifest_dir).load().items() if rec.status == "validated"}
    r3 = run_validation(
        spark, spark.read.parquet(inp), gen_sources_ref(spark), cfg=cfg2
    )
    assert passed and r3.skipped_partitions == passed
    assert r3.summary["rows_validated"] == spark.read.parquet(inp).filter(
        ~F.col("source").isin(sorted(passed))
    ).count()


def test_snapshot_ops_replay_append_compact_overwrite(spark, tmp_path):
    """Iceberg-operation simulation (VERDICT r4 #5): replay an
    append → compact → overwrite sequence against the manifest skip
    logic. Compaction (file rewrite, same data) must NOT invalidate any
    partition — the case the file-fingerprint lineage of
    snapshot_from_path gets wastefully wrong — while append and
    overwrite invalidate exactly the touched partition."""
    from dataprofiler_spark.plans.manifest import (
        PartitionRecord,
        Snapshot,
        snapshot_append,
        snapshot_compact,
        snapshot_overwrite,
    )

    snap0 = Snapshot(
        snapshot_id="", partition_lineage={"web": "t-web", "books": "t-books", "code": "t-code"}
    )
    man = Manifest(str(tmp_path / "m"))
    for p, tok in snap0.partition_lineage.items():
        man.record(PartitionRecord(p, "validated", tok, 100))
    assert set(man.validated_partitions_for(snap0)) == {"web", "books", "code"}

    # append to web: only web re-validates
    snap1 = snapshot_append(snap0, "web", "files-batch-2")
    assert set(man.validated_partitions_for(snap1)) == {"books", "code"}
    assert snap1.snapshot_id != snap0.snapshot_id
    man.record(PartitionRecord("web", "validated", snap1.partition_lineage["web"], 150))

    # compaction: every skip survives, nothing re-validates
    snap2 = snapshot_compact(snap1)
    assert set(man.validated_partitions_for(snap2)) == {"web", "books", "code"}
    assert snap2.partition_lineage == snap1.partition_lineage

    # overwrite books: exactly books re-validates, and the fresh token is
    # NOT the append-chain evolution of the old one
    snap3 = snapshot_overwrite(snap2, "books", "rewrite-1")
    assert set(man.validated_partitions_for(snap3)) == {"web", "code"}
    assert snap3.partition_lineage["books"] != snapshot_append(
        snap2, "books", "rewrite-1"
    ).partition_lineage["books"]

    # same data identity == same snapshot id (content-addressed)
    assert snapshot_compact(snap3).snapshot_id == snap3.snapshot_id


def test_snapshot_from_single_file_tracks_the_file(tmp_path):
    """A single-file input fingerprints under the "" partition, so the
    snapshot id (every partition's token) changes with the file."""
    import os

    from dataprofiler_spark.plans.manifest import snapshot_from_path

    f = tmp_path / "t.parquet"
    f.write_bytes(b"a")
    before = snapshot_from_path(str(f), part_prefix="source")
    assert set(before.partition_lineage) == {""}
    f.write_bytes(b"ab")
    os.utime(f, (1, 1))
    assert snapshot_from_path(str(f), part_prefix="source").snapshot_id != before.snapshot_id


def test_content_lineage_survives_physical_compaction(spark, tmp_path):
    """content_lineage is layout-invariant and data-sensitive: rewriting
    a parquet partition's files (real compaction: many files → one)
    keeps the token; changing one row flips it; the file-fingerprint
    lineage flips on compaction (documented waste)."""
    from dataprofiler_spark.plans.manifest import content_lineage, input_fingerprint

    inp = str(tmp_path / "t")
    df = gen_sequences(spark, 2_000).filter(F.col("source") == "web")
    df.repartition(8).write.parquet(inp)  # 8 files

    before_content = content_lineage(spark.read.parquet(inp))
    before_files = input_fingerprint(inp)

    # physical compaction: same rows, one file
    compacted = str(tmp_path / "t2")
    spark.read.parquet(inp).coalesce(1).write.parquet(compacted)
    assert content_lineage(spark.read.parquet(compacted)) == before_content
    assert input_fingerprint(compacted) != before_files  # the wasteful case

    # a one-row change flips the content token
    mutated = spark.read.parquet(compacted).withColumn(
        "n_tok",
        F.when(F.col("doc_id") == df.select(F.min("doc_id")).collect()[0][0],
               F.col("n_tok") + 1).otherwise(F.col("n_tok")),
    )
    assert content_lineage(mutated) != before_content
    # duplicate rows are multiset-visible (xor-style digests would cancel)
    doubled = spark.read.parquet(compacted).unionAll(spark.read.parquet(compacted))
    assert content_lineage(doubled) != before_content
