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

from dataprofiler_spark.operators.checks import run_sequence_suite
from dataprofiler_spark.operators.drift import drift_by_group, histogram
from dataprofiler_spark.operators.profile import ProfileConfig, profile
from dataprofiler_spark.plans.manifest import Manifest, PartitionRecord, Snapshot


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
    and recorded; it is only reported as skipped."""
    cfg = cfg or ValidationConfig()
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

    # With output_dir set the run needs MULTIPLE actions over the same
    # input (profile, verdict collect, drift) — fresh plans do NOT reuse
    # shuffle outputs, so each would re-read the source. Persist the input
    # across them; MEMORY_AND_DISK in local/bench scale — on a cluster
    # where the table doesn't fit, swap for DISK_ONLY or accept the extra
    # passes.
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
        profiles = spark.createDataFrame(profiles.collect(), profiles.schema)

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

    def _small(frame: DataFrame, check_name: str) -> DataFrame:
        # drift frames are group-sized (one row per partition). They feed
        # BOTH the verdict union and the drift sink — collect once so the
        # histogram scans don't re-execute per consumer. The check label
        # goes on the local frame: the frame collected must be the one
        # drift_by_group returned (perfbench/tracing.py attributes that
        # collect to the drift layer by frame identity).
        local = spark.createDataFrame(frame.collect(), frame.schema)
        return local.withColumn("check_name", F.lit(check_name))

    drifts = []
    if baseline_hist is not None:
        cur_hist = histogram(df, "n_tok", cfg.drift_bucket_width, group_by=[cfg.part_col])
        drifts.append(
            _small(drift_by_group(baseline_hist, cur_hist, cfg.part_col), "n_tok_drift_psi")
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
            _small(
                drift_by_group(baseline_token_freq, cur_tokens, cfg.part_col, eps=1e-9),
                "token_freq_drift_psi",
            )
        )

    drift = None
    for d in drifts:
        drift = d if drift is None else drift.unionByName(d)
    if drift is not None:
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

    if cfg.output_dir:
        # profiles/verdicts/drift are local (collect-funneled) frames here —
        # their writes execute no input scans; violations is the one
        # distributed write and reads the persisted check frame.
        profiles.write.mode("append").parquet(f"{cfg.output_dir}/data_profiles")
        verdict_rows.write.mode("append").parquet(f"{cfg.output_dir}/validation_verdicts")
        violations.write.mode("append").parquet(f"{cfg.output_dir}/violations")
        if drift is not None:
            drift.write.mode("append").parquet(f"{cfg.output_dir}/drift_metrics")
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


@dataclass
class CurationConfig:
    """Corpus-curation pipeline knobs (optional URL dedup → optional
    paragraph/span cleanup → heuristic + optional model quality gate →
    exact dedup → PII redaction → split assignment)."""

    min_words: int = 10
    min_distinct_ratio: float = 0.3
    redact_pii: bool = True
    splits: dict | None = None  # name -> fraction; default 90/5/5
    text_col: str = "text"
    key_col: str = "doc_id"
    # optional corpus-global paragraph dedup BEFORE the quality gate
    # (C4/RefinedWeb order: strip duplicated lines first, then judge the
    # cleaned text) — funnel gains n_paragraphs_removed when enabled
    dedup_paragraphs: bool = False
    paragraph_sep: str = "\n"
    # optional duplicated-span removal (after paragraph dedup, before the
    # quality gate) — funnel gains n_span_words_removed when enabled;
    # NOTE: rebuilt text is whitespace-normalized (operator contract)
    remove_spans: bool = False
    span_k: int = 3
    span_max_doc_freq: int = 2
    # optional URL-level dedup (crawl order: FIRST, before content
    # stages): canonicalize `url_col` and keep the min-key doc per
    # canonical URL — refetches with tracking params / www / default
    # ports collapse before any text is judged. Funnel gains
    # n_url_survivors when enabled.
    url_col: str | None = None
    # optional model-based quality gate (fastText-style hashed-unigram
    # linear classifier, textstats.hashed_linear_score) ANDed into the
    # heuristic quality gate; scored on the post-cleanup text. Funnel
    # gains n_model_pass when enabled. `model_weights` is the trained
    # (bucket, weight) table; None = the SQL-replayable demo weights.
    min_model_score: float | None = None
    model_weights: DataFrame | None = None


@dataclass
class CurationResult:
    curated: DataFrame  # survivors: key, redacted text, passthrough, split
    funnel: DataFrame   # ONE row: counts at every stage


RESERVED_CURATION_COLS = (
    "n_chars_calc", "n_words", "mean_word_len", "distinct_word_ratio",
    "stopword_ratio", "fingerprint", "split",
    "__pd_text", "__pd_removed", "__rs_text", "__rs_removed",
    "__url_keep", "__model_score", "__model_pass",
)


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    cfg: CurationConfig | None = None,
    persist: bool = False,
) -> CurationResult:
    """The materializing end-to-end curation run (the productized form of
    the corpus_curation_summary analytics): gate on quality features,
    keep the min-key survivor per content fingerprint AMONG quality
    passes, redact PII, assign deterministic splits — and account for
    every document in a one-row funnel.

    Scale shape: quality features, fingerprint, PII regex, and split
    assignment are all map-side expressions over ONE scan; exact-dedup
    survivorship is ONE window shuffle on the fingerprint (ordered
    quality-first then key, so a survivor is always a quality pass when
    any exists). The funnel is one aggregate over the same flagged frame
    — stages never re-scan the corpus."""
    from dataprofiler_spark.operators.pii import redact
    from dataprofiler_spark.operators.sampling import hash_split
    from dataprofiler_spark.operators.textstats import fingerprint, quality_features
    from pyspark.sql import Window

    cfg = cfg or CurationConfig()
    splits = cfg.splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    for c in (cfg.text_col, cfg.key_col):
        if c not in docs.columns:
            raise ValueError(f"curate_corpus: input has no column '{c}'")
    clash = [c for c in RESERVED_CURATION_COLS if c in docs.columns]
    if clash:
        raise ValueError(
            f"curate_corpus: input columns {clash} collide with curation "
            "staging columns — rename them first (they would be clobbered)"
        )
    # fractions summing below 1 leave a 'rest' bucket (hash_split
    # semantics) — the funnel must account for it too
    split_names = list(splits)
    if sum(splits.values()) < 1.0 - 1e-9:
        split_names.append("rest")
    passthrough = list(docs.columns)

    url_enabled = cfg.url_col is not None
    if url_enabled:
        # URL-level dedup FIRST (crawl order): flag — don't filter — so
        # the one-scan funnel still accounts for every input row. One
        # narrow shuffle on the canonical URL; the flag join hashes on
        # (norm_url, key) so a hot URL's refetches stay spread.
        from dataprofiler_spark.operators.urls import with_normalized_url

        if cfg.url_col not in docs.columns:
            raise ValueError(f"curate_corpus: input has no column '{cfg.url_col}'")
        if "norm_url" in docs.columns:
            raise ValueError(
                "curate_corpus: input column 'norm_url' collides with the "
                "URL-dedup staging column — rename it first"
            )
        docs = with_normalized_url(docs, cfg.url_col, "norm_url")
        usurv = (
            docs.groupBy("norm_url")
            .agg(F.min(cfg.key_col).alias("__usk"))
            .select(F.col("norm_url").alias("__unu"), "__usk")
        )
        # eqNullSafe: NULL-url docs form their own group and keep exactly
        # one survivor (matching url_dedup's groupBy semantics) instead of
        # all failing a null-unsafe equality. Survivor choice is
        # key-deterministic (min key), NOT quality-aware — quality isn't
        # computed yet at this stage (that's the point: collapse refetches
        # before paying any text cost); content-level quality-first
        # survivorship is the fingerprint stage's job downstream.
        docs = (
            docs.join(
                usurv,
                F.col("norm_url").eqNullSafe(F.col("__unu"))
                & (F.col(cfg.key_col) == F.col("__usk")),
                "left",
            )
            .withColumn("__url_keep", F.col("__usk").isNotNull())
            .drop("__unu", "__usk", "norm_url")
        )

    para_removed = None
    if cfg.dedup_paragraphs:
        from dataprofiler_spark.operators.dedup import paragraph_dedup

        pd_out = paragraph_dedup(
            docs, cfg.key_col, cfg.text_col, cfg.paragraph_sep
        ).select(
            cfg.key_col,
            F.col("text_out").alias("__pd_text"),
            F.col("n_removed").alias("__pd_removed"),
        )
        docs = (
            docs.join(pd_out, cfg.key_col)
            .withColumn(cfg.text_col, F.col("__pd_text"))
            .drop("__pd_text")
        )
        para_removed = "__pd_removed"

    span_removed = None
    if cfg.remove_spans:
        from dataprofiler_spark.operators.dedup import remove_duplicated_spans

        rs = remove_duplicated_spans(
            docs, cfg.key_col, cfg.text_col, cfg.span_k, cfg.span_max_doc_freq
        ).select(
            cfg.key_col,
            F.col("text_out").alias("__rs_text"),
            F.col("n_removed_words").alias("__rs_removed"),
        )
        docs = (
            docs.join(rs, cfg.key_col)
            .withColumn(cfg.text_col, F.col("__rs_text"))
            .drop("__rs_text")
        )
        span_removed = "__rs_removed"

    if cfg.dedup_paragraphs or cfg.remove_spans:
        # `docs` fans out below (the surv aggregate + join both re-derive
        # `staged`, and the optional model gate scores `docs` again):
        # without materialization the cleanup window+join subtree — the
        # most expensive stage of the pipeline — would execute 2-3× per
        # action. localCheckpoint(eager=False) dedups the upstream plan
        # and lets the ContextCleaner free the blocks (gotcha 24); this
        # frame is NARROW (one row per doc), so gotcha-36's
        # materialization-direction rule is satisfied.
        docs = docs.localCheckpoint(eager=False)

    staged = quality_features(docs, cfg.text_col)
    q_pass = (F.col("n_words") >= cfg.min_words) & (
        F.col("distinct_word_ratio") >= cfg.min_distinct_ratio
    )
    model_enabled = cfg.min_model_score is not None
    if model_enabled:
        # model-based gate on the post-cleanup text: score per key
        # (explode + map-side-combined agg), joined back on (key) — the
        # one text-bearing shuffle this stage costs; at corpus scale,
        # pre-score and store the column instead. NULL score (empty doc)
        # fails the gate.
        from dataprofiler_spark.operators.textstats import hashed_linear_score

        scores = hashed_linear_score(
            docs, cfg.key_col, cfg.text_col,
            weights=cfg.model_weights, score_col="__model_score",
        )
        staged = staged.join(scores, cfg.key_col, "left")
        staged = staged.withColumn(
            "__model_pass",
            F.coalesce(F.col("__model_score") >= cfg.min_model_score, F.lit(False)),
        )
        q_pass = q_pass & F.col("__model_pass")
    if url_enabled:
        q_pass = q_pass & F.col("__url_keep")
    staged = fingerprint(staged, cfg.text_col).withColumn("__q", q_pass)
    # Survivor per fingerprint (quality-first, then min key) via a
    # map-side-combining AGGREGATE + a (fingerprint, key)-keyed left
    # join — NOT a rank window: a viral boilerplate content is one window
    # group, i.e. a single task sorting its entire duplicate set at
    # corpus scale. The aggregate collapses duplicates map-side, and the
    # join hashes on BOTH fingerprint and key, so a hot fingerprint's
    # rows stay spread across reducers. Semantics identical to
    # row_number() over (partition by fingerprint order by __q desc, key)
    # = 1 (min key among quality passes when any exist, else min key).
    surv = (
        staged.groupBy("fingerprint")
        .agg(
            F.max("__q").alias("__hq"),
            F.min(F.when(F.col("__q"), F.col(cfg.key_col))).alias("__kq"),
            F.min(cfg.key_col).alias("__ka"),
        )
        .select(
            F.col("fingerprint").alias("__sfp"),
            F.when(F.col("__hq"), F.col("__kq")).otherwise(F.col("__ka")).alias("__sk"),
        )
    )
    staged = (
        staged.join(
            surv,
            (F.col("fingerprint") == F.col("__sfp"))
            & (F.col(cfg.key_col) == F.col("__sk")),
            "left",
        )
        .withColumn("__keep", F.col("__q") & F.col("__sk").isNotNull())
        .drop("__sfp", "__sk")
    )
    # has_pii flag without a second scan — the SAME expression pii_scan
    # uses (operators/pii.pii_total_count), never a reimplementation
    from dataprofiler_spark.operators.pii import pii_total_count

    staged = staged.withColumn("__has_pii", pii_total_count(cfg.text_col) > 0)
    staged = hash_split(staged, cfg.key_col, splits)
    if persist:
        # two downstream actions (funnel + curated write) would otherwise
        # re-run the scan + fingerprint window each (gotcha 16)
        staged = staged.persist()

    def _n(expr, alias):
        # empty corpus: zeros, not NULL sums
        return F.coalesce(F.sum(expr.cast("long")), F.lit(0)).alias(alias)

    funnel_aggs = [
        F.count(F.lit(1)).alias("n_input"),
        _n(F.col("__q"), "n_quality"),
        _n(F.col("__keep"), "n_kept"),
        # honest name: PRESENCE of PII among kept docs — whether it was
        # then redacted is cfg.redact_pii's job, not this counter's claim
        _n(F.col("__keep") & F.col("__has_pii"), "n_kept_with_pii"),
    ]
    if model_enabled:
        funnel_aggs.insert(1, _n(F.col("__model_pass"), "n_model_pass"))
    if url_enabled:
        funnel_aggs.insert(1, _n(F.col("__url_keep"), "n_url_survivors"))
    if span_removed is not None:
        funnel_aggs.insert(
            1,
            F.coalesce(F.sum(span_removed), F.lit(0)).alias("n_span_words_removed"),
        )
    if para_removed is not None:
        funnel_aggs.insert(
            1,
            F.coalesce(F.sum(para_removed), F.lit(0)).alias("n_paragraphs_removed"),
        )
    for name in split_names:
        funnel_aggs.append(_n(F.col("__keep") & (F.col("split") == name), f"n_{name}"))
    funnel = staged.agg(*funnel_aggs)

    # output contract: the ORIGINAL columns (text possibly redacted) +
    # split — engineered staging columns never leak into the corpus
    kept = staged.filter(F.col("__keep"))
    if cfg.redact_pii:
        kept = redact(kept, cfg.text_col, output_col="__red").withColumn(
            cfg.text_col, F.col("__red")
        )
    # passthrough was snapshotted BEFORE the staging joins, so it never
    # contains the __pd_/__rs_ columns — no filtering needed
    kept = kept.select(*passthrough, "split")
    return CurationResult(curated=kept, funnel=funnel)
