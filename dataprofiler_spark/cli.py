"""CLI mirroring the reference's argparse surface and flag-gating semantics
(/root/reference/main.py:42-164, cross-validation :625-641), re-targeted at
parquet/Iceberg inputs.

Launch:  spark-submit --py-files dataprofiler_spark.zip -m dataprofiler_spark.cli ...
   or:   python -m dataprofiler_spark.cli --input <dir> --data-profile

Stages (flag-gated exactly like the reference's --data-profile /
--profile-schema / --auto-increment):
  --data-profile    single-pass column profile (per --partition-col)
  --validate        full constraint suite (uniqueness/RI/invariants)
  --drift           PSI/chi² vs --baseline histogram
  --growth          max(id) capacity trending (auto-increment analog)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from dataprofiler_spark import get_spark
from dataprofiler_spark.operators.drift import histogram
from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.pipeline import NTOK_BUCKET_WIDTH, ValidationConfig, run_validation
from dataprofiler_spark.plans.manifest import Snapshot, snapshot_from_path
from dataprofiler_spark.report import FORMATTERS, write_report
from dataprofiler_spark.sinks import append_rows, local_frame
from dataprofiler_spark.sources.synthetic import gen_sequences, gen_sources_ref


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dataprofiler-spark",
        description="PySpark-native schema + constraint validation engine",
    )
    p.add_argument("--input", help="parquet path of the table to validate")
    p.add_argument("--synthetic-rows", type=int, help="generate N synthetic sequence rows instead of reading --input")
    p.add_argument("--synthetic-violations", action="store_true")
    p.add_argument("--table-name", default="sequences")
    p.add_argument("--partition-col", default="source")
    # stage gates (reference main.py:625-641 semantics: at least one stage)
    p.add_argument("--data-profile", action="store_true")
    p.add_argument("--validate", action="store_true")
    p.add_argument("--drift", action="store_true")
    p.add_argument("--growth", action="store_true")
    p.add_argument(
        "--pii-scan",
        action="store_true",
        help="per-partition PII prevalence summary over --text-col "
        "(regex detectors: email/ipv4/phone/ssn/credit card); with "
        "--output-dir also writes the redacted copy",
    )
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--layout-report",
        action="store_true",
        help="storage-layout verdict for --input from a metadata-only file "
        "listing: small-file fraction + recommended compaction target",
    )
    p.add_argument("--baseline", help="parquet path of baseline n_tok histogram (for --drift)")
    p.add_argument(
        "--write-baseline",
        help="profile the input and write drift-baseline artifacts "
        "(n_tok histogram + token frequencies) to this dir",
    )
    p.add_argument("--reference", help="parquet path of golden sequence copy (token equality)")
    p.add_argument("--output-dir", help="sink dir for profiles/verdicts/violations")
    p.add_argument("--manifest-dir", help="checkpoint manifest dir (enables resume)")
    p.add_argument("--format", choices=list(FORMATTERS), default="table")
    p.add_argument("--output-file")
    p.add_argument("--append", action="store_true")
    p.add_argument(
        "--approx",
        action="store_true",
        help="HLL/approx quantiles instead of exact, and token equality by "
        "(xxhash64, size) digest join with no UDF (scale path; equal digests "
        "read as equal) instead of an Arrow UDF over every joined row",
    )
    p.add_argument(
        "--violation-cap",
        type=int,
        default=1000,
        help=(
            "max violation rows emitted PER (check, partition) — a global "
            "per-check cap would funnel every violating row of a mass "
            "failure through one reducer; total rows are bounded by "
            "cap x partitions x checks"
        ),
    )
    p.add_argument(
        "--suggest-expectations",
        metavar="FILE",
        help="with --data-profile: generate a default expectation suite "
        "from the observed profile and write it as JSON (the reference's "
        "generate-SodaCL-from-profile workflow, profiler.py:78-101); "
        "feed it back via --expectations",
    )
    p.add_argument(
        "--expectations",
        metavar="FILE",
        help="with --validate: JSON expectation suite "
        "([{column, metric, op, value}, ...]) evaluated against the profile "
        "and unioned into the verdict matrix",
    )
    p.add_argument("--master")
    p.add_argument("--shuffle-partitions", type=int)
    p.add_argument(
        "--config",
        help="JSON config for multi-table runs: {\"tables\": [{\"name\", \"input\", "
        "\"partition_col\"?}, ...]} — per-table failure isolation like the "
        "reference's per-table loop (main.py:734-799)",
    )
    return p


def validate_args(args) -> str | None:
    if not (
        args.data_profile
        or args.validate
        or args.drift
        or args.growth
        or args.write_baseline
        or args.pii_scan
        or args.layout_report
    ):
        return (
            "at least one stage flag required "
            "(--data-profile/--validate/--drift/--growth/--write-baseline/"
            "--pii-scan/--layout-report)"
        )
    if not args.input and not args.synthetic_rows and not args.config:
        return "--input, --synthetic-rows, or --config required"
    if args.drift and not args.baseline:
        return "--drift requires --baseline"
    if args.layout_report and not args.input:
        return "--layout-report requires --input (a table directory)"
    return None


def run_config(spark, args) -> int:
    """Multi-table run with per-table failure isolation: one failing table
    never aborts the run (reference main.py:734-799, failed list :792-794).
    Emits one summary JSON line per table plus a run summary; exit 1 if any
    table failed checks or crashed."""
    with open(args.config) as f:
        conf = json.load(f)
    failed_tables, check_failures = [], 0
    for spec in conf.get("tables", []):
        name = spec.get("name", spec["input"])
        try:
            df = spark.read.parquet(spec["input"])
            part_col = spec.get("partition_col", args.partition_col)
            part_col = part_col if part_col in df.columns else "source"
            cfg = ValidationConfig(
                table_name=name,
                part_col=part_col,
                violation_cap=args.violation_cap,
                exact=not args.approx,
                output_dir=args.output_dir,
                manifest_dir=(
                    f"{args.manifest_dir}/{name}" if args.manifest_dir else None
                ),
                snapshot=snapshot_from_path(spec["input"], part_prefix=part_col),
            )
            res = run_validation(spark, df, gen_sources_ref(spark), cfg=cfg)
            print(json.dumps(res.summary))
            if not res.summary["passed"]:
                check_failures += 1
        except Exception as exc:  # per-table isolation, run continues
            failed_tables.append(name)
            print(json.dumps({"table_name": name, "error": str(exc)[:300]}))
    print(
        json.dumps(
            {
                "run_summary": True,
                "tables": len(conf.get("tables", [])),
                "crashed_tables": failed_tables,
                "tables_with_failed_checks": check_failures,
            }
        )
    )
    return 1 if (failed_tables or check_failures) else 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    err = validate_args(args)
    if err:
        print(f"error: {err}", file=sys.stderr)
        return 2

    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.config:
        return run_config(spark, args)

    if args.synthetic_rows:
        df = gen_sequences(spark, args.synthetic_rows, violations=args.synthetic_violations)
        snapshot = Snapshot(
            snapshot_id=f"synthetic:{args.synthetic_rows}:{args.synthetic_violations}",
            partition_lineage={},
        )
    else:
        df = spark.read.parquet(args.input)
        snapshot = snapshot_from_path(args.input, part_prefix=args.partition_col)

    exit_code = 0

    if args.write_baseline:
        # baseline artifacts for a later --drift run: per-partition n_tok
        # histogram + token frequencies (the stored-baseline-profile role
        # of FIXTURES.md §2)
        part = [args.partition_col] if args.partition_col in df.columns else []
        histogram(df, "n_tok", NTOK_BUCKET_WIDTH, group_by=part).write.mode("overwrite").parquet(
            f"{args.write_baseline}/n_tok_hist"
        )
        if "tokens" in df.columns:
            (
                df.select(*part, F.explode("tokens").alias("bucket"))
                .groupBy(*part, "bucket")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .write.mode("overwrite")
                .parquet(f"{args.write_baseline}/token_freq")
            )
        print(json.dumps({"baseline_written": args.write_baseline}))

    if args.data_profile:
        prof = profile(
            df,
            args.table_name,
            group_by=[args.partition_col] if args.partition_col in df.columns else None,
            exact=not args.approx,
        )
        rows = prof.collect()
        write_report(
            FORMATTERS[args.format](rows, args.table_name),
            args.output_file,
            args.append,
        )
        if args.output_dir:
            # the collected rows, not `prof`: writing the frame would run
            # the whole profile plan over the input a second time
            append_rows(rows, prof.schema, f"{args.output_dir}/data_profiles")
        if args.suggest_expectations:
            from dataclasses import asdict

            from dataprofiler_spark.operators.expectations import suggest_expectations

            suite = suggest_expectations(local_frame(spark, rows, prof.schema))
            with open(args.suggest_expectations, "w") as f:
                json.dump([asdict(e) for e in suite], f, indent=1)
            print(json.dumps({"expectations_written": args.suggest_expectations,
                              "count": len(suite)}))

    if args.validate or args.drift:
        baseline_hist = None
        baseline_token_freq = None
        if args.drift and args.baseline:
            import os

            hist_path = f"{args.baseline}/n_tok_hist"
            baseline_hist = spark.read.parquet(
                hist_path if os.path.exists(hist_path) else args.baseline
            )
            tf_path = f"{args.baseline}/token_freq"
            if os.path.exists(tf_path):
                baseline_token_freq = spark.read.parquet(tf_path)
        reference = spark.read.parquet(args.reference) if args.reference else None
        expectations = None
        if args.expectations:
            from dataprofiler_spark.operators.expectations import from_dicts

            with open(args.expectations) as f:
                expectations = from_dicts(json.load(f))
        cfg = ValidationConfig(
            table_name=args.table_name,
            part_col=args.partition_col,
            violation_cap=args.violation_cap,
            exact=not args.approx,
            output_dir=args.output_dir,
            manifest_dir=args.manifest_dir,
            snapshot=snapshot,
        )
        res = run_validation(
            spark,
            df,
            gen_sources_ref(spark),
            reference=reference,
            baseline_hist=baseline_hist,
            baseline_token_freq=baseline_token_freq,
            expectations=expectations,
            cfg=cfg,
        )
        print(json.dumps(res.summary))
        if not res.summary["passed"]:
            exit_code = 1  # reference main.py:809-819 exit semantics

    if args.pii_scan:
        from dataprofiler_spark.operators.pii import pii_summary, redact

        if args.text_col not in df.columns:
            print(f"error: --pii-scan: no column '{args.text_col}'", file=sys.stderr)
            return 2
        part = (
            args.partition_col
            if args.partition_col in df.columns
            else df.columns[0]
        )
        rows = pii_summary(df, args.text_col, part).collect()
        for r in sorted(rows, key=lambda r: str(r[part])):
            print(json.dumps(r.asDict()))
        if args.output_dir:
            redact(df, args.text_col).write.mode("overwrite").parquet(
                f"{args.output_dir}/redacted"
            )
            print(json.dumps({"redacted_written": f"{args.output_dir}/redacted"}))

    if args.layout_report:
        from dataprofiler_spark.plans.layout import file_layout_report

        rep = file_layout_report(spark, args.input).collect()[0]
        print(json.dumps(rep.asDict()))

    if args.growth:
        from dataprofiler_spark.operators.growth import growth_profile

        id_col = "doc_id" if "doc_id" in df.columns else df.columns[0]
        num = df.select(
            F.regexp_extract(F.col(id_col).cast("string"), r"(\d+)", 1).cast("long").alias("id")
        )
        gp = growth_profile(num, "id", "bigint")
        print(json.dumps(gp.__dict__, default=str))

    return exit_code


if __name__ == "__main__":
    sys.exit(main())
