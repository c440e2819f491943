"""Formatters (reference layout parity) + CLI flag-gating semantics."""

import json
import subprocess
import sys

import pytest

from dataprofiler_spark.cli import build_parser, validate_args
from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.report import (
    format_csv,
    format_json,
    format_markdown,
    format_table,
)


@pytest.fixture(scope="module")
def prof_rows(spark):
    df = spark.createDataFrame([(1, "a", 0.0), (2, "b", 10.0)], "id int, name string, v double")
    return profile(df, "t").collect()


def test_markdown_layout(prof_rows):
    md = format_markdown(prof_rows, "t")
    assert md.startswith("## Profile: t")
    assert "| column_name |" in md
    assert "| id |" in md


def test_zero_rendered_not_blank(prof_rows):
    """Divergence from formatters.py:171-175 falsy bug: 0.0 renders."""
    row = next(r for r in prof_rows if r.column_name == "v")
    assert row.avg_value == 5.0
    md = format_markdown([row], "t")
    assert " 5.0000 " in md  # 4dp numeric display
    assert " 1.00 " in md  # 2dp proportions


def test_csv_and_json_and_table(prof_rows):
    csv_out = format_csv(prof_rows)
    assert csv_out.splitlines()[0].startswith("column_name,data_type,row_count")
    j = json.loads(format_json(prof_rows, "t"))
    assert j["table_name"] == "t" and len(j["columns"]) == 3
    tbl = format_table(prof_rows, "t")
    assert tbl.count("+") > 4 and "is_unique" in tbl


def test_cli_flag_gating():
    p = build_parser()
    # no stage flag → error (reference main.py:625-641)
    args = p.parse_args(["--input", "/x"])
    assert "stage flag" in validate_args(args)
    # drift without baseline → error
    args = p.parse_args(["--input", "/x", "--drift"])
    assert "--baseline" in validate_args(args)
    args = p.parse_args(["--input", "/x", "--validate"])
    assert validate_args(args) is None
    # no input → error
    args = p.parse_args(["--validate"])
    assert "--input" in validate_args(args)


def test_cli_end_to_end_subprocess(tmp_path):
    """Drive the CLI as a user would: synthetic violations → exit code 1,
    summary JSON on stdout, sinks + manifest written."""
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "dataprofiler_spark.cli",
            "--synthetic-rows", "3000",
            "--synthetic-violations",
            "--validate",
            "--manifest-dir", str(tmp_path / "m"),
            "--output-dir", str(tmp_path / "o"),
            "--master", "local[4]",
            "--shuffle-partitions", "4",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=900,
    )
    assert out.returncode == 1, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["passed"] is False
    assert summary["rows_validated"] == 3000
    assert (tmp_path / "m").glob("partition=*.json")


def test_cli_baseline_drift_cycle(tmp_path):
    """Full CLI workflow: write baseline on snapshot A, drift-check
    snapshot A against it (passes), all via subprocess."""
    base = [
        sys.executable, "-m", "dataprofiler_spark.cli",
        "--master", "local[4]", "--shuffle-partitions", "4",
    ]
    out = subprocess.run(
        base + ["--synthetic-rows", "2000", "--write-baseline", str(tmp_path / "bl")],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    assert (tmp_path / "bl" / "n_tok_hist").exists()
    assert (tmp_path / "bl" / "token_freq").exists()

    out2 = subprocess.run(
        base + ["--synthetic-rows", "2000", "--drift", "--baseline", str(tmp_path / "bl")],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    summary = json.loads(out2.stdout.strip().splitlines()[-1])
    # same snapshot: drift passes; only empty_src row-count check fails
    assert summary["checks_failed"] <= 1, summary


def test_cli_multi_table_config_isolation(spark, tmp_path):
    """Config-driven multi-table run: a crashing table (missing path) must
    not abort the others (reference main.py:734-799 failure isolation)."""
    from dataprofiler_spark.sources import gen_sequences

    gen_sequences(spark, 1000).write.parquet(str(tmp_path / "good"))
    cfg = {
        "tables": [
            {"name": "good", "input": str(tmp_path / "good")},
            {"name": "ghost_table", "input": str(tmp_path / "does_not_exist")},
        ]
    }
    (tmp_path / "conf.json").write_text(json.dumps(cfg))
    out = subprocess.run(
        [
            sys.executable, "-m", "dataprofiler_spark.cli",
            "--config", str(tmp_path / "conf.json"), "--validate",
            "--master", "local[4]", "--shuffle-partitions", "4",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    lines = [json.loads(l) for l in out.stdout.strip().splitlines() if l.startswith("{")]
    run_summary = next(l for l in lines if l.get("run_summary"))
    assert run_summary["crashed_tables"] == ["ghost_table"]
    good = next(l for l in lines if l.get("table_name") == "good")
    assert good["rows_validated"] == 1000  # good table still ran
    assert out.returncode == 1


def test_cli_suggest_and_enforce_expectations(tmp_path):
    """Closed CLI loop: profile clean data → generated expectation suite →
    enforce on clean data (passes) → enforce on violating data (fails) —
    the reference's generate-checks-from-profile workflow end to end."""
    suite_file = str(tmp_path / "suite.json")
    common = ["--master", "local[4]", "--shuffle-partitions", "4"]
    gen = subprocess.run(
        [sys.executable, "-m", "dataprofiler_spark.cli",
         "--synthetic-rows", "2000", "--data-profile",
         "--suggest-expectations", suite_file, "--output-file",
         str(tmp_path / "prof.txt"), *common],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    assert gen.returncode == 0, gen.stderr[-2000:]
    suite = json.load(open(suite_file))
    assert any(e["metric"] == "row_count" for e in suite)
    assert any(e["metric"] == "not_null_proportion" for e in suite)

    ok = subprocess.run(
        [sys.executable, "-m", "dataprofiler_spark.cli",
         "--synthetic-rows", "2000", "--validate",
         "--expectations", suite_file, *common],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    # clean data: the ONLY failing check is the registered-but-empty
    # partition's row_count_gt_0 (by fixture design) — every generated
    # expectation passes on the data it was derived from
    summary_ok = json.loads(ok.stdout.strip().splitlines()[-1])
    assert summary_ok["checks_failed"] == 1, ok.stdout[-2000:]

    bad = subprocess.run(
        [sys.executable, "-m", "dataprofiler_spark.cli",
         "--synthetic-rows", "2000", "--synthetic-violations", "--validate",
         "--expectations", suite_file, *common],
        capture_output=True, text=True, cwd="/root/repo", timeout=900,
    )
    assert bad.returncode == 1
    summary_bad = json.loads(bad.stdout.strip().splitlines()[-1])
    # violations break generated expectations on top of the built-in checks
    assert summary_bad["checks_failed"] > summary_ok["checks_failed"]


def test_package_zip_importable(tmp_path):
    """The --py-files artifact must be importable via zipimport exactly as
    executors would import it (fresh interpreter, zip as the ONLY path to
    the package)."""
    import subprocess
    import sys

    from dataprofiler_spark.package import build_zip

    out = build_zip(str(tmp_path / "dataprofiler_spark.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "sys.modules.pop('dataprofiler_spark', None); "
        "import dataprofiler_spark.operators.profile as p, "
        "dataprofiler_spark.operators.checks as c, "
        "dataprofiler_spark.queries as q; "
        "print('zip-import-ok', p.__file__.startswith(%r))" % (out, out)
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=str(tmp_path), env={"PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    assert "zip-import-ok True" in r.stdout


def test_cli_pii_and_layout(spark, tmp_path):
    """--pii-scan prints per-partition prevalence rows (+ writes the
    redacted copy with --output-dir); --layout-report prints the
    small-file verdict. In-process main() like the config test."""
    import json as _json

    from dataprofiler_spark.cli import main

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "write to a@b.io today", "s1"),
            (2, "nothing here", "s1"),
            (3, "ip 10.0.0.1 and ssn 123-45-6789", "s2"),
        ],
        "doc_id long, text string, source string",
    ).repartition(4).write.parquet(inp)

    out_dir = str(tmp_path / "out")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", inp, "--pii-scan", "--output-dir", out_dir])
    assert rc == 0
    lines = [_json.loads(l) for l in buf.getvalue().strip().splitlines()]
    by_src = {l["source"]: l for l in lines if "source" in l}
    assert by_src["s1"]["docs_with_pii"] == 1 and by_src["s1"]["total_email"] == 1
    assert by_src["s2"]["total_ssn"] == 1 and by_src["s2"]["total_ipv4"] == 1
    red = spark.read.parquet(f"{out_dir}/redacted")
    texts = {r.doc_id: r.text_redacted for r in red.collect()}
    assert texts[1] == "write to [EMAIL] today"

    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc2 = main(["--input", inp, "--layout-report"])
    assert rc2 == 0
    rep = _json.loads(buf2.getvalue().strip().splitlines()[-1])
    # AQE may coalesce the tiny write below 4 part-files; all are small
    assert rep["n_files"] >= 2 and rep["small_fraction"] == 1.0
    assert rep["needs_compaction"] is True

    # gating: --layout-report without --input is an error
    from dataprofiler_spark.cli import build_parser, validate_args

    args = build_parser().parse_args(["--layout-report", "--synthetic-rows", "10"])
    assert "--layout-report" in validate_args(args)


def test_cli_resume_skips_validated_partitions(spark, tmp_path):
    """--input with --manifest-dir resumes per partition: a second run over
    the unchanged hive-partitioned table skips every partition that passed
    and reads none of their rows; only the failing registered-but-empty
    partition is re-validated."""
    import contextlib
    import io

    from dataprofiler_spark.cli import main
    from dataprofiler_spark.plans.manifest import Manifest
    from dataprofiler_spark.sources import gen_sequences

    inp = str(tmp_path / "table")
    gen_sequences(spark, 2_000).write.partitionBy("source").parquet(inp)
    argv = ["--input", inp, "--validate", "--manifest-dir", str(tmp_path / "manifest")]

    def run():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(argv)
        return rc, json.loads(buf.getvalue().strip().splitlines()[-1])

    rc1, first = run()
    assert rc1 == 1  # empty_src fails row_count_gt_0
    assert first["partitions_skipped"] == 0 and first["rows_validated"] == 2_000
    recs = Manifest(str(tmp_path / "manifest")).load()
    passed = {p for p, rec in recs.items() if rec.status == "validated"}
    assert passed and set(recs) - passed == {"empty_src"}

    rc2, second = run()
    assert rc2 == 1
    assert second["partitions_skipped"] == len(passed)
    assert second["partitions_validated"] == 1
    assert second["rows_validated"] == 0


def test_cli_profile_sink_written_from_collected_rows(spark, tmp_path, monkeypatch):
    """--data-profile --output-dir writes the rows it already collected:
    no DataFrameWriter call (which would run the profile plan again), and
    a relative --output-dir resolves against the working directory."""
    from pyspark.sql import DataFrameWriter

    from dataprofiler_spark.cli import main
    from dataprofiler_spark.operators.profile import ProfileConfig
    from dataprofiler_spark.sources import gen_sequences

    calls = []
    monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, path, *a, **k: calls.append(path))
    monkeypatch.chdir(tmp_path)
    assert main(["--synthetic-rows", "2000", "--data-profile", "--output-dir", "out"]) == 0
    assert calls == []

    sink = spark.read.parquet(str(tmp_path / "out" / "data_profiles"))
    want = profile(
        gen_sequences(spark, 2000), "sequences", group_by=["source"],
        cfg=ProfileConfig(exact=True),
    )
    assert sink.columns == want.columns
    assert sorted(map(tuple, sink.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )
