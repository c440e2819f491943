#!/usr/bin/env python3
"""End-to-end benchmark of the validation pipeline (`pipeline.run_validation`).

    python3 perfbench/run.py --workload suite_exact --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives Spark at local[nproc]
with nproc shuffle partitions. Set-up starts the session, generates the
inputs with `sources.synthetic.gen_sequences(seed=...)` under
perfbench/.work/<workload>-<rows>-<seed>, and runs the pipeline once
untimed. Operations then repeat (closed loop, one client) until
`--seconds` have passed. Each one's written outputs are checked against an expected matrix computed
once with DuckDB from the inputs. The checks run after the measured
window, so neither their time nor DuckDB's memory counts toward the
program's figures. Times are reported net of the CPU share the
hypervisor stole from the virtual machine meanwhile (see `net_of_steal`).

The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0; per-layer with --trace 1). See
perfbench/NOTES.md for the workloads, metrics and recorded findings.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SUITE_ROWS = 10_000
RESUME_ROWS = 20_000
APPEND_ROWS = 200
APPEND_PARTITION = "legal"  # a 3 % source: the re-validation should scale with it
APPEND_PERTURBED = 4  # appended rows whose tokens differ from the golden copy
VIOLATION_CAP = 1000
DRIFT_BUCKET = 16.0
# A fixed 1 GiB driver heap (the product's default is 8g, grown on demand):
# with the default, peak_rss_mb spread 0.30 of its median over five runs
# (the heap grows as the collector chooses); with it, 0.01-0.02.
HEAP = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["suite_exact", "suite_sketch", "resume_append"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] cores and shuffle partitions (default: usable CPUs)")
    p.add_argument("--scale", type=float, default=1.0, help="multiply input row counts (smoke test)")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="flip one expected verdict, to show the oracle counts failures")
    return p.parse_args(argv)


class Suite:
    """suite_exact / suite_sketch: the violations table (6 % defect rows,
    40 % hot `web` source) with its golden reference copy and n_tok and
    token-frequency drift baselines; every operation validates every row."""

    warm_up = True  # one untimed operation before the measured ones

    def __init__(self, spark, work, seed, rows, exact):
        self.spark, self.work, self.seed, self.rows, self.exact = spark, work, seed, rows, exact
        self.bad, self.ref = f"{work}/sequences_bad", f"{work}/sequences_ref"
        self.base_hist, self.base_freq = f"{work}/baseline_hist", f"{work}/baseline_token_freq"

    def generate(self):
        from dataprofiler_spark.sources.synthetic import gen_sequences, gen_sources_ref

        gen_sequences(self.spark, self.rows, seed=self.seed, violations=True) \
            .write.partitionBy("source").parquet(self.bad)
        gen_sequences(self.spark, self.rows, seed=self.seed).write.partitionBy("source").parquet(self.ref)
        self.sources_ref = gen_sources_ref(self.spark)

    def prepare(self):
        """Stored drift baselines, built from the golden copy."""
        from pyspark.sql import functions as F

        from dataprofiler_spark.operators.drift import histogram

        ref = self.spark.read.parquet(self.ref)
        histogram(ref, "n_tok", DRIFT_BUCKET, group_by=["source"]).write.parquet(self.base_hist)
        ref.select("source", F.explode("tokens").alias("bucket")).groupBy("source", "bucket") \
            .agg(F.count(F.lit(1)).alias("cnt")).write.parquet(self.base_freq)

    def expect(self, oracle):
        self.expected = oracle.verdict_matrix(self.bad, self.ref, self.base_hist, self.base_freq, DRIFT_BUCKET)
        self.part_rows = oracle.partition_rows(self.bad)
        self.must_validate = {p for p, _ in self.expected}
        self.fresh_rows = sum(rc for rc, _ in self.part_rows.values())

    def op(self, out_dir, tracer=None):
        from dataprofiler_spark import ValidationConfig, run_validation

        read = self.spark.read.parquet
        cfg = ValidationConfig(exact=self.exact, violation_cap=VIOLATION_CAP, output_dir=out_dir)
        args = (self.spark, read(self.bad), self.sources_ref)
        kwargs = dict(reference=read(self.ref), baseline_hist=read(self.base_hist),
                      baseline_token_freq=read(self.base_freq), cfg=cfg)
        with _span(tracer, "pipeline.run_validation"), _instrumented(tracer):
            return run_validation(*args, **kwargs)

    def stash(self, res, out_dir):
        """What `verify` needs of one operation, kept until the checks run."""
        return {"out": out_dir}

    def verify(self, state, oracle):
        drift_checks = sum(1 for _, c in self.expected if c.endswith("_drift_psi"))
        return oracle.check_outputs(state["out"], self.expected, self.must_validate,
                                    self.part_rows, VIOLATION_CAP, drift_checks)

    def after_op(self):
        pass


class ResumeAppend:
    """resume_append: a clean table partitioned by `source` with its golden
    reference copy and a manifest from a full run; each operation appends a
    small batch of new rows to one small partition, rebuilds the snapshot
    and re-validates in the sketch configuration (exact=False: HLL and
    approx_percentile profile, digest-join prefilter in front of the
    equality UDF). A few appended rows differ from the golden copy, so the
    prefilter ships those rows, and only those, to the UDF."""

    # the manifest-building full run in prepare() already runs the same
    # pipeline untimed; a further warm-up operation would not fit the
    # benchmark's time budget
    warm_up = False

    def __init__(self, spark, work, seed, rows, append_rows):
        self.spark, self.work, self.seed, self.rows = spark, work, seed, rows
        self.append_rows = append_rows
        self.table, self.ref = f"{work}/sequences", f"{work}/sequences_ref"
        self.batch = f"{work}/append_batch"
        self.manifest = f"{work}/manifest"
        self.part_dir = f"{self.table}/source={APPEND_PARTITION}"

    def generate(self):
        from pyspark.sql import functions as F

        from dataprofiler_spark.sources.synthetic import VOCAB_SIZE, gen_sequences, gen_sources_ref

        gen_sequences(self.spark, self.rows, seed=self.seed).write.partitionBy("source").parquet(self.table)
        shutil.copytree(self.table, self.ref)  # the golden copy holds the same bytes
        # new rows for the small partition: fresh doc_ids, clean content,
        # also in the golden copy
        clean = f"{self.work}/append_clean"
        extra = gen_sequences(self.spark, self.append_rows * 40, seed=self.seed + 1)
        extra.filter(F.col("source") == APPEND_PARTITION) \
            .withColumn("doc_id", F.regexp_replace("doc_id", "^doc-", "app-")) \
            .orderBy("doc_id").limit(self.append_rows).coalesce(1).write.parquet(clean)
        batch = self.spark.read.parquet(clean)
        batch.write.mode("append").partitionBy("source").parquet(self.ref)
        keys = sorted(r.doc_id for r in batch.select("doc_id").collect())[:APPEND_PERTURBED]
        first = ((F.element_at("tokens", 1) + 1) % VOCAB_SIZE).cast("int")
        perturbed = F.concat(F.array(first), F.slice("tokens", 2, 1_000_000))
        batch.withColumn("tokens", F.when(F.col("doc_id").isin(keys), perturbed).otherwise(F.col("tokens"))) \
            .coalesce(1).write.parquet(self.batch)
        self.sources_ref = gen_sources_ref(self.spark)

    def _cfg(self, snap, out_dir):
        from dataprofiler_spark import ValidationConfig

        return ValidationConfig(exact=False, manifest_dir=self.manifest, snapshot=snap,
                                violation_cap=VIOLATION_CAP, output_dir=out_dir)

    def prepare(self):
        """The full first run that builds the manifest."""
        from dataprofiler_spark import run_validation
        from dataprofiler_spark.plans.manifest import snapshot_from_path

        read = self.spark.read.parquet
        cfg = self._cfg(snapshot_from_path(self.table, part_prefix="source"), f"{self.work}/first_run")
        run_validation(self.spark, read(self.table), self.sources_ref, reference=read(self.ref), cfg=cfg)
        shutil.rmtree(cfg.output_dir)

    def expect(self, oracle):
        # partitions that pass every check before the append may be skipped
        # by a resumed run, all but the appended one
        first = oracle.verdict_matrix(self.table, self.ref)
        failing = {p for (p, _), (ok, _, _) in first.items() if not ok}
        self.expected_skipped = {p for p, _ in first} - failing - {APPEND_PARTITION}
        self._append()  # the table state every operation validates
        try:
            self.expected = oracle.verdict_matrix(self.table, self.ref)
            self.part_rows = oracle.partition_rows(self.table)
        finally:
            self.after_op()
        self.must_validate = {p for p, _ in self.expected} - self.expected_skipped
        self.fresh_rows = sum(self.part_rows.get(p, (0, 0))[0] for p in self.must_validate)
        self.append_ok = all(ok for (p, _), (ok, _, _) in self.expected.items() if p == APPEND_PARTITION)

    def _append(self):
        before = set(os.listdir(self.part_dir))
        self.spark.read.parquet(self.batch).write.mode("append").partitionBy("source").parquet(self.table)
        self.appended = sorted(set(os.listdir(self.part_dir)) - before)

    def op(self, out_dir, tracer=None):
        from dataprofiler_spark import run_validation
        from dataprofiler_spark.plans.manifest import snapshot_from_path

        with _span(tracer, "sources.append"):
            self._append()
        with _span(tracer, "manifest.snapshot"):
            self.snap = snapshot_from_path(self.table, part_prefix="source")
        read = self.spark.read.parquet
        df, ref = read(self.table), read(self.ref)
        with _span(tracer, "pipeline.run_validation"), _instrumented(tracer):
            return run_validation(self.spark, df, self.sources_ref, reference=ref,
                                  cfg=self._cfg(self.snap, out_dir))

    def stash(self, res, out_dir):
        """The manifest and snapshot as this operation left them: the next
        operation rewrites both before the checks run."""
        shutil.copytree(self.manifest, f"{out_dir}/_manifest")
        return {"out": out_dir, "skipped": set(res.skipped_partitions), "snap": self.snap}

    def verify(self, state, oracle):
        from dataprofiler_spark.plans.manifest import Manifest

        snap = state["snap"]
        errs = oracle.check_outputs(state["out"], self.expected, self.must_validate,
                                    self.part_rows, VIOLATION_CAP, drift_checks=0)
        if state["skipped"] != self.expected_skipped:
            errs.append(f"skipped {sorted(state['skipped'])}, expected {sorted(self.expected_skipped)}")
        recs = Manifest(f"{state['out']}/_manifest").load()
        for part, rec in recs.items():
            lineage = snap.partition_lineage.get(part)
            if part in self.expected_skipped and (rec.status != "validated" or rec.lineage != lineage):
                errs.append(f"manifest record of skipped partition {part} changed")
        rec = recs.get(APPEND_PARTITION)
        want = ("validated" if self.append_ok else "failed", snap.partition_lineage[APPEND_PARTITION],
                snap.snapshot_id, self.part_rows[APPEND_PARTITION][0])
        got = rec and (rec.status, rec.lineage, rec.snapshot_id, rec.row_count)
        if got != want:
            errs.append(f"manifest record of {APPEND_PARTITION}: expected {want}, got {got}")
        return errs

    def after_op(self):
        """Drop the appended files so every operation sees the same table."""
        for name in getattr(self, "appended", []):
            os.remove(os.path.join(self.part_dir, name))
        self.appended = []


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _instrumented(tracer):
    if tracer is None:
        return contextlib.nullcontext()
    import tracing

    return tracing.instrumented(tracer)


def start_spark(work, cores):
    """local[cores] session whose scratch files stay under `work`."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"  # takes precedence over spark.local.dir
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp}".strip()
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")]))
    from dataprofiler_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative collector time, JIT compile time and generated-code
    compiles of the driver JVM, which runs every task in local mode."""
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    beans = mgmt.getGarbageCollectorMXBeans()
    return {
        "gc_s": sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3,
        "jit_s": mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "codegen": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
    }


def net_of_steal(wall: float, ticks0: tuple[int, int]) -> tuple[float, float]:
    """(`wall` less the share of it the hypervisor stole from the virtual
    machine's CPUs, that share) since the `host_cpu_ticks()` reading `ticks0`.

    The operations keep every core busy, so stolen CPU time stretches their
    wall time in proportion. On a shared 4-vCPU virtual machine the steal
    share of one operation ranged from 0.01 to 0.24 and moved its wall time
    with it, while its CPU time held within a few percent. The raw wall
    time goes to standard error beside it."""
    from procstat import host_cpu_ticks

    steal1, total1 = host_cpu_ticks()
    share = (steal1 - ticks0[0]) / max(total1 - ticks0[1], 1)
    return wall * (1.0 - share), share


def stop_spark(spark):
    """Stop the session and wait for the JVM (and the workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the program under test; without it the benchmark exits non-zero here
    import dataprofiler_spark  # noqa: F401
    import oracle as oracle_mod
    from procstat import PeakRss, host_cpu_ticks, tree_cpu_s
    from dataprofiler_spark.sources.synthetic import VOCAB_SIZE

    if args.workload == "resume_append":
        rows = max(2000, int(RESUME_ROWS * args.scale))
    else:
        rows = max(2000, int(SUITE_ROWS * args.scale))
    work = os.path.join(HERE, ".work", f"{args.workload}-{rows}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t_setup = time.perf_counter()
        setup_ticks = host_cpu_ticks()
        spark = start_spark(work, args.cores)
        if args.workload == "resume_append":
            wl = ResumeAppend(spark, work, args.seed, rows, max(20, int(APPEND_ROWS * args.scale)))
        else:
            wl = Suite(spark, work, args.seed, rows, exact=args.workload == "suite_exact")
        t_gen = time.perf_counter()
        session_s = t_gen - t_setup
        wl.generate()
        gen_s = time.perf_counter() - t_gen
        wl.prepare()
        prepare_s = time.perf_counter() - t_gen - gen_s

        # expected outputs: benchmark bookkeeping, kept out of setup_s
        t_oracle = time.perf_counter()
        parents = [r.source for r in wl.sources_ref.select("source").collect()]
        oracle = oracle_mod.Oracle(work, parents, VOCAB_SIZE)
        wl.expect(oracle)
        if args.corrupt_expected:
            key = sorted(wl.expected, key=str)[0]
            ok, vc, rc = wl.expected[key]
            wl.expected[key] = (not ok, vc, rc)
        oracle.close()  # reopened for the checks, after the measured window
        oracle_s = time.perf_counter() - t_oracle

        op_seq = itertools.count()
        tracer = reader = None
        if args.trace:
            import tracing

            tracer, reader = tracing.Tracer(spark), tracing.StageReader(spark)

        def run_op(traced=False):
            """One timed operation; its outputs are kept for the checks."""
            out_dir = f"{work}/out/op{next(op_seq)}"
            r = {"wall": 0.0, "net": 0.0, "cpu": 0.0, "errs": [], "layers": None, "state": None}
            cpu0 = tree_cpu_s()
            ticks0 = host_cpu_ticks()
            jvm0 = jvm_counters(spark)
            t0 = time.perf_counter()
            try:
                if traced:
                    tracer.reset()
                    with tracer.span("op"):
                        res = wl.op(out_dir, tracer)
                else:
                    res = wl.op(out_dir)
                r["wall"] = time.perf_counter() - t0
                r["net"], r["steal"] = net_of_steal(r["wall"], ticks0)
                r["cpu"] = tree_cpu_s() - cpu0
                jvm1 = jvm_counters(spark)
                r["state"] = wl.stash(res, out_dir)
                if traced:
                    r["layers"] = tracing.op_layer_metrics(
                        tracer, reader, wl.fresh_rows, res.summary, *oracle_mod.sink_files(out_dir))
                    r["layers"]["spark.codegen_compiles"] = jvm1["codegen"] - jvm0["codegen"]
                    r["layers"]["jvm.jit_s"] = jvm1["jit_s"] - jvm0["jit_s"]
            except Exception as e:  # an operation that raises counts as failed
                r["wall"] = r["wall"] or time.perf_counter() - t0
                r["net"], r["steal"] = net_of_steal(r["wall"], ticks0)
                r["errs"] = [repr(e)]
                jvm1 = jvm_counters(spark)
            finally:
                wl.after_op()
            print(f"[perfbench] op wall={r['wall']:.3f}s net={r['net']:.3f}s cpu={r['cpu']:.2f}s "
                  f"steal={r['steal']:.3f} "
                  f"gc={jvm1['gc_s'] - jvm0['gc_s']:.2f}s jit={jvm1['jit_s'] - jvm0['jit_s']:.2f}s "
                  f"codegen={jvm1['codegen'] - jvm0['codegen']} traced={traced}",
                  file=sys.stderr)
            return r

        warm = run_op() if wl.warm_up else None
        setup_s, setup_steal = net_of_steal(time.perf_counter() - t_setup - oracle_s, setup_ticks)

        peak = PeakRss()
        peak.reset()
        plain, traced = [], []
        t_measure = time.perf_counter()
        while time.perf_counter() - t_measure < args.seconds or not plain or (args.trace and not traced):
            # a traced run alternates untraced and traced operations, so the
            # difference of their medians is the tracing overhead
            if args.trace and len(traced) < len(plain):
                traced.append(run_op(traced=True))
            else:
                plain.append(run_op())
                peak.sample()

        # the checks of every operation's outputs, warm-up included
        oracle = oracle_mod.Oracle(work, parents, VOCAB_SIZE)
        for r in filter(None, [warm, *plain, *traced]):
            if r["state"] is not None:
                r["errs"] = wl.verify(r["state"], oracle)
            for e in r["errs"][:5]:
                print(f"[perfbench] {args.workload}: {e}", file=sys.stderr)
        oracle.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = plain + traced
    failed = sum(1 for r in ops if r["errs"])
    p50 = statistics.median(r["net"] for r in plain)
    if args.trace:
        good = [r["layers"] for r in traced if r["layers"]]
        metrics = tracing.median_metrics(good) if good else {}
        metrics["sources.gen_s"] = gen_s
        metrics["trace.overhead_s"] = statistics.median(r["net"] for r in traced) - p50
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": setup_s,
            "validate_s_p50": p50,
            "sequences_per_s": wl.fresh_rows / p50,
            "cpu_s_per_op": statistics.median(r["cpu"] for r in plain),
            "peak_rss_mb": peak.mb(),
            "ok_ops_ratio": 1.0 - failed / len(ops),
        }
        units = {"setup_s": "s", "validate_s_p50": "s", "sequences_per_s": "1/s",
                 "cpu_s_per_op": "s", "peak_rss_mb": "MB", "ok_ops_ratio": "ratio"}
    print(f"[perfbench] {args.workload} seed={args.seed} cores={args.cores} rows={rows} "
          f"fresh_rows={wl.fresh_rows} samples={len(plain)} traced={len(traced)} "
          f"wall_p50={statistics.median(r['wall'] for r in plain):.2f} setup_steal={setup_steal:.3f} "
          f"session_s={session_s:.2f} gen_s={gen_s:.2f} prepare_s={prepare_s:.2f} oracle_s={oracle_s:.2f} "
          f"warmup_s={warm['wall'] if warm else 0:.2f} failed={failed}/{len(ops)}")
    correct = failed == 0 and not (warm and warm["errs"])
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_amplification", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
