"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's side around calls into each
layer's public functions. `run_validation` itself is called unchanged;
`instrumented()` temporarily wraps the module-level names it resolves at
call time (`profile`, `run_sequence_suite`, `histogram`, `drift_by_group`,
`Manifest`) and the two Spark actions it issues (`DataFrame.collect`,
`DataFrameWriter.parquet`), so the spans cover exactly what the pipeline
executes. Each span sets a Spark job group; afterwards the jobs of each
group are read from the status tracker and their stages' metrics from
Spark's status store, which is populated with the UI disabled.
"""

import contextlib
import itertools
import statistics
import time

import pandas as pd
from pyspark.sql import DataFrameWriter

import dataprofiler_spark.pipeline as pipeline_mod
from dataprofiler_spark.operators import checks as checks_mod

# frames the pipeline collects are attributed by identity when a wrapped
# layer function returned them, else by schema (the verdict matrix)
_VERDICT_COLS = list(checks_mod.VERDICT_COLS)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = itertools.count()
        self._frame_layer: dict[int, str] = {}
        self.udf_rows = self.sc.accumulator(0)
        self.udf_mismatches = self.sc.accumulator(0)

    def reset(self) -> None:
        self.spans.clear()
        self._frame_layer.clear()
        self.udf_rows.value = 0
        self.udf_mismatches.value = 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._seq),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": None,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def directly_in(self, name: str) -> bool:
        return bool(self._stack) and self._stack[-1]["name"] == name

    def tag(self, frame, layer: str):
        self._frame_layer[id(frame)] = layer
        return frame

    def layer_of(self, frame) -> str:
        layer = self._frame_layer.get(id(frame))
        if layer:
            return layer
        return "checks.verdicts" if frame.columns == _VERDICT_COLS else "pipeline.collect"


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Wrap what run_validation calls for the duration of the block."""
    saved_mod = {
        name: getattr(pipeline_mod, name)
        for name in ("profile", "run_sequence_suite", "histogram", "drift_by_group", "Manifest")
    }
    frame_cls = type(tracer.spark.range(0))  # the session's concrete DataFrame class
    saved_collect = frame_cls.collect
    saved_parquet = DataFrameWriter.parquet
    saved_kernel = checks_mod._lists_equal_batch

    def layer_fn(name, fn, tag=None):
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            return tracer.tag(out, tag) if tag else out

        return wrapped

    class TracedManifest(saved_mod["Manifest"]):
        def record(self, rec):
            with tracer.span("manifest.record"):
                return super().record(rec)

        def validated_partitions(self, lineage):
            with tracer.span("manifest.lookup"):
                return super().validated_partitions(lineage)

        def validated_partitions_for(self, snapshot):
            with tracer.span("manifest.lookup"):
                return super().validated_partitions_for(snapshot)

    # actions issued by run_validation itself get a span of their own;
    # actions inside a layer function count toward that layer's span
    def collect(self):
        if not tracer.directly_in("pipeline.run_validation"):
            return saved_collect(self)
        with tracer.span(tracer.layer_of(self)):
            return saved_collect(self)

    def parquet(self, path, *args, **kwargs):
        if not tracer.directly_in("pipeline.run_validation"):
            return saved_parquet(self, path, *args, **kwargs)
        name = "checks.violations" if str(path).rstrip("/").endswith("/violations") else "pipeline.sink"
        with tracer.span(name):
            return saved_parquet(self, path, *args, **kwargs)

    rows_acc, bad_acc = tracer.udf_rows, tracer.udf_mismatches

    # nested so that cloudpickle ships it by value to the Python workers;
    # the type hints are what pandas_udf reads to pick the Series->Series form
    def counted_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        out = saved_kernel(a, b)
        rows_acc.add(len(out))
        bad_acc.add(int((~out).sum()))
        return out

    pipeline_mod.profile = layer_fn("profile", saved_mod["profile"], tag="profile")
    pipeline_mod.run_sequence_suite = layer_fn("checks.plan", saved_mod["run_sequence_suite"])
    pipeline_mod.histogram = layer_fn("drift", saved_mod["histogram"])
    pipeline_mod.drift_by_group = layer_fn("drift", saved_mod["drift_by_group"], tag="drift")
    pipeline_mod.Manifest = TracedManifest
    frame_cls.collect = collect
    DataFrameWriter.parquet = parquet
    checks_mod._lists_equal_batch = counted_kernel
    try:
        yield
    finally:
        for name, fn in saved_mod.items():
            setattr(pipeline_mod, name, fn)
        frame_cls.collect = saved_collect
        DataFrameWriter.parquet = saved_parquet
        checks_mod._lists_equal_batch = saved_kernel


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover (children of
    one span never overlap: the pipeline calls them sequentially)."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_s.get(s["id"], 0.0) for s in spans}


def _descendants(spans: list[dict], root_name: str) -> set[int]:
    ids = {s["id"] for s in spans if s["name"] == root_name}
    grew = True
    while grew:
        more = {s["id"] for s in spans if s["parent"] in ids} - ids
        grew = bool(more)
        ids |= more
    return ids


class StageReader:
    """Stage metrics per span, from the status tracker and status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def span_jobs_and_stages(self, spans: list[dict]) -> tuple[dict[int, int], dict[int, list[int]]]:
        """(job id -> span id, span id -> stage ids first run under it). A
        stage reused by a later job (skipped there) belongs to the earliest
        job that ran it."""
        job_span = {}
        for s in spans:
            for jid in self.tracker.getJobIdsForGroup(s["group"]):
                job_span[jid] = s["id"]
        owner: dict[int, int] = {}
        for jid in sorted(job_span):
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                owner.setdefault(sid, job_span[jid])
        out: dict[int, list[int]] = {s["id"]: [] for s in spans}
        for sid, span_id in owner.items():
            out[span_id].append(sid)
        return job_span, out

    def stage(self, sid: int) -> dict:
        d = self.store.lastStageAttempt(sid)
        return {
            "id": sid,
            "attempt": d.attemptId(),
            "run_s": d.executorRunTime() / 1e3,
            "cpu_s": d.executorCpuTime() / 1e9,
            "gc_s": d.jvmGcTime() / 1e3,
            "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
            "shuffle_write_bytes": d.shuffleWriteBytes(),
            "input_records": d.inputRecords(),
            "tasks": d.numCompleteTasks(),
        }

    def task_skew(self, st: dict) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        opt = self.store.taskSummary(st["id"], st["attempt"], q)
        if not opt.isDefined():
            return 1.0
        q = opt.get().executorRunTime()
        med, mx = q.apply(0), q.apply(1)
        return mx / med if med > 0 else 1.0


def op_layer_metrics(tracer: Tracer, reader: StageReader, fresh_rows: int, summary: dict,
                     sink_files: int, sink_bytes: int) -> dict[str, float]:
    """Per-layer figures of one traced operation (the spans in `tracer`)."""
    spans = tracer.spans
    selfs = self_times(spans)
    job_span, stages_of = reader.span_jobs_and_stages(spans)
    stages = {sid: reader.stage(sid) for ids in stages_of.values() for sid in ids}
    name_of = {s["id"]: s["name"] for s in spans}

    def by(pred) -> list[dict]:
        return [stages[sid] for span_id, ids in stages_of.items() if pred(span_id) for sid in ids]

    def layer(prefix):
        return lambda span_id: name_of[span_id].startswith(prefix)

    def secs(name):
        return sum(selfs[s["id"]] for s in spans if s["name"] == name)

    def jobs(pred):
        return sum(1 for span_id in job_span.values() if pred(span_id))

    in_pipeline = _descendants(spans, "pipeline.run_validation")
    rows_read = sum(st["input_records"] for st in by(lambda i: i in in_pipeline))
    op_root = next(s for s in spans if s["parent"] is None)
    all_stages = list(stages.values())
    heaviest = max(all_stages, key=lambda st: st["run_s"], default=None)
    udf_rows = tracer.udf_rows.value
    return {
        "pipeline.input_rows_read": rows_read,
        "pipeline.read_amplification": rows_read / fresh_rows,
        "pipeline.op_jobs": jobs(lambda i: i in in_pipeline),
        "pipeline.self_s": secs("pipeline.run_validation") + secs("pipeline.collect"),
        "pipeline.sink_write_s": secs("pipeline.sink"),
        "pipeline.sink_files_written": sink_files,
        "pipeline.sink_bytes_written": sink_bytes,
        "profile.s": secs("profile"),
        "profile.jobs": jobs(layer("profile")),
        "profile.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in by(layer("profile"))),
        "checks.plan_s": secs("checks.plan"),
        "checks.verdicts_s": secs("checks.verdicts"),
        "checks.violations_s": secs("checks.violations"),
        "checks.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in by(layer("checks"))),
        "checks.equality_udf_rows": udf_rows,
        "checks.equality_udf_useful_ratio": tracer.udf_mismatches.value / udf_rows if udf_rows else 0.0,
        "drift.s": secs("drift"),
        "drift.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in by(layer("drift"))),
        "manifest.snapshot_s": secs("manifest.snapshot"),
        "manifest.lookup_s": secs("manifest.lookup"),
        "manifest.record_s": secs("manifest.record"),
        "manifest.partitions_skipped": summary.get("partitions_skipped", 0),
        "manifest.partitions_revalidated": summary.get("partitions_validated", 0),
        "sources.append_s": secs("sources.append"),
        "spark.task_s": sum(st["run_s"] for st in all_stages),
        "spark.cpu_s": sum(st["cpu_s"] for st in all_stages),
        "spark.gc_s": sum(st["gc_s"] for st in all_stages),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in all_stages),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in all_stages),
        "spark.tasks": sum(st["tasks"] for st in all_stages),
        "spark.task_skew": reader.task_skew(heaviest) if heaviest else 1.0,
        "trace.op_s": op_root["end"] - op_root["start"],
        "trace.uncovered_s": selfs[op_root["id"]],
    }


def median_metrics(samples: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}
