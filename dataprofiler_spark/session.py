"""SparkSession factory with scale-oriented defaults.

The reference opens one DB connection per metric query
(/root/reference/src/core/metrics.py:254,396-397); here the analog is a
single shared SparkSession initialised once per process
(/root/reference/main.py:166-209 init-once pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_JIT_FLAG = "-XX:-DontCompileHugeMethods"

# Generated classes Spark keeps compiled per JVM. The default (100) is
# below one run_validation's working set (~180 classes on the exact
# suite), so every run evicted what the previous run compiled and paid
# Janino + JIT for all of it again: perfbench suite_exact measured 177
# compiles per warm run with the default, 6 with this size.
_CODEGEN_CACHE_ENTRIES = 2000


def _ensure_driver_jit_flags() -> None:
    """Let HotSpot JIT-compile large generated methods in the local JVM.

    Whole-stage codegen for wide expressions (a 64-term unrolled dot
    product, the 84-conditional-sum threshold sweep, wide profile
    aggregates) can emit a single method past HotSpot's huge-method
    threshold (~8000 bytecodes); the JVM then refuses to JIT it and the
    hot loop runs in the BYTECODE INTERPRETER — measured 16× on the
    25 M-pair SemDeDup scoring stage (32.2 s → 2.0 s, see
    OPTIMIZATION_r06.md). The flag rides JAVA_TOOL_OPTIONS, set only
    when no JVM exists yet, rather than `spark.driver.extraJavaOptions`:
    a builder-set value of that key does reach the driver JVM, but a
    caller's `extra_conf` entry for the same key (perfbench passes
    `-Xms1g`) replaces ours instead of adding to it.
    Scale-independent: on a real cluster the same flag belongs in
    spark.executor.extraJavaOptions (set in the builder below)."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:  # JVM already launched
        return
    cur = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if _JIT_FLAG not in cur:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{cur} {_JIT_FLAG}".strip()


def get_spark(
    app_name: str = "dataprofiler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the validation workload.

    Defaults are sized for local[N] testing but every knob is the one
    you would set on a 1000-executor cluster too: AQE on (runtime
    shuffle coalescing + skew-join splitting), Arrow on (all pandas-UDF
    traffic is Arrow batches), UTC session TZ (oracle comparability),
    a codegen cache that holds a whole validation run's generated
    classes, so repeated runs and micro-batches reuse them, and no
    per-call Python call-site capture while plans are built.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    _ensure_driver_jit_flags()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cluster path for the same JIT flag the driver gets via
        # JAVA_TOOL_OPTIONS (_ensure_driver_jit_flags); no-op in local mode
        .config("spark.executor.extraJavaOptions", _JIT_FLAG)
        # static conf: must be set before the session (and its executors)
        # start
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # PySpark's DataFrame debugging records the Python call site of
        # every DataFrame/Column call in the JVM: about five Py4J round
        # trips and a stack walk per call, ~60 % of the Py4J traffic of
        # building a run_validation plan. Off, an analysis error still
        # names the column and expression, not the Python line
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
