"""Storage-layout diagnosis: the small-file problem, measured.

At corpus scale the dominant hidden cost is often not the query plan but
the file layout under it: a 100 TB table written as 10M × 10 MB files
pays listing, footer-read, and task-scheduling overhead per file, and
starves scans of large sequential reads. This operator measures the
layout and sizes the fix (a compaction / repartition target).

Metadata only: the listing comes from the Hadoop FileSystem API (the same
listing Spark's planner performs) — NO data or footer bytes are read. The
listing itself is driver-side O(#files); the stats over it are computed
by Spark from a local frame (`sinks.local_frame`, in-JVM, no Python
worker) so a 10M-file listing does not need driver-side aggregation
beyond the list materialization Spark's own catalog would hold anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprofiler_spark.sinks import local_frame


def list_data_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> DataFrame:
    """Recursive file listing as a DataFrame (file_path, file_bytes) via
    the Hadoop FS API — metadata-only, works on any Hadoop-compatible
    filesystem (local, HDFS, s3a, abfs)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    it = fs.listFiles(jpath, True)
    rows = []
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(suffix):
            rows.append((p, int(st.getLen())))
    return local_frame(spark, rows, "file_path string, file_bytes long")


def file_layout_report(
    spark: SparkSession,
    path: str,
    small_file_mb: float = 64.0,
    target_file_mb: float = 512.0,
    suffix: str = ".parquet",
) -> DataFrame:
    """One-row layout verdict for a table directory: file count, bytes,
    small-file count/fraction (files under `small_file_mb`), size
    quantiles, and the recommended compaction target
    (ceil(total / target_file_mb) output files). `needs_compaction` when
    more than half the files are small — the standard trigger a nightly
    OPTIMIZE job keys on."""
    files = list_data_files(spark, path, suffix)
    small = F.lit(int(small_file_mb * 1024 * 1024))
    target = int(target_file_mb * 1024 * 1024)
    n_small = F.coalesce(
        F.sum((F.col("file_bytes") < small).cast("long")), F.lit(0)
    )
    total = F.coalesce(F.sum("file_bytes"), F.lit(0))
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        total.alias("total_bytes"),
        n_small.alias("small_files"),
        F.round(n_small / F.greatest(F.count(F.lit(1)), F.lit(1)), 4).alias(
            "small_fraction"
        ),
        F.min("file_bytes").alias("min_bytes"),
        F.expr("percentile(file_bytes, 0.5)").cast("long").alias("p50_bytes"),
        F.max("file_bytes").alias("max_bytes"),
        F.greatest(F.ceil(total / F.lit(target)), F.lit(1))
        .cast("long")
        .alias("recommended_files"),
        # empty listing: nothing to compact (NULL sum must read as False)
        (n_small > F.count(F.lit(1)) / 2).alias("needs_compaction"),
    )
