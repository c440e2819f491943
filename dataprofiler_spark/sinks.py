"""Append-only metrics store — the reference's sink-table layer re-expressed
as month-partitioned parquet (Iceberg-shaped) tables — and `append_rows`,
which appends driver-local rows to a parquet sink without Spark.

Parity map (citations into /root/reference/src/db/clickhouse.py):
  data_profiles        :52-85   per-column profile rows + tenancy dims
  validation_verdicts  (rebuild-specific: per-partition pass/fail matrix)
  violations           (rebuild-specific: capped violation rows)
  auto_increment_metrics :192-226  growth/capacity snapshots
  table_inventory      :610-628 table-list snapshots
Tenancy dims on every record: application, environment, database_name,
schema_name, scan_time (clickhouse.py:54-66). Partitioning: month(scan_time)
(PARTITION BY toYYYYMM, clickhouse.py:82-84 → partitionBy(scan_month)).
'Current state' is always latest scan_time per key (dashboard
app.py:251-257) — see latest_snapshot (W2).

DDL-on-init parity (S13): init() creates all table dirs once, mirroring the
reference's CREATE TABLE IF NOT EXISTS prologue (main.py:167-209).

`MetricsStore` writes through Spark. `run_validation` and the CLI write the
sinks they already hold as collected rows (profiles, verdicts, drift) with
`append_rows` instead: one pyarrow parquet file per call and no Spark job.
Spark and DuckDB read a sink directory that mixes those files with
Spark-written ones as one table.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from dataprofiler_spark.functions.expressions import partition_month

TABLES = (
    "data_profiles",
    "validation_verdicts",
    "violations",
    "auto_increment_metrics",
    "table_inventory",
    "schema_profiles",
    "schema_objects",
)

_SCHEMA_PROFILE_DDL = (
    "table_name string, column_name string, data_type string, "
    "is_nullable boolean, column_default string, max_length int, "
    "precision int, scale int, is_primary_key boolean, is_in_index boolean, "
    "index_names string, is_foreign_key boolean, fk_references string"
)

_SCHEMA_OBJECT_DDL = (
    "object_type string, object_schema string, object_name string, "
    "parent_table string, "
    "language string, parameter_list string, return_type string, "
    "event string, timing string, is_materialized boolean, "
    "columns string, definition_hash string"
)


def sink_filesystem(uri: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem of a sink location and the path on it.

    A path without a scheme is made absolute against the working
    directory, as Spark resolves it on a local filesystem. A URI is
    resolved by `pyarrow.fs.FileSystem.from_uri` (file, s3, gs, hdfs);
    any other scheme raises here, before anything is written."""
    if "://" not in uri:
        uri = os.path.abspath(uri)
    return pafs.FileSystem.from_uri(uri)


def append_rows(
    rows: list, schema: StructType, path: str, fs: pafs.FileSystem | None = None
) -> str:
    """Append driver-local `rows` (tuples or Rows in `schema`'s column
    order) to the parquet sink directory `path` as ONE new file, and
    return that file's path. No Spark job runs.

    The file's arrow schema is `schema` mapped by PySpark's own
    `to_arrow_schema`, so types and nullability are Spark's. It is
    written under a hidden name that neither Spark nor a
    `**/*.parquet` glob reads, then moved to a unique
    `part-<uuid>.parquet`: the sink stays append-only and a reader never
    sees a partial file. An empty `rows` still writes a 0-row file that
    carries the schema, as Spark does. `fs` is the filesystem `path` is
    on (from `sink_filesystem`); without it `path` is resolved here."""
    if fs is None:
        fs, path = sink_filesystem(path)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = f"{path}/.{name}.tmp"
    fs.create_dir(path, recursive=True)
    pq.write_table(table, tmp, filesystem=fs)
    fs.move(tmp, f"{path}/{name}")
    return f"{path}/{name}"


@dataclass
class MetricsStore:
    spark: SparkSession
    root: str
    application: str = "dataprofiler"
    environment: str = "dev"
    database_name: str = "default"
    schema_name: str = "default"

    def init(self) -> None:
        """DDL-once (S13): idempotent."""
        for t in TABLES:
            os.makedirs(os.path.join(self.root, t), exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _stamp(self, df: DataFrame, scan_time: float | None = None) -> DataFrame:
        ts = F.lit(scan_time or time.time()).cast("timestamp")
        return (
            df.withColumn("application", F.lit(self.application))
            .withColumn("environment", F.lit(self.environment))
            .withColumn("database_name", F.lit(self.database_name))
            .withColumn("schema_name", F.lit(self.schema_name))
            .withColumn("scan_time", ts)
            .withColumn("scan_month", partition_month(ts))
        )

    def append(self, table: str, df: DataFrame, scan_time: float | None = None) -> None:
        """S7-S11: append-only, month-partitioned."""
        self._stamp(df, scan_time).write.mode("append").partitionBy("scan_month").parquet(
            self._path(table)
        )

    def append_inventory(
        self, table_names: list[str], scan_time: float | None = None
    ) -> None:
        """S11: snapshot of the table list (reference main.py:679-703)."""
        df = self.spark.createDataFrame([(t,) for t in sorted(table_names)], "table_name string")
        self.append("table_inventory", df, scan_time)

    def append_schema_profile(self, spec, scan_time: float | None = None) -> None:
        """S9: per-column schema snapshot rows (reference clickhouse.py:
        377-457 layout) from a TableSpec, via compare.spec_to_rows."""
        from dataprofiler_spark.operators.compare import spec_to_rows

        df = self.spark.createDataFrame(spec_to_rows(spec), _SCHEMA_PROFILE_DDL)
        self.append("schema_profiles", df, scan_time)

    def append_schema_objects(
        self,
        procedures: list = (),
        views: list = (),
        triggers: list = (),
        scan_time: float | None = None,
    ) -> None:
        """S10: unified schema-objects snapshot (PROCEDURE/VIEW/TRIGGER with
        the object_type discriminator; reference clickhouse.py:512-593)."""
        from dataprofiler_spark.operators.compare import objects_to_rows

        rows = objects_to_rows(procedures, views, triggers)
        if not rows:
            return
        df = self.spark.createDataFrame(rows, _SCHEMA_OBJECT_DDL)
        self.append("schema_objects", df, scan_time)

    def object_drift(self, other: "MetricsStore") -> DataFrame:
        """Env-vs-env schema-object drift from the latest snapshots of two
        stores (grafana schema_objects_comparison semantics)."""
        from dataprofiler_spark.operators.compare import schema_object_drift

        keys = ["object_type", "object_schema", "object_name"]
        cols = keys + ["definition_hash"]
        a = self.latest_snapshot("schema_objects", keys).select(cols)
        b = other.latest_snapshot("schema_objects", keys).select(cols)
        return schema_object_drift(a, b)

    def read(
        self,
        table: str,
        since_days: float | None = None,
        **filters,
    ) -> DataFrame:
        """S6: tenancy-filtered, optionally time-ranged read of own sink
        (reference autoincrement_metrics.py:155-212). Month partitioning +
        the scan_time predicate give partition pruning on the read."""
        df = self.spark.read.parquet(self._path(table))
        df = df.filter(
            (F.col("application") == self.application)
            & (F.col("environment") == self.environment)
        )
        for k, v in filters.items():
            df = df.filter(F.col(k) == v)
        if since_days is not None:
            secs = int(since_days * 86400)  # fractional days supported
            cutoff = F.current_timestamp() - F.expr(f"INTERVAL {secs} SECONDS")
            df = df.filter(F.col("scan_time") >= cutoff)
        return df

    def metric_anomalies(
        self,
        metric: str = "row_count",
        table: str = "data_profiles",
        key_cols: tuple[str, ...] = ("table_name", "column_name"),
        z_threshold: float = 2.0,
        since_days: float | None = None,
    ) -> DataFrame:
        """Closed-loop monitoring over the store's own history: z-score
        every snapshot's `metric` against that (table, column)'s history
        and flag deviations > z_threshold σ — the metric-delta dashboard
        panel as a verdict (growth.metric_history_anomalies over S6)."""
        from dataprofiler_spark.operators.growth import metric_history_anomalies

        return metric_history_anomalies(
            self.read(table, since_days=since_days),
            list(key_cols),
            metric,
            z_threshold=z_threshold,
        )

    def latest_snapshot(self, table: str, key_cols: list[str]) -> DataFrame:
        """W2: latest scan per key (reference app.py:251-287 max-scan-time
        filter / ClickHouse LIMIT 1 BY, app.py:627-645)."""
        df = self.spark.read.parquet(self._path(table))
        w = Window.partitionBy(*key_cols).orderBy(F.desc("scan_time"))
        return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    def inventory_drift(self, env1_store: "MetricsStore") -> DataFrame:
        """J3/J4: latest inventory of this env vs another env — common /
        only-in-one via full-outer membership flags (grafana inventory
        dashboard semantics)."""
        a = self.latest_snapshot("table_inventory", ["table_name"]).select("table_name")
        b = env1_store.latest_snapshot("table_inventory", ["table_name"]).select("table_name")
        return (
            a.alias("a")
            .join(b.alias("b"), F.col("a.table_name") == F.col("b.table_name"), "full_outer")
            .select(
                F.coalesce(F.col("a.table_name"), F.col("b.table_name")).alias("table_name"),
                F.col("a.table_name").isNotNull().alias("in_env1"),
                F.col("b.table_name").isNotNull().alias("in_env2"),
            )
        )


def expire_snapshots(store: "MetricsStore", keep_months: int, now: float | None = None) -> dict[str, int]:
    """Retention for the month-partitioned metric sinks: delete every
    `scan_month=yyyyMM` partition older than `keep_months` across all
    tables (the ClickHouse-TTL analog of the reference's backend — its
    PARTITION BY toYYYYMM layout exists exactly so expiry is a partition
    drop, not a rewrite). Returns {table: partitions_deleted}.

    Directory-level deletes only — no data is read or rewritten, and the
    append-only contract is preserved for everything retained. `now` is
    injectable for tests."""
    import shutil
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(now or time.time(), tz=timezone.utc)
    y, m = ts.year, ts.month - (keep_months - 1)
    while m <= 0:
        y, m = y - 1, m + 12
    cutoff = f"{y:04d}{m:02d}"

    deleted: dict[str, int] = {}
    for t in TABLES:
        tdir = os.path.join(store.root, t)
        if not os.path.isdir(tdir):
            continue
        n = 0
        for entry in sorted(os.listdir(tdir)):
            if not entry.startswith("scan_month="):
                continue
            month = entry.split("=", 1)[1]
            if month < cutoff:
                shutil.rmtree(os.path.join(tdir, entry))
                n += 1
        if n:
            deleted[t] = n
    return deleted
