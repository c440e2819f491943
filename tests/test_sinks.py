"""Metrics store: append-only month-partitioned sinks, tenancy + time-range
reads (S6), latest-snapshot-per-key (W2), inventory drift (J3/J4); and
`append_rows`, the driver-side writer of the collected sinks."""

import time

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.sinks import MetricsStore, append_rows
from dataprofiler_spark.sources import gen_sequences


def test_append_only_and_latest_snapshot(spark, tmp_path):
    store = MetricsStore(spark, str(tmp_path), environment="prod")
    store.init()
    df = gen_sequences(spark, 500)
    p = profile(df, "sequences", columns=["n_tok"])
    t0 = time.time()
    store.append("data_profiles", p, scan_time=t0 - 86400)  # yesterday
    store.append("data_profiles", p, scan_time=t0)  # today

    allrows = store.read("data_profiles")
    assert allrows.count() == 2  # append-only, both snapshots kept

    latest = store.latest_snapshot("data_profiles", ["table_name", "column_name"])
    assert latest.count() == 1  # W2: one row per key
    assert latest.collect()[0].scan_time.timestamp() == pytest.approx(t0, abs=2)

    recent = store.read("data_profiles", since_days=0.5)
    assert recent.count() == 1  # time-range read drops yesterday's row


def test_tenancy_isolation(spark, tmp_path):
    prod = MetricsStore(spark, str(tmp_path), environment="prod")
    uat = MetricsStore(spark, str(tmp_path), environment="uat")
    df = profile(gen_sequences(spark, 200), "t", columns=["n_tok"])
    prod.append("data_profiles", df)
    uat.append("data_profiles", df)
    assert prod.read("data_profiles").count() == 1  # P6 tenancy filter
    assert uat.read("data_profiles").count() == 1


def test_partitioned_by_month(spark, tmp_path):
    store = MetricsStore(spark, str(tmp_path))
    store.append("data_profiles", profile(gen_sequences(spark, 100), "t", columns=["n_tok"]))
    import os

    dirs = os.listdir(f"{tmp_path}/data_profiles")
    assert any(d.startswith("scan_month=") for d in dirs)  # F6 layout


def test_inventory_drift(spark, tmp_path):
    prod = MetricsStore(spark, str(tmp_path / "p"), environment="prod")
    uat = MetricsStore(spark, str(tmp_path / "u"), environment="uat")
    prod.init(), uat.init()
    prod.append_inventory(["users", "products", "orders"])
    uat.append_inventory(["users", "products", "legacy_tmp"])
    drift = {r.table_name: (r.in_env1, r.in_env2) for r in prod.inventory_drift(uat).collect()}
    assert drift["users"] == (True, True)
    assert drift["orders"] == (True, False)  # J4 anti
    assert drift["legacy_tmp"] == (False, True)


def test_schema_profile_and_objects_end_to_end(spark, tmp_path):
    """S9/S10 end-to-end: spec rows land in schema_profiles; objects land in
    schema_objects with the object_type discriminator; env-vs-env object
    drift reads back through latest_snapshot."""
    from dataprofiler_spark.operators.compare import (
        ColumnSpec,
        ForeignKeySpec,
        IndexSpec,
        ProcedureSpec,
        TableSpec,
        TriggerSpec,
        ViewSpec,
    )

    spec = TableSpec(
        "orders",
        columns={
            "id": ColumnSpec("id", "bigint", is_nullable=False),
            "cust": ColumnSpec("cust", "bigint"),
        },
        primary_key=("id",),
        indexes=(IndexSpec("ix_cust", ("cust",)),),
        foreign_keys=(ForeignKeySpec("fk_c", ("cust",), "customer", ("c_id",)),),
    )
    prod = MetricsStore(spark, str(tmp_path / "p"), environment="prod")
    uat = MetricsStore(spark, str(tmp_path / "u"), environment="uat")
    prod.init(), uat.init()

    prod.append_schema_profile(spec)
    sp = {r.column_name: r for r in prod.read("schema_profiles").collect()}
    assert sp["id"].is_primary_key and not sp["id"].is_nullable
    assert sp["cust"].is_in_index and sp["cust"].index_names == "ix_cust"
    assert sp["cust"].is_foreign_key and sp["cust"].fk_references == "customer(c_id)"

    prod.append_schema_objects(
        procedures=[ProcedureSpec("sp_load", definition_hash="a1")],
        views=[ViewSpec("v_sum", definition_hash="b1")],
        triggers=[TriggerSpec("trg", table_name="orders", definition_hash="c1")],
    )
    uat.append_schema_objects(views=[ViewSpec("v_sum", definition_hash="CHANGED")])
    # a later prod snapshot updates one object: latest must win
    prod.append_schema_objects(views=[ViewSpec("v_sum", definition_hash="b2")],
                               scan_time=4102444800.0)
    kinds = {r.object_type for r in prod.read("schema_objects").collect()}
    assert kinds == {"PROCEDURE", "VIEW", "TRIGGER"}

    drift = {(r.object_type, r.object_name): r for r in prod.object_drift(uat).collect()}
    assert drift[("VIEW", "v_sum")].hash_differs is True
    assert drift[("VIEW", "v_sum")].definition_hash_env1 == "b2"  # latest snapshot
    assert drift[("PROCEDURE", "sp_load")].in_env2 is False


def test_metric_history_anomaly_detection(spark, tmp_path):
    """Closed loop: profile snapshots append to the store; a snapshot whose
    row_count spikes far outside the column's own history is flagged by
    the z-score monitor; stable metrics are not."""
    store = MetricsStore(spark, str(tmp_path / "m"))
    store.init()
    # 9 stable snapshots + 1 spike: with n observations a single outlier's
    # z is bounded by sqrt(n-1), so a 5-point history can never cross 2.0
    series = [1000, 1010, 990, 1005, 995, 1002, 998, 1007, 993, 5000]
    for i, rc in enumerate(series):
        df = spark.createDataFrame(
            [("docs", "doc_id", rc), ("docs", "n_chars", 1000 + i)],
            "table_name string, column_name string, row_count long",
        )
        store.append("data_profiles", df, scan_time=1700000000.0 + i * 86400)
    out = store.metric_anomalies(metric="row_count")
    flagged = [(r.column_name, r.row_count) for r in out.collect() if r.is_anomaly]
    assert flagged == [("doc_id", 5000)]
    # stable series: z defined but small, never flagged
    stable = [r for r in out.collect() if r.column_name == "n_chars"]
    assert all(not r.is_anomaly for r in stable)


def test_expire_snapshots_drops_old_months_only(spark, tmp_path):
    """Retention = partition drop: months older than the window vanish,
    retained months stay byte-identical readable, and re-running is a
    no-op."""
    import datetime

    from dataprofiler_spark.sinks import MetricsStore, expire_snapshots

    store = MetricsStore(spark, str(tmp_path / "m"), application="t", environment="e")
    store.init()
    rows = spark.createDataFrame([("docs", "c", "bigint")],
                                 "table_name string, column_name string, data_type string")
    # three monthly snapshots: Jan/Mar/Jun 2024
    for mth in (1, 3, 6):
        ts = datetime.datetime(2024, mth, 15, tzinfo=datetime.timezone.utc).timestamp()
        store.append("data_profiles", rows, scan_time=ts)
    now = datetime.datetime(2024, 6, 20, tzinfo=datetime.timezone.utc).timestamp()

    deleted = expire_snapshots(store, keep_months=4, now=now)  # cutoff 202403
    assert deleted == {"data_profiles": 1}  # only 202401 dropped
    kept = {str(r.scan_month) for r in store.read("data_profiles").collect()}
    assert kept == {"202403", "202406"}  # partition values read back as ints
    assert expire_snapshots(store, keep_months=4, now=now) == {}  # idempotent


# non-nullable and nullable columns of each type the collected sinks hold
_ROWS_DDL = "name string not null, n bigint not null, x double, ok boolean, note string"


def _spark_types(schema):
    # Spark's file reader marks every column nullable
    return [(f.name, f.dataType) for f in schema]


def test_append_rows_mixes_with_spark_written_files(spark, tmp_path):
    """A sink directory holding Spark's append layout (_SUCCESS, .crc) and
    append_rows files reads back in Spark and in DuckDB (the glob the
    perfbench oracle uses) as one table: the declared types and the union
    of the rows."""
    import duckdb

    sink = tmp_path / "drift_metrics"
    old = [("web", 1, 0.5, True, None), ("code", 2, None, False, "x")]
    new = [("web", 3, 1.25, None, "y"), ("legal", 4, 0.0, True, None)]
    frame = spark.createDataFrame(old, _ROWS_DDL)
    frame.write.mode("append").parquet(str(sink))
    assert (sink / "_SUCCESS").exists() and list(sink.glob(".*.crc"))
    written = append_rows(new, frame.schema, str(sink))
    assert written.startswith(f"{sink}/part-") and written.endswith(".parquet")

    back = spark.read.parquet(str(sink))
    assert _spark_types(back.schema) == _spark_types(frame.schema)
    assert sorted(map(tuple, back.collect()), key=str) == sorted(old + new, key=str)

    got = duckdb.sql(
        f"SELECT name, n, x, ok, note FROM read_parquet('{sink}/**/*.parquet', "
        "hive_partitioning = true)"
    ).fetchall()
    assert sorted(got, key=str) == sorted(old + new, key=str)


def test_append_rows_empty_writes_schema_only_file(spark, tmp_path):
    """No rows still appends one readable 0-row file carrying the schema."""
    sink = tmp_path / "validation_verdicts"
    schema = spark.createDataFrame([], _ROWS_DDL).schema
    append_rows([], schema, str(sink))
    assert len(list(sink.glob("part-*.parquet"))) == 1
    back = spark.read.parquet(str(sink))
    assert _spark_types(back.schema) == _spark_types(schema)
    assert back.count() == 0


def test_unsupported_output_scheme_fails_before_any_job(spark):
    """An output_dir no pyarrow filesystem resolves is rejected before
    run_validation starts a Spark job."""
    import pyarrow as pa

    from dataprofiler_spark.pipeline import ValidationConfig, run_validation
    from dataprofiler_spark.sources import gen_sources_ref

    df = gen_sequences(spark, 500)
    sources = gen_sources_ref(spark)
    sc = spark.sparkContext
    sc.setJobGroup("unsupported-output-scheme", "run_validation into nosuch://")
    try:
        with pytest.raises(pa.ArrowInvalid, match="nosuch"):
            run_validation(spark, df, sources, cfg=ValidationConfig(output_dir="nosuch://x"))
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("unsupported-output-scheme")) == []
