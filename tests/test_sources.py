"""Format-agnostic source reading: identical engine results over
parquet/orc/csv/jsonl of the same table (the Spark analog of the
reference's 4-dialect connection factory), and the no-inference rule."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.sources.tables import load_table, read_source

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF, "orders")


def _profile_rows(df):
    out = profile(df, "orders", columns=["o_orderkey", "o_totalprice", "o_orderstatus"])
    return sorted(map(tuple, out.collect()))


def test_same_profile_across_formats(spark, orders, tmp_path):
    base = _profile_rows(orders)
    schema = orders.schema
    # CSV cannot carry timestamp_ntz faithfully in this round-trip shape;
    # write the projected columns only (the compared surface)
    proj = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    pschema = proj.schema
    proj.write.mode("overwrite").orc(str(tmp_path / "orc"))
    proj.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "csv"))
    proj.write.mode("overwrite").json(str(tmp_path / "jsonl"))

    base_proj = _profile_rows(proj)
    for fmt in ("orc", "csv", "jsonl"):
        df = read_source(spark, str(tmp_path / fmt), fmt, schema=pschema)
        assert _profile_rows(df) == base_proj, fmt
    assert base_proj == base  # projection did not change the profiled metrics


def test_text_formats_require_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="carries no schema"):
        read_source(spark, str(tmp_path), "csv")
    with pytest.raises(ValueError, match="unsupported format"):
        read_source(spark, str(tmp_path), "avro")


def test_load_table_spread_preserves_rows_and_parallelism(spark):
    """r6: load_table spreads single-row-group driver tables to
    defaultParallelism partitions (guarded; no-op when splits >= cores)
    without changing content, and spread=False returns the raw scan."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    spread = load_table(spark, sf, "documents")
    raw = load_table(spark, sf, "documents", spread=False)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert raw.rdd.getNumPartitions() < spread.rdd.getNumPartitions()
    # identical multiset of rows (digest-sum is order-independent)
    dig = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert dig(spread) == dig(raw)


def test_spread_guard_sees_row_groups_not_byte_splits(spark, tmp_path):
    """A big SINGLE-row-group file plans >= cores byte-range splits, but
    a row group is read whole by the split holding its midpoint — all
    but one split are EMPTY, and the r6.0 split-count guard was fooled
    into skipping the spread (the 260 MB lineitem ran its whole scan on
    ONE task at local[32]). The guard now bounds effective parallelism
    by the parquet footers' row-group count."""
    from pyspark.sql.functions import spark_partition_id

    from dataprofiler_spark.sources.tables import load_table

    path = str(tmp_path / "one_rg.parquet")
    # one row group (small writer target never splits 5k rows)
    spark.range(5000).coalesce(1).write.mode("overwrite").parquet(path)
    import os as _os
    import shutil

    part = [f for f in _os.listdir(path) if f.endswith(".parquet")][0]
    shutil.move(_os.path.join(path, part), str(tmp_path / "t.parquet"))
    shutil.rmtree(path)
    _os.makedirs(path.rsplit("/", 1)[0], exist_ok=True)

    # shrink split sizing so the 1-row-group file plans many tiny splits
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = load_table(spark, str(tmp_path), "t")
        splits_raw = load_table(spark, str(tmp_path), "t", spread=False)
        # precondition: byte-range splits alone would satisfy the old guard
        assert (
            splits_raw.rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism
        )
        # the fixed guard still spreads: rows land on >1 partition
        nonempty = df.groupBy(spark_partition_id()).count().count()
        assert nonempty > 1, "single-row-group scan was not spread"
        assert df.count() == 5000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_spread_guard_stops_reading_footers_past_the_limit(spark, tmp_path, monkeypatch):
    """The row-group probe only answers "at most cores/8?": with more
    files than that limit it stops after the footer that crosses it,
    and the spread decision is the one the full count gives (many row
    groups, no spread)."""
    import os

    import pyarrow.parquet as pq

    spark.range(2000).repartition(12).write.parquet(str(tmp_path / "t.parquet"))
    path = str(tmp_path / "t.parquet")
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    limit = max(1, spark.sparkContext.defaultParallelism // 8)
    total = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_row_groups for f in files)
    assert len(files) == 12 and total > limit

    reads = []
    real = pq.ParquetFile

    def counting(f, *a, **k):
        reads.append(f)
        return real(f, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    # one split per file at least, so the row-group probe decides
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        raw = load_table(spark, str(tmp_path), "t", spread=False)
        df = load_table(spark, str(tmp_path), "t")
        assert raw.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert len(reads) == limit + 1  # one row group per file
        # same decision as the full count: no spread, the bare scan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert df.rdd.getNumPartitions() == raw.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
