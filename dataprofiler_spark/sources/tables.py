"""Parquet table loading for the driver-provided testdata (TESTDATA.md).

Replaces the reference's catalog discovery + connection factory
(/root/reference/src/db/connection_factory.py:48-71): in Spark the schema
travels with the data, so "get_table_metadata" is just ``df.schema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _parquet_row_groups(path: str, limit: int) -> int | None:
    """Parquet row groups under `path` (file or directory) from the
    footers — the TRUE ceiling on scan parallelism: Spark splits files
    by BYTE RANGES, but a row group is read entirely by the split
    containing its midpoint, so a 260 MB single-row-group file yields 32
    splits of which 31 are EMPTY. Footer reads are metadata-only
    (milliseconds, no data scan), but one per file: reading stops once
    the running count exceeds `limit`, so the result is exact up to
    `limit` and some value above it otherwise."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            files = [path]
        total = 0
        for f in files:
            total += pq.ParquetFile(f).metadata.num_row_groups
            if total > limit:
                break
        return total
    except Exception:
        return None


def _spread_scan(df: DataFrame, path: str | None = None) -> DataFrame:
    """Repartition a scan whose EFFECTIVE parallelism is below the core
    count.

    The driver testdata tables are single files with 1-6 parquet row
    groups: every narrow chain over them (tokenize+explode, pair
    scoring, regex scans, exact-percentile partials) executes on 1-6
    tasks of a local[32] session — measured as THE dominant cost of a
    dozen bench entries (a since-removed per-source tokenizer-fertility
    entry ran its explode + aggregate on one task: 7.3 s at sf1.0, 0.5 s
    with the spread alone). A no-op
    at real scale: a 100 TB table has orders of magnitude more row
    groups than cores, so the guard never fires and no Exchange is
    added. Column pruning and filter pushdown pass through Repartition,
    so scans stay pruned.

    Effective parallelism is min(splits, row groups), NOT the split
    count: byte-range splitting assigns a row group to the split holding
    its midpoint, so a big single-row-group file can show >= cores
    splits where all but one are EMPTY — the r6.0 split-count guard was
    fooled exactly there (a 260 MB single-row-group file planned 32
    splits but ran ONE task — the straggler behind every (31+1)/32
    stage at that layout).

    The row-group rule is deliberately STRICTER than the split rule
    (fires only at <= cores/8 effective tasks): the spread pays one
    full-table shuffle, which the measured break-even puts between 1
    and 6 tasks on this class of host — a 1-task 12M-row profile went
    59 -> 34 s with the spread, while the SAME table at 6 row groups
    (the driver's sf1.0 lineitem layout) measured 11.7 s WITHOUT the
    spread vs 16.3 s with it (6-way scan-local aggregation beats
    6 -> 32 repartition when per-row work is light and rows are wide).
    Few-SPLIT inputs keep the r6.0 rule unchanged — every one of its
    measured wins (the tokenizer-fertility entry's 7.3 -> 0.5 s etc.)
    came from that case — so this probe is purely additive. When no path
    is known the split count remains the only signal (unchanged behavior).

    The df.rdd partition probe is safe here because the input is a bare
    scan (no Exchange upstream — same rule as dedup._spread_small_input)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        # >= cores byte-range splits: only a catastrophic row-group
        # deficit (all-but-a-few splits EMPTY) justifies the shuffle
        limit = max(1, target // 8)
        rg = _parquet_row_groups(path, limit) if path is not None else None
        if rg is None or rg > limit:
            return df
    # hash-partition on the leading column instead of round-robin:
    # round-robin pays a local sort of the full rows first
    # (sortBeforeRepartition, needed for retry determinism); hash
    # partitioning is deterministic without it — measured 0.98 -> 0.83 s
    # (snapshot_diff), 0.69 -> 0.43 s (hashed_classifier) at sf1.0. The
    # driver tables lead with their key column, so spread is even; a
    # low-cardinality leading column only loses the spread benefit,
    # never correctness.
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(df.columns[0]))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    return _spread_scan(df, path) if spread else df


# The reference's "connector" surface is 4 SQL dialects behind one factory
# (connection_factory.py:48-71). The Spark analog is file/table FORMATS
# behind one reader: same engine semantics over any of them. CSV/JSON carry
# no schema and no types beyond text — a declared schema is REQUIRED (no
# silent inferSchema scans: at 100 TB an inference pass is a full extra
# read, and inferred types drift between snapshots).
_READERS = {
    "parquet": lambda r, p: r.parquet(p),
    "orc": lambda r, p: r.orc(p),
    "csv": lambda r, p: r.option("header", "true").csv(p),
    "json": lambda r, p: r.json(p),
    "jsonl": lambda r, p: r.json(p),
}


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
) -> DataFrame:
    """Format-agnostic source reader (S-surface analog of the reference's
    multi-dialect connection factory). Self-describing formats
    (parquet/orc) may omit `schema`; text formats (csv/json) must declare
    one — schema inference is refused by design."""
    if fmt not in _READERS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_READERS)}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json", "jsonl"):
        raise ValueError(
            f"{fmt} carries no schema — declare one (inferSchema is a full "
            "extra scan and drifts between snapshots; refused by design)"
        )
    return _READERS[fmt](reader, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def table_exists(sf_dir: str, name: str) -> bool:
    """Analog of the reference's table_exists catalog probe
    (/root/reference/src/db/postgres.py:43-75)."""
    return os.path.exists(os.path.join(sf_dir, f"{name}.parquet"))


def list_tables(sf_dir: str) -> list[str]:
    """Analog of list_tables inventory source, sorted
    (/root/reference/src/db/postgres.py:126-166)."""
    return sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
