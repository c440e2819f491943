"""Constraint suite: per-partition verdicts and the violation rows behind them.

The reference only *records* constraints as metadata (foreign keys in its
schema_extractor.py:231-278, uniqueness as the is_unique profile verdict
in metrics.py:287, the generated SodaCL ``row_count > 0`` check in
profiler.py:91). Here they are data checks with two outputs:

  verdicts:   (table_name, partition_value, check_name, row_count,
               violation_count, passed)
  violations: (check_name, partition_value, key, detail) — at most
              ``violation_cap`` rows per (check, partition), never
              collected unbounded to the driver (SURVEY.md §7.4).

Every check builds ONE check frame (``FRAME_COLS``) that holds its failing
rows and the rows its verdict counts:

  * a failing row stands for ``n`` >= 1 identical input rows and has
    ``row_count`` 0;
  * a count row has ``key`` and ``detail`` NULL, ``n`` 0, and in
    ``row_count`` the rows of its partition that the check covers.

``verdicts_and_violations`` derives both outputs from that frame: verdicts
sum ``n`` and ``row_count`` per (check, partition) under the check's pass
rule; violations repeat each failing row ``n`` times under the
per-(check, partition) cap. A caller that persists the frame runs every
check plan, and the equality UDF, once for both outputs.

Plans (10^12-row design point):
  * Row checks, referential integrity and row_count_gt_0: ONE scan through
    a broadcast join with the registered partitions and ONE aggregate.
  * Uniqueness: a two-level aggregate — (key, partition) pair counts
    combined map-side, the global per-key count a window over the pairs.
  * Token equality with the golden copy: ONE join on doc_id. ``exact``
    runs the Arrow UDF once per joined row; otherwise the join carries
    (xxhash64, size) digests and runs no UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataprofiler_spark.functions.expressions import token_range_ok
from dataprofiler_spark.plans.windows import top_rows_per_group
from dataprofiler_spark.sources.synthetic import VOCAB_SIZE

VERDICT_COLS = ["table_name", "partition_value", "check_name", "row_count", "violation_count", "passed"]
VIOLATION_COLS = ["check_name", "partition_value", "key", "detail"]
FRAME_COLS = ["check_name", "partition_value", "key", "detail", "n", "row_count"]
EMPTY_CHECK = "row_count_gt_0"


@dataclass(frozen=True)
class RowCheck:
    """A row-level invariant. `fail_predicate` True ⇒ the row violates.

    threshold_rate: partition passes while violation_rate <= threshold
    (0.0 = any violation fails the partition)."""

    name: str
    fail_predicate: Column
    detail: Column
    threshold_rate: float = 0.0


def sequence_row_checks(
    vocab_size: int = VOCAB_SIZE,
    null_rate_threshold: float = 0.0,
) -> list[RowCheck]:
    """Built-in invariants for the tokenized-sequence schema
    (FIXTURES.md §4): n_tok consistency, token range, doc_id null rate."""
    tokens, n_tok, doc_id = F.col("tokens"), F.col("n_tok"), F.col("doc_id")
    return [
        RowCheck(
            "n_tok_matches_size",
            tokens.isNotNull() & (n_tok != F.size(tokens)),
            F.concat(F.lit("n_tok="), n_tok.cast("string"), F.lit(" size="), F.size(tokens).cast("string")),
        ),
        RowCheck(
            "token_range",
            tokens.isNotNull() & ~token_range_ok(tokens, vocab_size),
            F.concat(
                F.lit("out_of_range="),
                F.array_join(
                    F.slice(F.filter(tokens, lambda t: (t < 0) | (t >= F.lit(vocab_size))), 1, 5).cast("array<string>"),
                    ",",
                ),
            ),
        ),
        RowCheck(
            "doc_id_not_null",
            doc_id.isNull(),
            F.lit("doc_id IS NULL"),
            threshold_rate=null_rate_threshold,
        ),
    ]


def _frame_entry(check_name: Column, n: Column, row_count: Column) -> Column:
    return F.struct(
        check_name.alias("check_name"),
        n.cast("long").alias("n"),
        row_count.cast("long").alias("row_count"),
    )


def _tally(
    rows: DataFrame,
    part_col: str,
    failures: list[tuple[str, Column, Column, Column]],
    counted: list[str],
    weight: Column | None = None,
    registered: DataFrame | None = None,
) -> DataFrame:
    """Check frame of `failures` from ONE aggregate over `rows`.

    failures: (check_name, fail_predicate, key, detail) per check. Each row
    of `rows` stands for `weight` input rows (default 1). Identical failing
    rows collapse into one with their count in `n`. Every partition with
    rows gets one count row per `counted` check; with `registered` (a frame
    of `part_col` values) every registered partition, observed or not,
    also gets a row_count_gt_0 count row."""
    none = F.lit(None).cast("string")
    count_mark = F.struct(none.alias("check_name"), none.alias("key"), none.alias("detail"))
    entries = [count_mark] + [
        F.when(
            pred,
            F.struct(
                F.lit(name).alias("check_name"),
                key.cast("string").alias("key"),
                detail.alias("detail"),
            ),
        )
        for name, pred, key, detail in failures
    ]
    staged = rows.select(
        F.col(part_col).cast("string").alias("partition_value"),
        (F.lit(1) if weight is None else weight).cast("long").alias("__w"),
        F.lit(False).alias("__reg"),
        F.array_compact(F.array(*entries)).alias("__e"),
    )
    if registered is not None:
        staged = staged.unionByName(
            registered.select(
                F.col(part_col).cast("string").alias("partition_value"),
                F.lit(0).cast("long").alias("__w"),
                F.lit(True).alias("__reg"),
                F.array(count_mark).alias("__e"),
            )
        )
    # explode_outer, though the count mark keeps every array non-empty: for
    # an inner explode the optimizer infers a size(array) > 0 filter below
    # it, which evaluates every fail predicate — and the equality UDF — twice
    tallied = (
        staged.select("partition_value", "__w", "__reg", F.explode_outer("__e").alias("e"))
        .select("partition_value", "__w", "__reg", "e.*")
        .groupBy("check_name", "partition_value", "key", "detail")
        .agg(F.sum("__w").alias("__c"), F.max("__reg").alias("__reg"))
    )
    c = F.col("__c")
    count_rows = [F.when(c > 0, _frame_entry(F.lit(name), F.lit(0), c)) for name in counted]
    if registered is not None:
        count_rows.append(F.when(F.col("__reg"), _frame_entry(F.lit(EMPTY_CHECK), F.lit(0), c)))
    expanded = F.when(
        F.col("check_name").isNull(), F.array_compact(F.array(*count_rows))
    ).otherwise(F.array(_frame_entry(F.col("check_name"), c, F.lit(0))))
    return (
        tallied.select("partition_value", "key", "detail", F.explode(expanded).alias("e"))
        .select("partition_value", "key", "detail", "e.*")
        .select(*FRAME_COLS)
    )


def row_check_frame(
    df: DataFrame,
    checks: list[RowCheck],
    part_col: str = "source",
    key_col: str = "doc_id",
    registered: DataFrame | None = None,
) -> DataFrame:
    """Check frame of the row checks, from ONE scan of `df` and one
    aggregate (the scan never re-runs per check).

    With `registered` (the registered partitions, one `part_col` value per
    row) the same scan adds:
      * ri_<part_col>: referential integrity of the partition value, the
        reference's FK metadata (schema_extractor.py:231-278) as a data
        check. A broadcast join flags orphans and never shuffles `df`.
        A NULL value never violates (SQL MATCH SIMPLE; null-ness is the
        null check's job).
      * row_count_gt_0 for every registered partition, observed or not
        (profiler.py:91's SodaCL check): empty ones are visible at all only
        because the registered list says they exist."""
    key = F.col(key_col)
    failures = [(ck.name, ck.fail_predicate, key, ck.detail) for ck in checks]
    counted = [ck.name for ck in checks]
    if registered is not None:
        part = F.col(part_col)
        known = registered.select(part_col).distinct().withColumn("__known", F.lit(True))
        df = df.join(F.broadcast(known), part_col, "left")
        ri = f"ri_{part_col}"
        failures.append(
            (
                ri,
                part.isNotNull() & F.col("__known").isNull(),
                key,
                F.concat(F.lit(f"orphan {part_col}="), part.cast("string")),
            )
        )
        counted.append(ri)
    return _tally(df, part_col, failures, counted, registered=registered)


def uniqueness_frame(
    df: DataFrame,
    key_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Check frame of unique_<key_col>: exact uniqueness with the reference's
    is_unique semantics (metrics.py:287). Duplication is GLOBAL per key;
    each row of a duplicated key counts against its own partition. NULL
    keys are never duplicates (COUNT DISTINCT semantics — the null check's
    job) but do count toward row_count.

    Plan: a TWO-LEVEL AGGREGATE. groupBy(key, partition) collapses
    duplicates map-side (a key duplicated 10^9 times in one partition
    leaves each map task as ONE narrow row), and the global per-key count
    is a window over those pairs — a key's window group holds at most
    #partitions rows however many duplicate ROWS it has, so neither a hot
    key nor the NULL key funnels through one task. A duplicated pair is one
    failing row with its pair count as `n`."""
    pairs = df.groupBy(F.col(key_col).alias("__k"), F.col(part_col)).agg(
        F.count(F.lit(1)).alias("__cnt_pk")
    )
    # a window over the PAIR frame, not a self-join: referencing pairs
    # twice would re-execute its scan
    pairs = pairs.withColumn("__cnt_k", F.sum("__cnt_pk").over(Window.partitionBy("__k")))
    name = f"unique_{key_col}"
    duplicated = F.col("__k").isNotNull() & (F.col("__cnt_k") > 1)
    detail = F.concat(F.lit("duplicate_count="), F.col("__cnt_k").cast("string"))
    return _tally(
        pairs, part_col, [(name, duplicated, F.col("__k"), detail)], [name],
        weight=F.col("__cnt_pk"),
    )


# ---------------------------------------------------------------------------
# Token-array equality vs the golden reference copy — the engine's primary UDF
# (input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").
# ---------------------------------------------------------------------------

def _lists_equal_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized list<int> equality over an Arrow batch.

    Hot path is pure numpy on the Arrow buffers: compare per-row lengths
    (value_lengths), then compare the flattened value buffers and reduce
    per-segment with a cumulative sum — no per-row Python when all
    lengths match (the overwhelmingly common case). Rows with differing
    lengths are False by definition and excluded before the flat compare.
    NULL elements compare as SQL's IS NOT DISTINCT FROM does: [1, NULL]
    equals [1, NULL] and differs from [NULL, 1], as in the digest join.
    """
    aa = pa.array(a, from_pandas=True)
    bb = pa.array(b, from_pandas=True)
    n = len(aa)
    null_a = np.asarray(pa.compute.is_null(aa))
    null_b = np.asarray(pa.compute.is_null(bb))
    # NULL semantics (consistent with the digest join, where
    # xxhash64(NULL) == xxhash64(NULL) compares equal): both-null passes,
    # null-vs-non-null is a violation.
    both_null = null_a & null_b
    # an all-null column infers as NullArray (no list buffers) — every row
    # pairs null with the other side: equal only where both are null
    if pa.types.is_null(aa.type) or pa.types.is_null(bb.type):
        return pd.Series(both_null)
    la = pa.compute.fill_null(aa.value_lengths(), -1).to_numpy(zero_copy_only=False).astype(np.int64)
    lb = pa.compute.fill_null(bb.value_lengths(), -2).to_numpy(zero_copy_only=False).astype(np.int64)
    valid = ~(null_a | null_b)
    same_len = valid & (la == lb)

    out = np.zeros(n, dtype=bool)
    out[both_null] = True
    if same_len.any():
        idx = np.flatnonzero(same_len)
        fa, na = _flat_values(aa.take(pa.array(idx)))
        fb, nb = _flat_values(bb.take(pa.array(idx)))
        eq = (na == nb) & (fa == fb)
        lens = la[idx]
        # segment all-true via cumsum: exact for empty segments (0 == 0)
        offsets = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        cs = np.concatenate(([0], np.cumsum(eq, dtype=np.int64)))
        seg_true = cs[offsets + lens] - cs[offsets]
        out[idx] = seg_true == lens
    return pd.Series(out)


def _flat_values(lists: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The flattened elements of `lists` with NULL elements filled by 0,
    and the NULL mask. Unfilled, to_numpy turns a NULL into NaN, and
    NaN != NaN."""
    flat = lists.flatten()
    return (
        pa.compute.fill_null(flat, 0).to_numpy(zero_copy_only=False),
        np.asarray(pa.compute.is_null(flat)),
    )


def arrays_equal(a: Column, b: Column) -> Column:
    """Apply the vectorized equality kernel as an Arrow pandas UDF.
    Created lazily — pandas_udf type parsing needs an active session."""
    udf = F.pandas_udf(_lists_equal_batch, "boolean")
    return udf(a, b)


def _digest(array_col: str) -> Column:
    """xxhash64 of the array and of its NULL mask: xxhash64 skips NULL
    elements, so without the mask [1, NULL] and [NULL, 1] would hash
    alike. A NULL array and [] hash alike; their sizes tell them apart."""
    arr = F.col(array_col)
    return F.xxhash64(arr, F.transform(arr, lambda t: t.isNull()))


def equality_frame(
    df: DataFrame,
    reference: DataFrame,
    key_col: str = "doc_id",
    array_col: str = "tokens",
    part_col: str = "source",
    exact: bool = True,
) -> DataFrame:
    """Check frame of <array_col>_match_reference: the array must equal the
    golden copy's exactly (both NULL counts as equal). ONE inner join on
    `key_col`; row_count is the joined rows, so only partitions with
    joined rows get a verdict. Rows missing from the reference are not
    compared (uniqueness and RI own those).

    exact:
      True  — the Arrow UDF compares every joined pair once: bit-exact,
              but both arrays cross the shuffle and Arrow.
      False — both sides reduce map-side to (key, xxhash64, size)
              digests, so the join never moves an array, and no UDF
              runs: a digest mismatch proves the arrays differ, and the
              `len=… ref_len=…` detail comes from the sizes. xxhash64
              skips NULL elements, so the digest also hashes the array's
              NULL mask: [1, NULL] and [NULL, 1] differ. Unequal arrays
              with equal digests read as equal: a hash collision (2^-64
              per row)."""
    name = f"{array_col}_match_reference"
    left = df.filter(F.col(key_col).isNotNull())
    if not exact:
        left = left.select(
            key_col, part_col,
            _digest(array_col).alias("__h"), F.size(array_col).alias("__len"),
        )
        right = reference.select(
            key_col, _digest(array_col).alias("__ref_h"), F.size(array_col).alias("__ref_len")
        )
        # SHUFFLE_HASH: fixed-width digest rows make the build side tiny
        # per partition; a sort-merge join would sort both sides for nothing
        joined = left.join(right.hint("SHUFFLE_HASH"), key_col)
        mismatch = (F.col("__h") != F.col("__ref_h")) | ~F.col("__len").eqNullSafe(
            F.col("__ref_len")
        )
    else:
        right = reference.select(key_col, F.col(array_col).alias("__ref_arr"))
        joined = left.select(key_col, part_col, array_col).join(right, key_col).select(
            key_col, part_col,
            arrays_equal(F.col(array_col), F.col("__ref_arr")).alias("__eq"),
            F.size(array_col).alias("__len"), F.size("__ref_arr").alias("__ref_len"),
        )
        mismatch = ~F.col("__eq")
    detail = F.concat(
        F.lit("len="), F.col("__len").cast("string"),
        F.lit(" ref_len="), F.col("__ref_len").cast("string"),
    )
    return _tally(joined, part_col, [(name, mismatch, F.col(key_col), detail)], [name])


def verdicts_and_violations(
    frame: DataFrame,
    table_name: str,
    violation_cap: int = 1000,
    thresholds: dict[str, float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Verdicts and capped violation rows, both from one check frame.

    Verdicts: per (check, partition), violation_count = sum(n) and
    row_count = sum(row_count); the check passes while violation_count <=
    its rate in `thresholds` (default 0) × row_count. row_count_gt_0 has no
    failing rows: its one violation is an empty registered partition.

    Violations: each failing row repeated n times — at most the cap, rows
    of one failing row being identical — then at most `violation_cap` rows
    per (check, partition). The cap window is keyed on both: keyed on the
    check alone, one reducer would take every violating row of a check
    under mass failure, and a global limit would starve later partitions
    of their budget (rows beyond the first cap's worth would read as
    'partition clean'). top_rows_per_group pre-trims map-side, so even one
    partition's mass failure never sorts in a single task."""
    check, rc = F.col("check_name"), F.col("row_count")
    rate = F.lit(0.0)
    for name, t in (thresholds or {}).items():
        rate = F.when(check == name, F.lit(t)).otherwise(rate)
    vc = F.when(check == EMPTY_CHECK, (rc == 0).cast("long")).otherwise(F.col("violation_count"))
    verdicts = (
        frame.groupBy("check_name", "partition_value")
        .agg(F.sum("n").alias("violation_count"), F.sum("row_count").alias("row_count"))
        .select(
            F.lit(table_name).alias("table_name"),
            "partition_value",
            "check_name",
            "row_count",
            vc.alias("violation_count"),
            (vc <= rate * rc).alias("passed"),
        )
    )
    cap = F.lit(violation_cap).cast("long")
    violations = top_rows_per_group(
        frame.filter(F.col("n") > 0)
        .select(
            *VIOLATION_COLS,
            F.explode(F.sequence(F.lit(1).cast("long"), F.least(F.col("n"), cap))).alias("__i"),
        )
        .drop("__i"),
        ["check_name", "partition_value"],
        ["key"],
        violation_cap,
    )
    return verdicts, violations


@dataclass
class SuiteResult:
    verdicts: DataFrame
    violations: DataFrame
    # the check frame both outputs derive from; persist it to run every
    # check plan once for both
    frame: DataFrame


def run_sequence_suite(
    df: DataFrame,
    sources_ref: DataFrame,
    reference: DataFrame | None = None,
    table_name: str = "sequences",
    part_col: str = "source",
    violation_cap: int = 1000,
    null_rate_threshold: float = 0.0,
    exact: bool = True,
) -> SuiteResult:
    """The full constraint suite: row invariants, uniqueness, RI against
    the registered partitions of `sources_ref`, row_count_gt_0, and token
    equality when the golden copy `reference` is supplied. Everything is
    lazy. The verdict plan reads `df` twice (row checks, uniqueness), plus
    `df` and `reference` once each for equality, whose kernel `exact`
    picks (see equality_frame)."""
    checks = sequence_row_checks(null_rate_threshold=null_rate_threshold)
    frame = row_check_frame(df, checks, part_col=part_col, registered=sources_ref).unionByName(
        uniqueness_frame(df, part_col=part_col)
    )
    if reference is not None:
        frame = frame.unionByName(
            equality_frame(df, reference, part_col=part_col, exact=exact)
        )
    verdicts, violations = verdicts_and_violations(
        frame, table_name, violation_cap, {ck.name: ck.threshold_rate for ck in checks}
    )
    return SuiteResult(verdicts, violations, frame)
