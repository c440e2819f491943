"""Row-level snapshot reconciliation: added / removed / changed keys.

The reference compares METRIC deltas between snapshots (dashboard panels);
it cannot answer "which rows changed, and in which columns". This operator
does, with the engine's established payload-off-the-shuffle shape
(the checks.equality_frame prefilter lineage): each side is reduced map-side
to (key, one 8-byte xxhash64 per compared column), the full-outer join
moves ONLY those narrow digest rows, and change classification + per-column
attribution happen on the hashes. Payload values never ride the shuffle —
at 10^12 rows the diff join is as narrow as the key space, not the row
width. (Detection is value-equality modulo a 2^-64 hash collision; the
DuckDB oracle checks the same classification with direct IS DISTINCT FROM
comparison, so a collision would surface as a parity break.)

Scale notes: the join shuffles both sides on the key — inherent to
reconciliation; bucket both snapshots by key (tests/test_bucketing.py
pattern) and the exchange disappears. `diff_summary` is safe to collect
(4 + n_cols scalars); `snapshot_diff` output is one row per NON-identical
key — filter `change_type` before any wide fetch-back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _digest_side(df: DataFrame, key_cols: list[str], cols: list[str], tag: str) -> DataFrame:
    # xxhash64 is never NULL (a NULL input hashes to the seed constant),
    # so plain equality on digests below is already null-safe
    return df.select(
        *key_cols,
        F.lit(True).alias(f"__{tag}_present"),
        *[F.xxhash64(F.col(c)).alias(f"__{tag}_{i}") for i, c in enumerate(cols)],
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Per-key change classification between two snapshots:
    (key…, change_type ∈ added|removed|changed[|unchanged],
    changed_columns: array<string>). `compare_cols` defaults to the common
    non-key columns. Keys must be unique per side (it is a keyed diff, not
    a bag diff — use dedup first if needed)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    o = _digest_side(old, keys, compare_cols, "o").alias("o")
    n = _digest_side(new, keys, compare_cols, "n").alias("n")
    # null-safe on the key: a NULL-keyed row present on both sides is the
    # SAME row (keys are unique per side), not an added+removed pair — the
    # engine's eqNullSafe convention (drift/growth/mix joins)
    cond = None
    for k in keys:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer").select(
        *[F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys],
        *[c for c in o.columns if c not in keys],
        *[c for c in n.columns if c not in keys],
    )

    col_changed = [
        F.col(f"__o_{i}") != F.col(f"__n_{i}") for i in range(len(compare_cols))
    ]
    any_changed = F.lit(False)
    for c in col_changed:
        any_changed = any_changed | c
    change_type = (
        F.when(F.col("__o_present").isNull(), F.lit("added"))
        .when(F.col("__n_present").isNull(), F.lit("removed"))
        .when(any_changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    changed_cols = (
        F.concat(
            *[
                F.when(cc, F.array(F.lit(name))).otherwise(F.array().cast("array<string>"))
                for cc, name in zip(col_changed, compare_cols)
            ]
        )
        if compare_cols
        else F.array().cast("array<string>")
    )
    out = j.select(
        *keys,
        change_type.alias("change_type"),
        F.when(change_type == "changed", changed_cols)
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_columns"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out


def diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """One-row reconciliation verdict: added/removed/changed/unchanged
    counts plus per-column changed-row counts (`changed_<col>`). The
    driver-safe summary over the digest join — collect freely."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    d = snapshot_diff(old, new, keys, compare_cols, include_unchanged=True)
    aggs = [
        F.sum((F.col("change_type") == t).cast("long")).alias(t)
        for t in ("added", "removed", "changed", "unchanged")
    ]
    for c in compare_cols:
        aggs.append(
            F.sum(F.array_contains("changed_columns", c).cast("long")).alias(
                f"changed_{c}"
            )
        )
    return d.agg(*aggs)


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | str,
    op_col: str = "op",
    validate: bool = True,
) -> DataFrame:
    """CDC apply (the MERGE INTO / SCD-1 upsert semantics a snapshot store
    needs without a table format's transaction layer): `changes` carries
    the same payload columns as `base` plus `op_col` ∈ {'I','U','D'} —
    insert/upsert rows replace the base row with their key, 'D' removes
    it. Exactly-one change per key (CDC compaction upstream); verified
    cheap with a count-distinct assert in tests, not at runtime.

    Shape: one left-anti join (base keys untouched by any change) + the
    non-delete change rows appended — both sides shuffle once on the key,
    payloads ride only their own side, and with base and changes bucketed
    by key the anti join is exchange-free (test_bucketing.py pattern).
    Equivalent SQL (the oracle): base rows WHERE key NOT IN changes,
    UNION ALL changes WHERE op <> 'D'.

    Malformed change rows (NULL op, or NULL in any key column) are a
    data-quality bug this engine should SURFACE, not swallow: a NULL op
    would silently vanish through `op != 'D'` (NULL → filtered) and a
    NULL key never matches the anti join. `validate=True` (default) runs
    one cheap aggregate over the batch-sized changes frame and raises;
    pass validate=False only when upstream already enforces the contract."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if validate:
        null_key = None
        for k in keys:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        bad = changes.agg(
            F.sum(F.col(op_col).isNull().cast("long")).alias("null_op"),
            F.sum(null_key.cast("long")).alias("null_key"),
        ).collect()[0]
        if (bad["null_op"] or 0) > 0 or (bad["null_key"] or 0) > 0:
            raise ValueError(
                f"apply_changes: malformed change rows — {bad['null_op']} with "
                f"NULL {op_col}, {bad['null_key']} with NULL key {keys}. A NULL "
                "op/key row cannot be applied deterministically; fix the CDC "
                "feed or pre-filter explicitly."
            )
    payload = [c for c in base.columns]
    untouched = base.join(changes.select(*keys), keys, "left_anti")
    applied = changes.filter(F.col(op_col) != "D").select(*payload)
    return untouched.unionByName(applied)
