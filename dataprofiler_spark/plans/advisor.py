"""Join-cardinality advisor: predict a shuffle explosion BEFORE paying it.

The classic corpus-scale incident: an innocent-looking equi-join where a
handful of hot keys (NULL-ish sentinels, default ids, boilerplate hashes)
multiply — a 10^9 × 10^9 join with one key at 10^6×10^6 emits 10^12 rows
out of a single reducer. Catalyst's AQE can split a skewed join's
partitions, but it cannot shrink the OUTPUT; the time to learn the join
explodes is before running it.

`join_size_estimate` computes, from two cheap per-key aggregates:
- the EXACT output contribution of the top-k hottest keys of each side
  (Σ ca·cb over the union of both hot sets — covers the skew mass that
  actually causes incidents), and
- a uniform-containment estimate for the tails
  (rows_a_tail · rows_b_tail / max(d_tail)), the standard optimizer
  heuristic.

Deterministic arithmetic (top-k ordered by count desc then key — no
random row sample), so the whole estimator replays bit-exact in SQL for the
oracle. Cost: one hash aggregate per side (distinct-key-sized) + top-k
(TakeOrderedAndProject) + broadcast joins of the ≤2k hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_size_estimate(
    a: DataFrame,
    b: DataFrame,
    key: str,
    top_k: int = 100,
    explosion_factor: float = 10.0,
) -> DataFrame:
    """One-row verdict for the inner equi-join a ⋈ b on `key`:
    (rows_a, rows_b, distinct_a, distinct_b, exact_hot_rows,
    tail_estimate, estimated_rows, worst_key_rows, explodes).
    NULL keys never join — excluded from both sides. `explodes` flags an
    estimate above explosion_factor × the larger input."""
    # each per-key count frame feeds THREE consumers (top-k, broadcast
    # join, totals) — localCheckpoint materializes it once instead of
    # re-running the input scan + aggregate per consumer (gotcha 16);
    # blocks are freed with the frame by the ContextCleaner, unlike a
    # catalog-pinned persist
    ca = (
        a.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("ca"))
        .localCheckpoint(eager=False)
    )
    cb = (
        b.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)
    )
    hot_a = ca.orderBy(F.desc("ca"), F.asc(key)).limit(top_k).select(key)
    hot_b = cb.orderBy(F.desc("cb"), F.asc(key)).limit(top_k).select(key)
    hot = hot_a.unionByName(hot_b).distinct()

    hot_counts = (
        hot.join(F.broadcast(ca), key, "left")
        .join(F.broadcast(cb), key, "left")
        .select(
            F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    hot_agg = hot_counts.agg(
        F.sum(F.col("ca") * F.col("cb")).alias("exact_hot_rows"),
        F.max(F.col("ca") * F.col("cb")).alias("worst_key_rows"),
        F.sum("ca").alias("rows_a_hot"),
        F.sum("cb").alias("rows_b_hot"),
        F.sum((F.col("ca") > 0).cast("long")).alias("d_a_hot"),
        F.sum((F.col("cb") > 0).cast("long")).alias("d_b_hot"),
    )
    tot_a = ca.agg(F.sum("ca").alias("rows_a"), F.count(F.lit(1)).alias("distinct_a"))
    tot_b = cb.agg(F.sum("cb").alias("rows_b"), F.count(F.lit(1)).alias("distinct_b"))

    j = hot_agg.crossJoin(tot_a).crossJoin(tot_b)
    rows_a_tail = F.col("rows_a") - F.col("rows_a_hot")
    rows_b_tail = F.col("rows_b") - F.col("rows_b_hot")
    d_tail = F.greatest(
        F.col("distinct_a") - F.col("d_a_hot"),
        F.col("distinct_b") - F.col("d_b_hot"),
        F.lit(1),
    )
    tail_est = F.round(rows_a_tail * rows_b_tail / d_tail, 0).cast("long")
    est = F.col("exact_hot_rows") + tail_est
    return j.select(
        "rows_a",
        "rows_b",
        "distinct_a",
        "distinct_b",
        "exact_hot_rows",
        tail_est.alias("tail_estimate"),
        est.alias("estimated_rows"),
        "worst_key_rows",
        (
            est > F.lit(explosion_factor) * F.greatest(F.col("rows_a"), F.col("rows_b"))
        ).alias("explodes"),
    )
