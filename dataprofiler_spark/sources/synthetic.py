"""Deterministic synthetic tokenized-sequence tables (FIXTURES.md §1-§4).

The primary input of the engine is an Iceberg-style table
``sequences(doc_id string, tokens array<int32>, n_tok int32, source string)``.
This module synthesises it at any scale with **pure Spark expressions** —
``spark.range`` + ``xxhash64``-based counter PRNG — so generation itself is
distributed, deterministic (same seed → byte-identical), and has no Python
row loops. The violation variant injects *counted* defects by absolute row-id
ranges so the expected pass/fail matrix and violation-row sets are exact
(FIXTURES.md §4; north_rule "matching per-partition pass/fail and violation
rows").

Reference parity: the reference's seeded fixtures live in
/root/reference/init-scripts/postgres/01-sample-data.sql (deliberate
prod-vs-uat drift); we reproduce the *strategy* (seeded data with known
violations), not the schema.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB_SIZE = 50257

# (source, share%, min_len, len_spread): one deliberately hot source (~40%)
# to exercise skew handling (BASELINE.json north_star).
SOURCES = [
    ("web", 40, 32, 96),
    ("books", 15, 128, 128),
    ("code", 12, 64, 128),
    ("wiki", 10, 48, 80),
    ("news", 8, 40, 72),
    ("forums", 7, 24, 64),
    ("papers", 5, 96, 160),
    ("legal", 3, 80, 112),
]


@dataclass(frozen=True)
class ViolationSpec:
    """Absolute row-id ranges of injected defects (exact expected counts)."""

    dup_rows: tuple[int, int]  # doc_id duplicated in pairs, forced source=web
    orphan_rows: tuple[int, int]  # source='ghost' absent from sources_ref
    ntok_rows: tuple[int, int]  # n_tok = size(tokens) + 1
    range_rows: tuple[int, int]  # tokens contain -1
    null_doc_rows: tuple[int, int]  # doc_id NULL
    perturb_rows: tuple[int, int]  # tokens differ from reference copy

    @staticmethod
    def for_size(n: int) -> "ViolationSpec":
        # Non-overlapping ranges in the first ~6% of ids; all sizes even.
        u = max(2, (n // 100) & ~1)  # 1% of rows, even
        return ViolationSpec(
            dup_rows=(0, u),
            orphan_rows=(u, 2 * u),
            ntok_rows=(2 * u, 3 * u),
            range_rows=(3 * u, 4 * u),
            null_doc_rows=(4 * u, 5 * u),
            perturb_rows=(5 * u, 6 * u),
        )


def violation_spec(n_rows: int) -> ViolationSpec:
    return ViolationSpec.for_size(n_rows)


def _h(seed: int, *cols) -> F.Column:
    """Counter-mode PRNG: xxhash64 of (seed, *cols), non-negative."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _source_expr(seed: int) -> F.Column:
    bucket = _h(seed, F.col("id"), F.lit("src")) % 100
    expr = None
    lo = 0
    for name, share, _, _ in SOURCES:
        hi = lo + share
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return expr.otherwise(F.lit(SOURCES[0][0]))


def _len_expr(seed: int, source: F.Column) -> F.Column:
    r = _h(seed, F.col("id"), F.lit("len"))
    expr = None
    for name, _, min_len, spread in SOURCES:
        cond = source == name
        length = F.lit(min_len) + (r % spread).cast("int")
        expr = F.when(cond, length) if expr is None else expr.when(cond, length)
    return expr.otherwise(F.lit(64))


def gen_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    violations: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Build the sequences table; `violations=True` → the `sequences_bad`
    variant with defects at the exact row-id ranges of ``violation_spec``.

    tokens[j] = xxhash64(seed, id, j) % VOCAB_SIZE — fully determined by
    (seed, id), so the clean variant doubles as the golden
    `sequences_reference` copy (FIXTURES.md §2).
    """
    n_part = partitions or max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n_rows, 1, n_part)

    source = _source_expr(seed)
    length = _len_expr(seed, source)
    tokens = F.transform(
        F.sequence(F.lit(1), length),
        lambda j: (_h(seed, F.col("id"), j) % VOCAB_SIZE).cast("int"),
    )

    df = df.select(
        F.col("id"),
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        source.alias("source"),
    )

    if violations:
        v = ViolationSpec.for_size(n_rows)

        def rng(bounds: tuple[int, int]) -> F.Column:
            return (F.col("id") >= bounds[0]) & (F.col("id") < bounds[1])

        # duplicate doc_ids in pairs, forced into the hot partition
        df = df.withColumn(
            "doc_id",
            F.when(rng(v.dup_rows), F.format_string("dup-%012d", F.col("id") - (F.col("id") % 2)))
            .when(rng(v.null_doc_rows), F.lit(None).cast("string"))
            .otherwise(F.col("doc_id")),
        ).withColumn(
            "source",
            F.when(rng(v.dup_rows), F.lit("web"))
            .when(rng(v.orphan_rows), F.lit("ghost"))
            .otherwise(F.col("source")),
        )
        # out-of-range token appended; first token perturbed vs reference
        df = df.withColumn(
            "tokens",
            F.when(rng(v.range_rows), F.concat(F.col("tokens"), F.array(F.lit(-1).cast("int"))))
            .when(
                rng(v.perturb_rows),
                F.concat(
                    F.array((F.element_at(F.col("tokens"), 1) + 1) % VOCAB_SIZE),
                    F.slice(F.col("tokens"), 2, 1_000_000),
                ),
            )
            .otherwise(F.col("tokens")),
        )
        n_tok = F.when(
            rng(v.ntok_rows), F.size(F.col("tokens")) + 1
        ).otherwise(F.size(F.col("tokens")))
    else:
        n_tok = F.size(F.col("tokens"))

    return df.select(
        "doc_id",
        "tokens",
        n_tok.cast("int").alias("n_tok"),
        "source",
    )


def gen_sources_ref(spark: SparkSession) -> DataFrame:
    """Parent table for RI checks on sequences.source (FIXTURES.md §2).

    Includes `empty_src`, a registered source with zero sequence rows, to
    exercise the row_count>0 verdict (reference row-count check precedent:
    /root/reference/src/core/profiler.py:91).

    A local frame (`sinks.local_frame`): every scan of it is in-JVM, with
    no job and no Python worker.
    """
    # lazy: sinks imports functions.expressions, which imports this module
    from dataprofiler_spark.sinks import local_frame

    rows = [(name, min_len, min_len + spread) for name, _, min_len, spread in SOURCES]
    rows.append(("empty_src", 0, 0))
    return local_frame(
        spark, rows, "source string, expected_min_tok int, expected_max_tok int"
    )
