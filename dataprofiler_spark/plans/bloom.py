"""Md5 double-hashing Bloom bitmap over content digests.

`build_digest_bloom` folds a digest column into an m-bit bitmap stored as
`m / 64` (word_idx, word) rows; `bloom_probe` flags each row of another
frame `maybe_seen` through k broadcast joins of that bitmap, map-side.
A False flag is exact (no false negatives); a True flag is a hit or a
false positive, so a caller settles only the True rows with an exact
join. Bit positions are md5-derived (h1 + i*h2 mod m), so DuckDB
reproduces the bitmap bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_hash(*cols: str | Column) -> Column:
    """128-bit content fingerprint: md5 over unit-separator-joined columns."""
    return F.md5(F.concat_ws("\x1f", *[F.col(c) if isinstance(c, str) else c for c in cols]))



def _bloom_h1(digest: Column) -> Column:
    """60-bit portable hash of a 128-bit hex digest: first 15 hex chars
    (DuckDB replays it as CAST('0x' || substr(digest, 1, 15) AS BIGINT))."""
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")


def _bloom_h2(digest: Column) -> Column:
    """Second independent 60-bit hash (hex chars 16-30), forced ODD so
    the double-hashing probe sequence h1 + i*h2 cycles through all
    positions when m is a power of two."""
    h = F.conv(F.substring(digest, 16, 15), 16, 10).cast("long")
    return h - (h % 2) + 1


def build_digest_bloom(
    history_digests: DataFrame,
    digest_col: str = "digest",
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Fold the entire digest ledger into a Bloom bitmap DataFrame of
    `m_bits / 64` rows — (word_idx: long, word: long) — consumable as a
    BROADCAST side by `bloom_probe`.

    Why: at the continuous-crawl design point the ledger is 10^10-10^12
    digests (hundreds of GB narrow). `dedup_against_history` must
    shuffle-join the daily batch against all of it every run. The bloom
    collapses the ledger to m/64 longs (2^30 bits = 16 MiB — broadcast
    range) read ONCE per ledger compaction; the batch then prefilters
    map-side and only the maybe-seen sliver pays the exact anti-join.

    Scale shape: each digest contributes its k bit positions via a
    k-element posexplode (k rows of two longs — narrower than the input),
    then ONE map-side-combining bit_or aggregate per 64-bit word. No
    distinct is needed: duplicate digests OR the same bits idempotently.
    Sizing: fpp ≈ (1 - e^(-k*n/m))^k; the defaults (m=2^20, k=7) hold
    ~10^5 digests at <1%. Rebuild with larger m as the ledger grows —
    the build is one scan of the narrow ledger.

    Bit positions use portable md5-derived double hashing (h1 + i*h2
    mod m) so a DuckDB oracle reproduces the bitmap bit-for-bit."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    staged = (
        history_digests.select(F.col(digest_col).alias("__dg"))
        .withColumn("__h1", _bloom_h1(F.col("__dg")))
        .withColumn("__h2", _bloom_h2(F.col("__dg")))
    )
    pos = F.pmod(F.col("__h1") + F.col("i") * F.col("__h2"), F.lit(int(m_bits)))
    bits = staged.select(
        F.posexplode(F.array_repeat(F.lit(1), int(k))).alias("i", "__one"),
        "__h1",
        "__h2",
    ).select(
        (pos / 64).cast("long").alias("word_idx"),
        # shiftleft needs a literal shift in the Python API (gotcha 5) —
        # the SQL form takes a column expression
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(__h1 + i * __h2, {int(m_bits)}) % 64 AS INT))").alias("mask"),
    )
    return bits.groupBy("word_idx").agg(F.bit_or("mask").alias("word"))


def bloom_probe(
    new_df: DataFrame,
    bloom: DataFrame,
    cols: list[str],
    m_bits: int = 1 << 20,
    k: int = 7,
    flag_col: str = "maybe_seen",
) -> DataFrame:
    """Flag each row of `new_df` with `maybe_seen`: False = the content
    digest is DEFINITELY absent from the ledger the bloom was built over
    (no false negatives); True = present or a false positive.

    Scale shape: k chained BROADCAST hash joins of the (word_idx, word)
    bitmap — the probe is entirely map-side, zero shuffle of the batch
    (plan-gated in tests). h1/h2 are materialized once as columns
    (gotcha 8) so the md5 chain is not re-evaluated per probe."""
    staged = (
        new_df.withColumn("__dg", content_hash(*cols))
        .withColumn("__h1", _bloom_h1(F.col("__dg")))
        .withColumn("__h2", _bloom_h2(F.col("__dg")))
    )
    hit_all = F.lit(True)
    for i in range(int(k)):
        pos = F.pmod(F.col("__h1") + F.lit(i) * F.col("__h2"), F.lit(int(m_bits)))
        staged = staged.withColumn(f"__p{i}", pos)
        b = bloom.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("word").alias(f"__w{i}")
        )
        staged = staged.join(
            F.broadcast(b),
            (F.col(f"__p{i}") / 64).cast("long") == F.col(f"__wi{i}"),
            "left",
        )
        # a word with no bits set is absent from the bitmap frame -> NULL
        # word -> definitely not seen
        hit_all = hit_all & F.coalesce(
            F.expr(f"(__w{i} & shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % 64 AS INT))) != 0"),
            F.lit(False),
        )
    drop = (
        ["__dg", "__h1", "__h2"]
        + [f"__p{i}" for i in range(int(k))]
        + [f"__wi{i}" for i in range(int(k))]
        + [f"__w{i}" for i in range(int(k))]
    )
    return staged.withColumn(flag_col, hit_all).drop(*drop)
