"""Sequence packing: assign documents to fixed-size training chunks.

Pretraining consumes documents as a concatenated token stream split into
fixed context windows ("concat then chunk"). Planning that packing is a
corpus-level operation: which chunk does each document start in, how many
windows does it span, how much of the stream does a boundary split, and
how full are the chunks per source. The reference has no analog (it
validates schemas, not corpora); designed LLM-pipeline extension like
dedup/sampling/pii.

Semantics are the exact concat-then-chunk rule, NOT first-fit bin packing:
document d with stream offset `start = cumsum(tokens) - tokens_d` lands in
chunk floor(start/B) and spans through chunk floor((cumsum-1)/B). This is
deterministic, window-expressible, and what packed pretraining loaders
actually do; true first-fit needs sequential state no engine parallelizes.

Scale shape: one cumulative-sum window per group (source/shard) ordered by
the document key — the shuffle is the groupBy key, window state is one
running counter (no sort-spill risk beyond the shuffle), and chunk stats
are a bounded groupBy. Pack per source/shard (the natural unit a loader
reads) rather than one global group: a single global cumsum serializes on
one task in ANY engine — if a global stream order is required, use
range bucketing first (as sampling.select_token_budget does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataprofiler_spark.functions.expressions import words as _ws_words


def pack_chunks(
    df: DataFrame,
    tokens_col: str | Column,
    chunk_tokens: int,
    order_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Per-document chunk assignment under concat-then-chunk packing:
    adds (stream_offset, chunk_id, chunk_pos, n_chunks_spanned,
    is_boundary_split). Zero-token documents occupy no stream space:
    they land at their offset's chunk with n_chunks_spanned = 0."""
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    keys = [group_col] if group_col else []
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tok).over(w)
    start = (cum - tok).cast("long")
    b = F.lit(int(chunk_tokens))
    chunk_id = F.floor(start / b)
    end_chunk = F.floor((cum - 1) / b)
    spanned = F.when(tok > 0, end_chunk - chunk_id + 1).otherwise(F.lit(0))
    return df.select(
        *df.columns,
        start.alias("stream_offset"),
        chunk_id.alias("chunk_id"),
        (start % b).alias("chunk_pos"),
        spanned.cast("long").alias("n_chunks_spanned"),
        (spanned > 1).alias("is_boundary_split"),
    )


def packing_stats(
    df: DataFrame,
    tokens_col: str | Column,
    chunk_tokens: int,
    order_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Per-group packing plan summary: total tokens, chunk count
    (= ceil(total/B)), documents split across a chunk boundary, mean fill
    of the allocated chunks, and the tokens wasted in the final partial
    chunk. The numbers a data-loading plan is sized from."""
    packed = pack_chunks(df, tokens_col, chunk_tokens, order_col, group_col)
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    keys = [group_col] if group_col else []
    b = int(chunk_tokens)
    total = F.sum(tok)
    n_chunks = F.ceil(total / F.lit(b))
    return packed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        total.cast("long").alias("total_tokens"),
        n_chunks.cast("long").alias("n_chunks"),
        F.sum(F.col("is_boundary_split").cast("long")).alias("docs_split"),
        # an all-empty group has 0 chunks: fill is undefined (NULL), and
        # ANSI mode makes the unguarded division an ERROR, not a NaN
        F.round(
            F.when(n_chunks > 0, total / (n_chunks * F.lit(b))), 6
        ).alias("mean_fill"),
        (n_chunks * F.lit(b) - total).cast("long").alias("tail_waste_tokens"),
    )


def batch_padding_stats(
    df: DataFrame,
    tokens_col: str | Column,
    batch_size: int,
    order_col: str = "doc_id",
    group_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """Padding efficiency of fixed-size batching (the padded-batch
    alternative to concat-then-chunk): documents are grouped into batches
    of `batch_size`, every sequence pads to its batch's max length, and
    the waste is Σ(batch_max − n_tok). With `bucket_width` set, docs are
    length-bucketed FIRST (floor(n_tok/width)) and batched within their
    bucket — the standard bucketed-batching trick that collapses padding
    by batching similar lengths together. Returns per-group totals plus
    `padding_frac` (padded tokens / total batch capacity) — run with and
    without bucketing to quantify the win before committing a loader
    config.

    Shape: one row_number + one max window per (group, bucket) ordered by
    the doc key, then a bounded aggregate. Batch ids are deterministic
    (rank order), so the whole computation replays in SQL."""
    tok = (F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col).cast(
        "long"
    )
    keys = [group_col] if group_col else []
    staged = df.select(*keys, F.col(order_col).alias("__ord"), tok.alias("__tok"))
    if bucket_width is not None:
        staged = staged.withColumn(
            "__bucket", F.floor(F.col("__tok") / F.lit(int(bucket_width)))
        )
    else:
        staged = staged.withColumn("__bucket", F.lit(0))
    w = Window.partitionBy(*keys, "__bucket").orderBy("__ord")
    batched = staged.withColumn(
        "__batch", ((F.row_number().over(w) - 1) / F.lit(int(batch_size))).cast("long")
    )
    wb = Window.partitionBy(*keys, "__bucket", "__batch")
    per_row = batched.select(
        *keys,
        "__tok",
        (F.max("__tok").over(wb) - F.col("__tok")).alias("__pad"),
        F.max("__tok").over(wb).alias("__bmax"),
    )
    return per_row.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("total_tokens"),
        F.sum("__pad").alias("padded_tokens"),
        F.round(
            F.sum("__pad")
            / F.greatest(F.sum("__tok") + F.sum("__pad"), F.lit(1)),
            6,
        ).alias("padding_frac"),
    )


def chunk_windows(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
    stride: int = 8,
) -> DataFrame:
    """Overlapping fixed-width word windows per document — the RAG /
    retrieval-indexing splitter (window `window` words, hop `stride`,
    so consecutive chunks overlap by `window - stride`). Emits one row
    per (doc, chunk): (key, chunk_start, n_tokens, chunk_text).

    Pure map-side explode: the words array is materialized once
    (gotcha 8), start offsets come from `sequence(0, n-1, stride)`, and
    each slice is a bounded array op — no shuffle, no UDF; output size
    is ~n_words/stride rows per doc. Empty docs (no non-empty tokens,
    gotcha 25) emit no chunks."""
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    staged = df.withColumn(
        "__ws", _ws_words(F.col(text_col))
    ).withColumn("__n", F.size("__ws"))
    exploded = staged.filter(F.col("__n") > 0).select(
        F.col(key_col),
        F.col("__ws"),
        F.col("__n"),
        # outer: the __n > 0 gate makes the start sequence non-empty, and
        # a plain explode's inferred filter re-builds it per row (gotcha 43)
        F.explode_outer(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(int(stride)))
        ).alias("chunk_start"),
    )
    # drop strict-suffix chunks: once a chunk reaches the end of the doc,
    # every later start would emit a pure subset of it (wasted index
    # size + self-competing retrieval candidates). Keep start s iff the
    # PREVIOUS chunk (s - stride) did not already cover to the end, i.e.
    # s + window - stride < n; start 0 always survives.
    exploded = exploded.filter(
        (F.col("chunk_start") == 0)
        | (F.col("chunk_start") + F.lit(int(window) - int(stride)) < F.col("__n"))
    )
    return exploded.select(
        key_col,
        "chunk_start",
        F.least(F.lit(int(window)), F.col("__n") - F.col("chunk_start")).alias(
            "n_tokens"
        ),
        F.array_join(
            F.slice(F.col("__ws"), F.col("chunk_start") + 1, F.lit(int(window))), " "
        ).alias("chunk_text"),
    )


def materialize_packed_sequences(
    df: DataFrame,
    tokens_col: str = "tokens",
    chunk_tokens: int = 1024,
    order_col: str = "doc_id",
    group_col: str | None = None,
    pad_id: int | None = None,
) -> DataFrame:
    """Materialize the actual packed training table from per-document
    token arrays: concat-then-chunk along the deterministic `order_col`
    stream, emitting one row per chunk — ([group,] chunk_id, n_tokens,
    tokens) with every chunk exactly `chunk_tokens` long except the final
    partial (padded to full length with `pad_id` when given).

    This is the end product the rest of the pipeline exists for; its
    shape is the honest minimum: packing REQUIRES regrouping tokens
    across document boundaries, so the one shuffle here carries every
    token exactly once as a narrow (chunk, pos, token) row — map-side
    explode, hash-partition on chunk, collect exactly `chunk_tokens`
    tokens per chunk (a fixed bound, so no aggregation-buffer skew).
    Chunk offsets come from pack_chunks' per-group cumsum window
    (per-group = the scale path; a global order would serialize the
    cumsum through one task)."""
    keys = [group_col] if group_col else []
    staged = df.withColumn("__nt", F.size(F.col(tokens_col)))
    packed = pack_chunks(staged, "__nt", chunk_tokens, order_col, group_col)
    b = F.lit(int(chunk_tokens))
    exploded = packed.select(
        *keys,
        "stream_offset",
        F.posexplode(F.col(tokens_col)).alias("__i", "__tok"),
    ).select(
        *keys,
        (F.col("stream_offset") + F.col("__i")).alias("__pos"),
        "__tok",
    )
    grouped = (
        exploded.withColumn("chunk_id", F.floor(F.col("__pos") / b))
        .groupBy(*keys, "chunk_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct((F.col("__pos") % b).alias("p"), F.col("__tok").alias("t")))
                ),
                lambda x: x["t"],
            ).alias("tokens")
        )
    )
    out = grouped.withColumn("n_tokens", F.size("tokens"))
    if pad_id is not None:
        out = out.withColumn(
            "tokens",
            F.concat(
                "tokens",
                F.array_repeat(F.lit(int(pad_id)), (b - F.col("n_tokens")).cast("int")),
            ),
        )
    return out.select(*keys, "chunk_id", "n_tokens", "tokens")


def packing_sweep(
    df: DataFrame,
    tokens_col: str | Column,
    chunk_sizes: list[int],
    order_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Context-length calibration: packing_stats for a GRID of chunk
    sizes in ONE corpus pass — the sweep a pretraining team runs before
    fixing the context window (fill factor and boundary-split cost vs
    512/1k/2k/4k/8k). Returns one row per (group?, chunk_tokens):
    (chunk_tokens, n_docs, total_tokens, n_chunks, docs_split, mean_fill,
    tail_waste_tokens) — identical semantics to packing_stats at each
    size (asserted by test).

    Scale shape (the threshold_sweep pattern): the cumulative stream
    offset is computed ONCE (it is size-independent — one window per
    group, the same shuffle packing_stats already pays), then every
    (size, docs_split) cell is a conditional sum in a single hash
    aggregate; the per-size chunk math (ceil/fill/waste) is pure
    projection AFTER a `stack` unpivot of the 1-row-per-group frame.
    Never a per-size scan, never a grid×rows explode."""
    import math

    if not chunk_sizes:
        raise ValueError("chunk_sizes must be non-empty")
    bad = [b for b in chunk_sizes if not isinstance(b, int) or b <= 0 or not math.isfinite(b)]
    if bad:
        raise ValueError(f"chunk_sizes must be positive ints, got {bad}")
    if len(set(chunk_sizes)) != len(chunk_sizes):
        raise ValueError("duplicate chunk_sizes would emit duplicate grid rows")
    tok = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    keys = [group_col] if group_col else []
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        *keys,
        tok.cast("long").alias("__tok"),
        F.sum(tok).over(w).cast("long").alias("__cum"),
    )
    start = F.col("__cum") - F.col("__tok")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("__tok"), F.lit(0)).cast("long").alias("total_tokens"),
    ]
    for i, b in enumerate(chunk_sizes):
        lit_b = F.lit(int(b))
        split_b = (F.col("__tok") > 0) & (
            F.floor(start / lit_b) != F.floor((F.col("__cum") - 1) / lit_b)
        )
        aggs.append(
            F.coalesce(F.sum(split_b.cast("long")), F.lit(0)).alias(f"__split_{i}")
        )
    row = staged.groupBy(*keys).agg(*aggs)
    cells = ", ".join(
        f"CAST({int(b)} AS BIGINT), __split_{i}" for i, b in enumerate(chunk_sizes)
    )
    unpivoted = row.select(
        *keys,
        "n_docs",
        "total_tokens",
        F.expr(f"stack({len(chunk_sizes)}, {cells}) AS (chunk_tokens, docs_split)"),
    )
    total, b = F.col("total_tokens"), F.col("chunk_tokens")
    n_chunks = F.ceil(total / b)
    return unpivoted.select(
        *keys,
        "chunk_tokens",
        "n_docs",
        "total_tokens",
        n_chunks.cast("long").alias("n_chunks"),
        "docs_split",
        # all-empty group: 0 chunks -> fill undefined (NULL, ANSI-safe)
        F.round(F.when(n_chunks > 0, total / (n_chunks * b)), 6).alias("mean_fill"),
        (n_chunks * b - total).cast("long").alias("tail_waste_tokens"),
    )
