"""Concat-then-chunk sequence packing (operators/packing.py)."""

from pyspark.sql import functions as F

from dataprofiler_spark.operators.packing import pack_chunks, packing_stats


def _docs(spark, toks, source="s"):
    return spark.createDataFrame(
        [(i, source, t) for i, t in enumerate(toks)],
        "doc_id long, source string, n_tok long",
    )


def test_chunk_assignment_exact(spark):
    """300-token docs into 1024-token chunks: offsets 0,300,...; doc 3
    (offset 900 → 1200) straddles the first boundary."""
    out = {r.doc_id: r for r in
           pack_chunks(_docs(spark, [300] * 10), "n_tok", 1024,
                       group_col="source").collect()}
    assert out[0].stream_offset == 0 and out[0].chunk_id == 0
    assert out[3].stream_offset == 900 and out[3].chunk_id == 0
    assert out[3].n_chunks_spanned == 2 and out[3].is_boundary_split
    assert out[4].chunk_id == 1 and out[4].chunk_pos == 1200 % 1024


def test_doc_longer_than_chunk_spans_many(spark):
    out = pack_chunks(_docs(spark, [5000]), "n_tok", 1024).collect()[0]
    assert out.n_chunks_spanned == 5  # ceil(5000/1024)


def test_zero_token_doc_occupies_nothing(spark):
    out = {r.doc_id: r for r in
           pack_chunks(_docs(spark, [100, 0, 100]), "n_tok", 1024).collect()}
    assert out[1].n_chunks_spanned == 0 and not out[1].is_boundary_split
    assert out[2].stream_offset == 100  # the empty doc consumed no stream


def test_packing_stats(spark):
    s = packing_stats(_docs(spark, [300] * 10), "n_tok", 1024,
                      group_col="source").collect()[0]
    assert s.total_tokens == 3000 and s.n_chunks == 3
    assert s.docs_split == 2  # docs at offsets 900 and 1800
    assert s.tail_waste_tokens == 3 * 1024 - 3000
    assert abs(s.mean_fill - 3000 / (3 * 1024)) < 1e-6


def test_groups_pack_independently(spark):
    a = _docs(spark, [600] * 4, "a")
    b = _docs(spark, [600] * 4, "b")
    out = pack_chunks(a.unionByName(b), "n_tok", 1024, group_col="source")
    firsts = {r.source: r.stream_offset for r in
              out.filter(F.col("doc_id") == 0).collect()}
    assert firsts == {"a": 0, "b": 0}  # each source starts its own stream


def test_batch_padding_stats_exact_and_bucketed_win(spark):
    """Exact padded-token math for known batches; length-bucketing
    strictly reduces padding on a bimodal corpus."""
    from dataprofiler_spark.operators.packing import batch_padding_stats

    # bimodal: alternating short (10) and long (1000) docs
    docs = spark.createDataFrame(
        [(i, "s", 10 if i % 2 == 0 else 1000) for i in range(8)],
        "doc_id long, source string, n_tok long",
    )
    # batch_size 2, unbucketed, ordered by doc_id: every batch = (10, 1000)
    # -> pad 990 per batch x 4 batches
    un = batch_padding_stats(docs, "n_tok", 2, group_col="source").collect()[0]
    assert un.padded_tokens == 990 * 4
    # capacity = sum(tok) + sum(pad) = 4040 + 3960 = 8000 = 4 batches x 2 x 1000
    assert un.total_tokens == 4040 and un.padding_frac == round(3960 / 8000, 6)

    # bucketed by width 100: shorts batch with shorts -> zero padding
    b = batch_padding_stats(
        docs, "n_tok", 2, group_col="source", bucket_width=100
    ).collect()[0]
    assert b.padded_tokens == 0 and b.padding_frac == 0.0

    # ragged final batch still pads to ITS max, not the global max
    three = spark.createDataFrame(
        [(1, "s", 5), (2, "s", 7), (3, "s", 9)],
        "doc_id long, source string, n_tok long",
    )
    r = batch_padding_stats(three, "n_tok", 2, group_col="source").collect()[0]
    # batches: (5,7) pad 2; (9) pad 0
    assert r.padded_tokens == 2


def test_chunk_windows_exact_slices(spark):
    """Window 4 / stride 3: starts 0,3,... chunk text and n_tokens match
    hand-computed slices; a start whose chunk would be a strict suffix of
    the previous chunk (start 6 here: 'w6' ⊂ 'w3 w4 w5 w6') is dropped —
    standard splitter semantics, no self-competing retrieval chunks."""
    from dataprofiler_spark.operators.packing import chunk_windows

    text = "w0 w1 w2 w3 w4 w5 w6"  # 7 words
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        chunk_windows(df, window=4, stride=3).collect(),
        key=lambda r: r.chunk_start,
    )
    got = [(r.chunk_start, r.n_tokens, r.chunk_text) for r in rows]
    assert got == [
        (0, 4, "w0 w1 w2 w3"),
        (3, 4, "w3 w4 w5 w6"),
    ]


def test_chunk_windows_tail_kept_when_new_content(spark):
    """8 words, window 4 / stride 3: chunk at start 6 carries words the
    previous chunk did not reach (w7) — kept, short, never empty."""
    from dataprofiler_spark.operators.packing import chunk_windows

    text = "w0 w1 w2 w3 w4 w5 w6 w7"  # 8 words
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        chunk_windows(df, window=4, stride=3).collect(),
        key=lambda r: r.chunk_start,
    )
    got = [(r.chunk_start, r.n_tokens, r.chunk_text) for r in rows]
    assert got == [
        (0, 4, "w0 w1 w2 w3"),
        (3, 4, "w3 w4 w5 w6"),
        (6, 2, "w6 w7"),
    ]


def test_chunk_windows_empty_and_validation(spark):
    from dataprofiler_spark.operators.packing import chunk_windows

    df = spark.createDataFrame(
        [(1, "   "), (2, "only one  word")], "doc_id bigint, text string"
    )
    rows = chunk_windows(df, window=5, stride=5).collect()
    # doc 1 has no non-empty tokens -> no chunks; doc 2 -> one chunk of 3
    assert [(r.doc_id, r.n_tokens, r.chunk_text) for r in rows] == [
        (2, 3, "only one word")
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_windows(df, window=4, stride=5)


def test_materialize_packed_sequences_exact_chunks(spark):
    """Chunk contents must be the exact concat-then-chunk stream: docs
    concatenated in key order, sliced every B tokens; boundary-spanning
    docs split across chunks; final partial chunk short (or padded)."""
    from dataprofiler_spark.operators.packing import materialize_packed_sequences

    rows = [(1, "s", [1, 2, 3]), (2, "s", [4, 5]), (3, "s", [6, 7, 8, 9]),
            (4, "t", [10])]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
    out = {(r.source, r.chunk_id): (r.n_tokens, r.tokens)
           for r in materialize_packed_sequences(
               df, chunk_tokens=4, group_col="source").collect()}
    assert out == {
        ("s", 0): (4, [1, 2, 3, 4]),
        ("s", 1): (4, [5, 6, 7, 8]),
        ("s", 2): (1, [9]),
        ("t", 0): (1, [10]),
    }
    padded = {(r.source, r.chunk_id): r.tokens
              for r in materialize_packed_sequences(
                  df, chunk_tokens=4, group_col="source", pad_id=0).collect()}
    assert padded[("s", 2)] == [9, 0, 0, 0] and padded[("t", 0)] == [10, 0, 0, 0]
    # every padded chunk is exactly B long
    assert all(len(t) == 4 for t in padded.values())


def test_materialize_packed_skips_empty_docs(spark):
    from dataprofiler_spark.operators.packing import materialize_packed_sequences

    df = spark.createDataFrame(
        [(1, [7, 8]), (2, []), (3, [9])], "doc_id long, tokens array<int>"
    )
    out = {r.chunk_id: r.tokens
           for r in materialize_packed_sequences(df, chunk_tokens=2).collect()}
    # empty doc occupies no stream space: 7,8 | 9
    assert out == {0: [7, 8], 1: [9]}


def test_tokenized_docs_to_packed_sequences_composition(spark):
    """End-to-end product drive: split every document into words, map
    words to ids, materialize packed chunks. Token mass is conserved and
    every chunk is full except each group's final partial — the
    documents->training-batches path in one flow."""
    from dataprofiler_spark.operators.packing import materialize_packed_sequences

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .limit(120)
    )
    toks = docs.withColumn(
        "tokens",
        F.transform(
            F.split(F.trim("text"), r"\s+"),
            lambda t: (F.xxhash64(t) % 50257).cast("int"),
        ),
    )
    total = toks.agg(F.sum(F.size("tokens"))).collect()[0][0]
    packed = materialize_packed_sequences(
        toks.select("doc_id", "source", "tokens"),
        chunk_tokens=256,
        group_col="source",
    )
    rows = packed.collect()
    assert sum(r.n_tokens for r in rows) == total
    last = {}
    for r in rows:
        last[r.source] = max(last.get(r.source, -1), r.chunk_id)
    for r in rows:
        if r.chunk_id < last[r.source]:
            assert r.n_tokens == 256
        assert len(r.tokens) == r.n_tokens


def test_packing_sweep_matches_packing_stats_per_size(spark):
    """One-pass sweep == per-size packing_stats, size by size."""
    from dataprofiler_spark.operators.packing import packing_stats, packing_sweep

    rows = [(i, f"s{i % 3}", 10 + (i * 7) % 50) for i in range(200)] + [
        (900, "s0", 0),  # zero-token doc
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_tok bigint")
    sizes = [32, 128, 512]
    sweep = {
        (r.source, r.chunk_tokens): r
        for r in packing_sweep(df, "n_tok", sizes, "doc_id", "source").collect()
    }
    for b in sizes:
        for r in packing_stats(df, "n_tok", b, "doc_id", "source").collect():
            s = sweep[(r.source, b)]
            assert (s.n_docs, s.total_tokens, s.n_chunks, s.docs_split) == (
                r.n_docs, r.total_tokens, r.n_chunks, r.docs_split
            ), (r.source, b)
            assert s.mean_fill == r.mean_fill and s.tail_waste_tokens == r.tail_waste_tokens
    assert len(sweep) == 3 * len(sizes)


def test_packing_sweep_validation_and_empty(spark):
    import pytest as _pytest

    from dataprofiler_spark.operators.packing import packing_sweep

    df = spark.createDataFrame([], "doc_id bigint, n_tok bigint")
    with _pytest.raises(ValueError, match="non-empty"):
        packing_sweep(df, "n_tok", [])
    with _pytest.raises(ValueError, match="positive"):
        packing_sweep(df, "n_tok", [0, 64])
    with _pytest.raises(ValueError, match="duplicate"):
        packing_sweep(df, "n_tok", [64, 64])
    # global group (no group_col), empty input: one row per size with
    # zero counts and NULL fill (ANSI-safe)
    rows = packing_sweep(df, "n_tok", [64, 256]).collect()
    assert {r.chunk_tokens for r in rows} == {64, 256}
    assert all(
        (r.n_docs, r.total_tokens, r.docs_split, r.mean_fill) == (0, 0, 0, None)
        for r in rows
    )
