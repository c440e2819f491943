"""Dedup operators: exact groups, MinHash-LSH candidates vs exact Jaccard,
SimHash hamming, survivor selection."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different words about spark query engines and shuffles"),
        (5, "another unrelated document regarding database constraint validation"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicate_groups(spark, docs):
    groups = exact_duplicate_groups(docs, ["text"], "doc_id").collect()
    assert len(groups) == 1
    assert groups[0].copies == 2 and groups[0].keys == [1, 2]


def test_dedup_exact_keeps_min_key(spark, docs):
    out = dedup_exact(docs, ["text"], "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 3, 4, 5}  # 2 dropped, min-key survivor kept


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    row = df.select(word_shingles("t", 3).alias("s")).collect()[0]
    assert sorted(row.s) == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "t string")
    assert short.select(word_shingles("t", 3).alias("s")).collect()[0].s == ["a b"]


def test_minhash_identical_docs_equal_sigs(spark, docs):
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in docs.select("doc_id", minhash_signature("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]
    # near-dup shares most hash mins; disjoint docs share none
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_near > shared_far


def test_lsh_candidates_contain_true_pairs(spark, docs):
    pairs = {(r.key1, r.key2) for r in lsh_candidate_pairs(docs, "doc_id").collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides in ≥1 band
    assert (4, 5) not in pairs  # disjoint docs don't


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → J = 1/3
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id int, text string")
    rows = ngram_jaccard_pairs(df, "doc_id", threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0].jaccard == pytest.approx(1 / 3, abs=1e-6)


def test_ngram_jaccard_hot_shingle_cap(spark):
    df = spark.createDataFrame(
        [(i, "common shingle here unique" + str(i)) for i in range(10)],
        "doc_id int, text string",
    )
    # 'common shingle here' appears in all 10 docs → capped out → no pairs
    out = ngram_jaccard_pairs(df, "doc_id", threshold=0.0, max_shingle_doc_freq=5)
    assert out.count() == 0


def test_simhash_near_dup(spark):
    # long docs: one changed word out of 64 → few bit flips (simhash is
    # noisy on short texts where per-bit margins are ±1)
    base = " ".join(f"word{i}" for i in range(64))
    rows = [
        (1, base),
        (2, base),  # identical
        (3, base.replace("word63", "changed")),  # near dup
        (4, " ".join(f"other{i}" for i in range(64))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r.key1, r.key2): r.hamming for r in
             simhash_near_dup_pairs(df, "doc_id", max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0  # identical text → identical simhash
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 16
    assert (1, 4) not in pairs


def test_simhash_hot_bucket_cap(spark):
    """A degenerate hot bucket (many identical docs → same simhash → all 4
    chunks collide) must be dropped by max_bucket_size before the quadratic
    pair expansion; distinct near-dups in small buckets survive."""
    hot = [(i, "boiler plate text repeated everywhere") for i in range(20)]
    base = " ".join(f"word{i}" for i in range(64))
    rows = hot + [(100, base), (101, base)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    capped = {
        (r.key1, r.key2)
        for r in simhash_near_dup_pairs(df, "doc_id", max_bucket_size=10).collect()
    }
    assert capped == {(100, 101)}  # hot bucket dropped, small bucket kept
    uncapped = simhash_near_dup_pairs(df, "doc_id", max_bucket_size=1000).count()
    assert uncapped == 20 * 19 // 2 + 1  # the quadratic expansion the cap avoids


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable checkpoints:
    results identical, checkpoint files actually written to the dir."""
    import os

    from dataprofiler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "key1 bigint, key2 bigint"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    comp = {
        r.node: r.component
        for r in connected_components(pairs, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    written = [
        os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint wrote nothing to checkpoint_dir"


def test_connected_components_exhaustion_raises(spark):
    """Exhausting max_iterations before the fixpoint must NOT silently
    return split clusters: default raises; on_max_iterations='warn' warns
    and returns the (possibly unconverged) labels."""
    import warnings

    import pytest

    from dataprofiler_spark.operators import dedup
    from dataprofiler_spark.operators.dedup import connected_components

    # chain of diameter 7: min-label needs ~7 propagation rounds. The
    # r6 driver union-find shortcut solves small edge lists exactly
    # (no iteration limit applies) — force the DISTRIBUTED loop, whose
    # exhaustion guard this test pins, by zeroing the shortcut bound.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "key1 bigint, key2 bigint"
    )
    # shortcut path: exact answer regardless of max_iterations, no raise
    comp = {r.node: r.component for r in connected_components(chain, max_iterations=2).collect()}
    assert set(comp.values()) == {1}
    old = dedup.CC_DRIVER_EDGE_THRESHOLD
    dedup.CC_DRIVER_EDGE_THRESHOLD = -1
    try:
        with pytest.raises(RuntimeError, match="fixpoint"):
            connected_components(chain, max_iterations=2)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = connected_components(chain, max_iterations=2, on_max_iterations="warn")
            out.collect()
            assert any("fixpoint" in str(x.message) for x in w)
        # enough rounds → converges, no error
        comp = {r.node: r.component for r in connected_components(chain, max_iterations=10).collect()}
        assert set(comp.values()) == {1}
    finally:
        dedup.CC_DRIVER_EDGE_THRESHOLD = old


def test_lsh_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    cand = lsh_candidate_pairs(docs, "doc_id", num_hashes=16, bands=8)
    verified = ngram_jaccard_pairs(docs, "doc_id", threshold=0.2)
    cand_pairs = {(r.key1, r.key2) for r in cand.collect()}
    true_pairs = {(r.key1, r.key2) for r in verified.collect()}
    assert len(true_pairs) == 25  # injected near-dups in testdata
    recall = len(cand_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall} over {len(cand_pairs)} candidates"


def test_connected_components_chain_and_clique(spark):
    """Transitive chains collapse to one component (min-label), cliques
    too, disjoint groups stay apart; a long chain needs multiple
    propagation rounds (diameter > 1)."""
    from dataprofiler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "key1 bigint, key2 bigint",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {comp[i] for i in (10, 11, 12)} == {10}
    assert {comp[i] for i in (20, 21)} == {20}


def test_dedup_clusters_transitive_group(spark):
    """a~b and b~c as near-dups must cluster {a,b,c} together with ONE
    survivor even when a~c is not itself a candidate pair."""
    from dataprofiler_spark.operators.dedup import dedup_clusters

    base = " ".join(f"tok{i}" for i in range(40))
    b = base.replace("tok5", "x5")            # near a
    c = b.replace("tok35", "y35")             # near b, 2 edits from a
    rows = [(1, base), (2, b), (3, c), (4, " ".join(f"other{i}" for i in range(40)))]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.node: (r.component, r.is_survivor)
           for r in dedup_clusters(df, "doc_id", num_hashes=16, bands=8).collect()}
    assert set(out) >= {1, 2, 3}
    assert {out[i][0] for i in (1, 2, 3)} == {1}
    assert [i for i in (1, 2, 3) if out[i][1]] == [1]  # single survivor
    assert 4 not in out  # no near-dup pair → not in any cluster


def test_connected_components_star_matches_label_and_handles_long_chains(spark):
    """The alternating large/small-star variant must (a) agree with
    min-label propagation on arbitrary graphs, (b) converge in O(log n)
    rounds on a 300-hop chain where 15 label-propagation rounds cannot."""
    import random

    from dataprofiler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    # randomized graphs, seeded: star must equal label propagation exactly
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        df = spark.createDataFrame(edges, "key1 bigint, key2 bigint")
        label = {r.node: r.component for r in connected_components(df, max_iterations=50).collect()}
        star = {r.node: r.component for r in connected_components_star(df).collect()}
        assert star == label, f"trial {trial}"

    # 300-hop chain: diameter 299. Label propagation with 15 rounds raises;
    # the star variant converges (O(log n) rounds) and finds one component.
    # (distributed loops forced: the driver shortcut would solve both)
    from dataprofiler_spark.operators import dedup as _dd
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "key1 bigint, key2 bigint"
    )
    old = _dd.CC_DRIVER_EDGE_THRESHOLD
    _dd.CC_DRIVER_EDGE_THRESHOLD = -1
    try:
        with pytest.raises(RuntimeError, match="fixpoint"):
            connected_components(chain, max_iterations=15)
        comp = {r.node: r.component for r in connected_components_star(chain, max_iterations=15).collect()}
    finally:
        _dd.CC_DRIVER_EDGE_THRESHOLD = old
    assert len(comp) == 301 and set(comp.values()) == {0}


def test_connected_components_string_keys(spark):
    """BASELINE.json's input schema is doc_id:string — both CC variants
    must converge on string node keys (the old Σcomp convergence scalar
    was numeric-only; the fingerprint test is type-agnostic). Component
    label = lexicographic min id."""
    from dataprofiler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        # chain d1-d2-d3-d4 (diameter 3), pair {x1,x2}
        [("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("x1", "x2")],
        "key1 string, key2 string",
    )
    for fn in (connected_components, connected_components_star):
        comp = {r.node: r.component for r in fn(pairs).collect()}
        assert {comp[k] for k in ("d1", "d2", "d3", "d4")} == {"d1"}, fn.__name__
        assert {comp[k] for k in ("x1", "x2")} == {"x1"}, fn.__name__


def test_dedup_clusters_string_doc_ids(spark, docs):
    """End-to-end near-dup clustering on a STRING doc_id (the declared
    input schema) — exercises the string-keyed convergence fingerprint on
    the real LSH → CC path."""
    from dataprofiler_spark.operators.dedup import dedup_clusters

    sdocs = docs.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 4, "0")).alias("doc_id"),
        "text",
    )
    out = {r.node: (r.component, r.is_survivor)
           for r in dedup_clusters(sdocs, "doc_id", num_hashes=16, bands=8).collect()}
    assert {"doc-0001", "doc-0002", "doc-0003"} <= set(out)
    assert {out[k][0] for k in ("doc-0001", "doc-0002", "doc-0003")} == {"doc-0001"}
    assert [k for k in sorted(out) if out[k][1]] == ["doc-0001"]


def test_exact_duplicate_groups_capped_keys(spark):
    """max_keys bounds the per-group key sample (the viral-content OOM
    guard) while `copies` stays exact; keys are the smallest of the
    group; default stays complete."""
    rows = [(i, "same text") for i in range(20)] + [(100, "other"), (101, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.text_hash: r for r in exact_duplicate_groups(df, ["text"], "doc_id", max_keys=3).collect()}
    assert len(out) == 2
    big = next(r for r in out.values() if r.copies == 20)
    assert big.keys == [0, 1, 2]
    small = next(r for r in out.values() if r.copies == 2)
    assert small.keys == [100, 101]
    full = {r.copies: r.keys for r in exact_duplicate_groups(df, ["text"], "doc_id").collect()}
    assert full[20] == list(range(20))


def test_paragraph_dedup_first_occurrence(spark):
    from dataprofiler_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta"),
        (3, "delta\n\nalpha\nepsilon"),  # empty pseudo-para dropped
        (4, ""),  # no non-empty paragraphs at all
        (5, "beta\nbeta"),  # every copy already seen at doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in paragraph_dedup(df, "doc_id").collect()}
    assert out[1].text_out == "alpha\nbeta\ngamma" and out[1].n_removed == 0
    assert out[2].text_out == "delta" and out[2].n_removed == 1
    assert (out[3].n_paras, out[3].n_kept, out[3].text_out) == (3, 1, "epsilon")
    assert (out[4].n_paras, out[4].text_out) == (0, "")
    assert (out[5].n_kept, out[5].n_removed) == (0, 2)


def test_paragraph_dedup_within_doc_duplicate(spark):
    from dataprofiler_spark.operators.dedup import paragraph_dedup

    # a paragraph repeated INSIDE one doc keeps only its first index
    df = spark.createDataFrame(
        [(7, "x\ny\nx\nz\nx")], "doc_id int, text string"
    )
    out = paragraph_dedup(df, "doc_id").collect()[0]
    assert out.text_out == "x\ny\nz"
    assert (out.n_paras, out.n_kept, out.n_removed) == (5, 3, 2)


def test_paragraph_dedup_string_keys_order(spark):
    from dataprofiler_spark.operators.dedup import paragraph_dedup

    # first occurrence is ordered by (key, idx) under the key's own type
    # ordering — string keys order lexicographically
    df = spark.createDataFrame(
        [("b", "dup"), ("a", "dup\nown")], "doc_id string, text string"
    )
    out = {r.doc_id: r for r in paragraph_dedup(df, "doc_id").collect()}
    assert out["a"].text_out == "dup\nown"
    assert out["b"].text_out == "" and out["b"].n_removed == 1


def test_paragraph_dedup_no_rank_window(spark):
    from dataprofiler_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame([(1, "a\nb")], "doc_id int, text string")
    plan = paragraph_dedup(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
    # the first-occurrence decision must be an aggregate, never a rank
    # window over a paragraph's (possibly viral) duplicate set
    assert "Window" not in plan


def test_paragraph_dedup_null_text(spark):
    from dataprofiler_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, None), (2, "keep\nme")], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in paragraph_dedup(df, "doc_id").collect()}
    assert (out[1].n_paras, out[1].n_kept, out[1].n_removed, out[1].text_out) == (0, 0, 0, "")
    assert out[2].text_out == "keep\nme"


def test_remove_duplicated_spans_basic(spark):
    from dataprofiler_spark.operators.dedup import remove_duplicated_spans

    rows = [
        (1, "nav home about contact the real content of page one"),
        (2, "nav home about contact something different entirely here"),
        (3, "nav home about contact yet another unique body text"),
        (4, "totally unrelated short doc"),
        (5, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in
           remove_duplicated_spans(df, "doc_id", shingle_k=3, max_span_doc_freq=2).collect()}
    # the shared 4-word chrome is covered by two overlapping hot 3-grams
    assert out[1].text_out == "the real content of page one"
    assert (out[1].n_words, out[1].n_removed_words) == (10, 4)
    assert out[2].n_removed_words == 4 and out[3].n_removed_words == 4
    assert out[4].n_removed_words == 0 and out[5].text_out == "tiny"


def test_remove_duplicated_spans_whole_doc_covered(spark):
    from dataprofiler_spark.operators.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [(i, "all rights reserved") for i in range(4)], "doc_id int, text string"
    )
    out = remove_duplicated_spans(df, "doc_id", shingle_k=3, max_span_doc_freq=2).collect()
    for r in out:
        assert (r.n_words, r.n_removed_words, r.text_out) == (3, 3, "")


def test_paragraph_near_dup_pairs_exact_copies_collide(spark):
    from dataprofiler_spark.operators.dedup import paragraph_near_dup_pairs

    long_a = "the quick brown fox jumps over the lazy dog tonight"
    long_b = "completely different paragraph about spark query planning"
    rows = [
        (1, long_a + "\n" + long_b),
        (2, long_a + "\nunrelated filler paragraph of words"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r.key1, r.key2) for r in
             paragraph_near_dup_pairs(df, "doc_id", num_hashes=16, bands=8).collect()}
    assert ("1:0", "2:0") in pairs  # the exact copy collides in every band
    assert all(not (a.startswith("1:1") and b.startswith("2:1")) for a, b in pairs)


def test_duplication_weights_inverse_group_size(spark):
    """Weight = 1/|exact-dup group|: singletons keep full mass, a pair
    gets 0.5 each, a triple 0.333333 each; per-group mass sums to 1."""
    from dataprofiler_spark.operators.dedup import duplication_weights

    rows = [(1, "a"), (2, "b"), (3, "b"), (4, "c"), (5, "c"), (6, "c")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.weight
           for r in duplication_weights(df, ["text"]).collect()}
    assert out[1] == 1.0
    assert out[2] == out[3] == 0.5
    assert out[4] == out[5] == out[6] == 0.333333


def test_cluster_weights_from_dedup_clusters(spark):
    """cluster_weights composes with the dedup_clusters assignment frame:
    every member of a near-dup cluster is downweighted by cluster size."""
    from dataprofiler_spark.operators.dedup import cluster_weights, dedup_clusters

    base = " ".join(f"tok{i}" for i in range(40))
    b = base.replace("tok5", "x5")
    c = b.replace("tok35", "y35")
    df = spark.createDataFrame(
        [(1, base), (2, b), (3, c)], "doc_id bigint, text string"
    )
    clusters = dedup_clusters(df, "doc_id", num_hashes=16, bands=8)
    out = {r.node: r.weight
           for r in cluster_weights(clusters, cluster_col="component").collect()}
    assert out == {1: 0.333333, 2: 0.333333, 3: 0.333333}


def test_near_dup_against_history_band_collision(spark):
    """A new doc that is a near-copy of a historical doc collides with the
    stored band ledger; unrelated docs do not. Exact copies hit ALL bands."""
    from dataprofiler_spark.operators.dedup import (
        minhash_band_frame,
        near_dup_against_history,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok5", "x5")
    hist = spark.createDataFrame([(100, base)], "doc_id bigint, text string")
    ledger = minhash_band_frame(hist, "doc_id", num_hashes=16, bands=8)
    new = spark.createDataFrame(
        [(200, base),   # exact copy -> all 8 bands hit
         (201, near),   # near copy -> >=1 band hit
         (202, " ".join(f"other{i}" for i in range(40)))],  # unrelated
        "doc_id bigint, text string",
    )
    out = {r.key: (r.n_hit_bands, r.example_hist_key)
           for r in near_dup_against_history(new, ledger, "doc_id",
                                             num_hashes=16, bands=8).collect()}
    assert out[200] == (8, 100)
    assert 201 in out and 1 <= out[201][0] <= 8 and out[201][1] == 100
    assert 202 not in out


def test_minhash_band_frame_matches_signature(spark):
    """The band ledger's hashes must equal md5 over the signature slices —
    the persisted-ledger format and the inline pair path stay in lockstep."""
    from dataprofiler_spark.operators.dedup import minhash_band_frame, minhash_signature

    df = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id bigint, text string"
    )
    sig = df.select(minhash_signature("text", num_hashes=4).alias("s")).collect()[0].s
    bands = {(r.band_id, r.band_hash)
             for r in minhash_band_frame(df, "doc_id", num_hashes=4, bands=2).collect()}
    import hashlib
    expected = {
        (b, hashlib.md5(f"{sig[2*b]},{sig[2*b+1]}".encode()).hexdigest())
        for b in range(2)
    }
    assert bands == expected


def test_cross_source_overlap_hand_computed(spark):
    """Three sources with one known shared shingle: only the overlapping
    pair appears, with exact distinct-shingle counts and Jaccard /
    overlap coefficients."""
    from dataprofiler_spark.operators.dedup import cross_source_overlap

    rows = [
        (1, "A", "a b c d"),  # shingles: "a b c", "b c d"
        (2, "B", "a b c x"),  # shingles: "a b c", "b c x"
        (3, "C", "z z z q"),  # shingles: "z z z", "z z q" — no overlap
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = cross_source_overlap(df)
    pairs = {(r.source_a, r.source_b): r for r in out.collect()}
    assert set(pairs) == {("A", "B")}
    r = pairs[("A", "B")]
    assert (r.n_a, r.n_b, r.n_common) == (2, 2, 1)
    assert r.jaccard == round(1 / 3, 6)
    assert r.overlap_coef == 0.5


def test_cross_source_overlap_whitespace_robust(spark):
    """Formatting (newlines/tabs) must not change the overlap matrix —
    the shingles ride the shared whitespace-robust tokenizer."""
    from dataprofiler_spark.operators.dedup import cross_source_overlap

    clean = spark.createDataFrame(
        [(1, "A", "a b c d"), (2, "B", "a b c d")],
        "doc_id long, source string, text string",
    )
    messy = spark.createDataFrame(
        [(1, "A", "a\nb\tc  d"), (2, "B", "a b\n\nc d")],
        "doc_id long, source string, text string",
    )
    a = cross_source_overlap(clean).collect()[0]
    b = cross_source_overlap(messy).collect()[0]
    assert (a.n_a, a.n_b, a.n_common, a.jaccard) == (
        b.n_a,
        b.n_b,
        b.n_common,
        b.jaccard,
    )
    assert a.jaccard == 1.0


def test_duplicate_group_size_histogram(spark):
    """[x,x,x,y,y,z] → one size-3 group, one size-2, one size-1, with
    corpus shares summing to 1."""
    from dataprofiler_spark.operators.dedup import duplicate_group_size_histogram

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["x", "x", "x", "y", "y", "z"])],
        "doc_id long, text string",
    )
    rows = {r.group_size: r for r in duplicate_group_size_histogram(df).collect()}
    assert {k: (rows[k].n_groups, rows[k].n_docs) for k in rows} == {
        3: (1, 3),
        2: (1, 2),
        1: (1, 1),
    }
    assert abs(sum(r.frac_docs for r in rows.values()) - 1.0) < 1e-6


def test_cluster_survivors_priority_and_ties(spark):
    """The survivor is the highest-priority member; equal priorities fall
    back to the min key; non-clustered (absent) and unscored nodes drop."""
    from dataprofiler_spark.operators.dedup import cluster_survivors

    assignments = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2)],
        "node long, component long",
    )
    scores = spark.createDataFrame(
        [(10, 5.0), (11, 9.0), (12, 9.0), (20, 3.0), (21, 3.0), (99, 100.0)],
        "doc_id long, priority double",
    )
    out = {
        r.node: r
        for r in cluster_survivors(assignments, scores, "priority").collect()
    }
    assert set(out) == {10, 11, 12, 20, 21}  # 99 is not clustered
    survivors = {n for n, r in out.items() if r.is_survivor}
    # cluster 1: 11 and 12 tie at 9.0 -> min key 11; cluster 2: tie -> 20
    assert survivors == {11, 20}
    assert out[10].priority == 5.0 and out[11].component == 1


def test_containment_catches_superset_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment 1.0
    while Jaccard stays below any useful threshold — the case the
    asymmetric operator exists for."""
    from dataprofiler_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [(1, short), (2, short + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = ngram_containment_pairs(df, "doc_id", threshold=0.8).collect()
    assert len(cont) == 1
    r = cont[0]
    assert r.containment == 1.0  # every shingle of doc 1 is inside doc 2
    assert r.containment_1 == 1.0 and r.containment_2 < 0.1
    jac = ngram_jaccard_pairs(df, "doc_id", threshold=0.2).collect()
    assert jac == []  # Jaccard misses the superset at any sane threshold


def test_driver_cc_shortcut_matches_distributed(spark):
    """r6: the driver union-find shortcut must produce EXACTLY the
    distributed loop's labels (node -> min component member), including
    on string keys."""
    import random

    from dataprofiler_spark.operators import dedup
    from dataprofiler_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    for schema, rows in (
        ("key1 bigint, key2 bigint", edges),
        ("key1 string, key2 string", [(f"d{a:03d}", f"d{b:03d}") for a, b in edges]),
    ):
        df = spark.createDataFrame(rows, schema)
        fast = {r.node: r.component for r in connected_components(df).collect()}
        old = dedup.CC_DRIVER_EDGE_THRESHOLD
        dedup.CC_DRIVER_EDGE_THRESHOLD = -1
        try:
            slow = {r.node: r.component for r in connected_components(df, max_iterations=50).collect()}
        finally:
            dedup.CC_DRIVER_EDGE_THRESHOLD = old
        assert fast == slow


def test_shingle_hash_rows_matches_hof_form(spark):
    """The lead-window shingle rows must be BAG-identical to
    explode(word_shingle_hashes(...)) for every k, including the
    whole-doc fallback (n < k), empty and whitespace-only docs — the
    short-doc case rides the same window stream via concat_ws's
    NULL-skipping, so this differential pins that equivalence."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.dedup import (
        _ws_words,
        shingle_hash_rows,
        word_shingle_hashes,
    )

    rows = [
        (1, ""),
        (2, "one"),
        (3, "two words"),
        (4, "now three words"),
        (5, "a much longer doc with many words in it"),
        (6, "   \n\t  "),
        (7, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (1, 2, 3, 5):
        old = df.select(
            F.col("doc_id").alias("key"),
            F.explode_outer(
                word_shingle_hashes(_ws_words(F.col("text")), k)
            ).alias("s"),
        )
        new = shingle_hash_rows(df, "doc_id", "text", k)
        assert old.exceptAll(new).count() == 0, k
        assert new.exceptAll(old).count() == 0, k
