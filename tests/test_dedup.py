"""Dedup operators: exact groups, MinHash-LSH candidates vs exact Jaccard,
connected components, survivor selection."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.dedup import (
    dedup_exact,
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signature,
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
    from collections import Counter
    from itertools import combinations

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    cand = lsh_candidate_pairs(docs, "doc_id", num_hashes=16, bands=8)
    cand_pairs = {(r.key1, r.key2) for r in cand.collect()}
    # ground truth: exact 3-shingle Jaccard >= 0.2 over every pair,
    # intersections counted through a shingle -> docs index
    sets = {
        r.doc_id: set(r.s)
        for r in docs.select("doc_id", word_shingles("text", 3).alias("s")).collect()
    }
    by_shingle: dict = {}
    for d, ss in sets.items():
        for sh in ss:
            by_shingle.setdefault(sh, []).append(d)
    inter = Counter(
        pair
        for ds in by_shingle.values()
        for pair in combinations(sorted(ds), 2)
    )
    true_pairs = {
        (a, b)
        for (a, b), i in inter.items()
        if i / (len(sets[a]) + len(sets[b]) - i) >= 0.2
    }
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
