"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (it has no dedup at all), these are the
first-class operators a 100 TB corpus pipeline needs: exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification. All are
pure DataFrame plans — the only shuffles are the groupBys/joins stated in
each docstring; no Python UDFs anywhere.

Scale design notes:
* exact dedup: one shuffle on a 128-bit content hash (not the full text).
* MinHash LSH: signatures are computed map-side from shingle arrays with
  expression-only hashing; the candidate join shuffles (band_id, band_hash)
  keys — O(rows·bands) small fixed-width rows, never text.
* n-gram Jaccard: the exact verifier; its shingle self-join is guarded by a
  document-frequency cap on shingles (hot-shingle quadratic blowup is the
  classic failure at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataprofiler_spark.functions.expressions import words as _ws_words
from dataprofiler_spark.plans.bloom import bloom_probe, build_digest_bloom, content_hash

# 31-bit Mersenne prime for the minhash universal-hash family: with
# x, a, b < 2^31 the product a·x stays under 2^62 — no int64 overflow
# inside Spark OR DuckDB (both use Java/C++ 64-bit signed math).
_MERSENNE = (1 << 31) - 1


def exact_duplicate_groups(
    df: DataFrame, cols: list[str], key_col: str, max_keys: int | None = None
) -> DataFrame:
    """Exact dedup via hash-groupBy: (text_hash, copies, keys) for groups
    with >1 member. One shuffle on the hash; text never moves.

    `max_keys` is the corpus-scale setting: a viral boilerplate content
    makes one group, and an uncapped collect_list holds ALL of its keys
    in a single aggregation buffer (OOM at 10⁸ copies). With max_keys
    set, the key list is the group's max_keys SMALLEST keys — gathered
    through the skew-safe two-stage rank (plans/windows) so no task ever
    buffers more than the cap — while `copies` stays exact (separate
    count aggregate; both inputs are the same narrow projection).
    Default None preserves the complete-list semantics (and the
    SQL-oracle parity) for bounded-group use."""
    h = content_hash(*cols).alias("text_hash")
    narrow = df.select(h, F.col(key_col))
    if max_keys is None:
        return (
            narrow.groupBy("text_hash")
            .agg(
                F.count(F.lit(1)).alias("copies"),
                F.sort_array(F.collect_list(key_col)).alias("keys"),
            )
            .filter(F.col("copies") > 1)
        )
    from dataprofiler_spark.plans.windows import top_rows_per_group

    narrow = narrow.localCheckpoint(eager=False)  # two consumers, one scan
    counts = narrow.groupBy("text_hash").agg(F.count(F.lit(1)).alias("copies"))
    sampled = top_rows_per_group(narrow, ["text_hash"], [key_col], max_keys)
    keys = sampled.groupBy("text_hash").agg(
        F.sort_array(F.collect_list(key_col)).alias("keys")
    )
    return counts.join(keys, "text_hash").filter(F.col("copies") > 1)


def dedup_exact(df: DataFrame, cols: list[str], key_col: str) -> DataFrame:
    """Keep the min-key row per content hash (deterministic survivor).

    Survivor keys come from a hash AGGREGATE (map-side combine collapses
    a hot duplicate's rows before the shuffle), then an equi-join on
    (hash, key) fetches the surviving rows — full rows never ride a rank
    window whose group is one content's entire duplicate set (a viral
    boilerplate doc at corpus scale is a single-task sort in the window
    plan; the aggregate has no such funnel)."""
    hashed = df.select("*", content_hash(*cols).alias("__h"))
    survivors = (
        hashed.groupBy("__h")
        .agg(F.min(key_col).alias("__sk"))
        .select(F.col("__h").alias("__sh"), "__sk")
    )
    return (
        hashed.join(
            survivors,
            (F.col("__h") == F.col("__sh")) & (F.col(key_col) == F.col("__sk")),
        )
        .drop("__h", "__sh", "__sk")
    )


def word_shingles(
    text_col: str | Column, k: int = 3, pre_split: bool = False, distinct: bool = True
) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column —
    pure array expressions (transform over sequence), no UDF.

    PERF: prefer materializing the split as a column and passing it with
    pre_split=True — referencing the split expression inside the shingle
    lambda makes Catalyst inline (and codegen re-evaluate) the split per
    element access.

    distinct=False skips the per-doc array_distinct — an O(n²) string-
    compare pass per document — for callers that dedup globally anyway
    (an exploded (key, shingle) .distinct() yields the identical row
    set, and its shuffle dedups with map-side partial aggregation)."""
    if pre_split:
        words = text_col if isinstance(text_col, Column) else F.col(text_col)
    else:
        words = _ws_words(text_col)
    n = F.size(words)
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, i + j) for j in range(k)]
    )
    arr = F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), shingle)
    ).otherwise(F.array(F.concat_ws(" ", words)))
    return F.array_distinct(arr) if distinct else arr


def word_shingle_hashes(words: Column, k: int) -> Column:
    """xxhash64 per k-word shingle computed straight from the word tuple
    — no shingle STRING is ever allocated (concat_ws built ~50 bytes per
    shingle just to hash and discard it). Identity is preserved: words
    cannot contain whitespace (split on \\s+), so the k-tuple ↔ joined
    string mapping is a bijection and tuple-hash equality ≡ string-hash
    equality (absent 64-bit collisions, the standing digest convention).
    The n<k fallback hashes the whole-doc joined string — such shingles
    only ever compare against other short-doc shingles, exactly as the
    string form behaved (a k-word string never equals a <k-word one)."""
    n = F.size(words)
    sh = lambda i: F.xxhash64(  # noqa: E731
        *[F.element_at(words, i + j) for j in range(k)]
    )
    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), sh)
    ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", words))))


def shingle_hash_rows(
    df: DataFrame, key_col: str, text_col: str, k: int
) -> DataFrame:
    """Exploded (key, s) k-shingle xxhash64 rows — the lead-window form
    of `explode(word_shingle_hashes(...))`, bit-identical output
    (verified exceptAll both ways = 0 on the 50k-doc corpus).

    Why not the HOF transform: `transform(sequence(...), i ->
    xxhash64(element_at(w,i), ...))` is CodegenFallback — an interpreted
    tree-walk of ~12 nodes per shingle measured 1.25 µs/shingle (3.7 s
    for 2.6M shingles at 32 cores; the gotcha-15 family). Here the words
    posexplode (codegen Generate), one window per document orders them,
    lead(1..k-1) assembles each shingle tuple, and xxhash64 runs inside
    whole-stage codegen: 0.9 s for the same rows (4×). Scale napkin for
    the added word shuffle vs the saved interpreted CPU at 10^12
    shingles on 32 nodes: ~30 TB extra narrow-row shuffle ≈ 310 s of
    NIC time vs ~2,150 s of saved tree-walk CPU at 512 cores — the
    shuffle is the cheaper side by ~7× (guide §1.3 napkin math), and it
    doubles as the parallelism spread (no separate _spread_small_input
    exchange needed).

    Contract: `key_col` must identify documents uniquely (every caller
    passes a primary doc key). Two rows sharing a key would interleave
    in one window partition and lead() across copies — ORDER BY pos
    cannot break that tie. n < k documents take the whole-doc fallback
    hash, exactly like word_shingle_hashes.

    Single corpus scan (accumulator-gated): the short-doc fallback rides
    the SAME window stream instead of a second filtered branch — at a
    short doc's first row every missing lead is NULL and concat_ws
    SKIPS nulls, so concat_ws(' ', wd, l1..l_{k-1}) reconstructs the
    whole document string exactly; an empty doc's posexplode_outer row
    (pos NULL) concat_ws's to '' — both identical to the HOF fallback's
    xxhash64(concat_ws(' ', words)).
    """
    words_f = df.select(
        F.col(key_col).alias("key"), _ws_words(F.col(text_col)).alias("__w")
    )
    # posexplode_outer: the non-outer form's inferred size()>0 filter
    # re-evaluates the split chain per row (gotcha 43), and outer keeps
    # empty docs as a (NULL, NULL) row for the fallback case
    ex = words_f.select(
        "key", F.posexplode_outer("__w").alias("__pos", "__wd")
    )
    if k == 1:
        return ex.select(
            "key",
            F.when(F.col("__pos").isNotNull(), F.xxhash64("__wd"))
            .otherwise(F.xxhash64(F.lit("")))
            .alias("s"),
        )
    win = Window.partitionBy("key").orderBy("__pos")
    lead_names = [f"__l{i}" for i in range(1, k)]
    staged = ex.select(
        "key",
        "__pos",
        "__wd",
        *[F.lead("__wd", i).over(win).alias(n) for i, n in enumerate(lead_names, 1)],
    )
    full = F.col(lead_names[-1]).isNotNull()
    first = F.col("__pos").isNull() | (F.col("__pos") == 0)
    return (
        staged.select(
            "key",
            F.when(full, F.xxhash64("__wd", *lead_names))
            .when(
                first,
                F.xxhash64(F.concat_ws(" ", "__wd", *lead_names)),
            )
            .alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )


def _shingle_long_hash(s: Column) -> Column:
    """Portable shingle hash in [0, 2^31-1): first 7 hex chars of md5
    (28 bits) — chosen over xxhash64 so DuckDB oracles can reproduce it
    exactly (CAST('0x'||substr(md5(s),1,7) AS BIGINT))."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long") % _MERSENNE


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i·x + b_i) mod p. Derived from a seeded LCG so both the
    engine and any oracle can regenerate them."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MERSENNE - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def minhash_signature(
    text_col: str | Column, num_hashes: int = 16, shingle_k: int = 3, seed: int = 42
) -> Column:
    """MinHash signature as array<bigint>, entirely map-side expressions:
    shingles → portable 60-bit hash → per-function min."""
    shingle_hashes = F.transform(word_shingles(text_col, shingle_k), _shingle_long_hash)

    def _hash_fn(a: int, b: int):
        # closure factory: PySpark infers HOF arity from the lambda's
        # parameter count, so default-arg capture (lambda x, a=a) breaks
        return lambda x: (x * a + b) % _MERSENNE

    sigs = [
        F.array_min(F.transform(shingle_hashes, _hash_fn(a, b)))
        for a, b in _minhash_params(num_hashes, seed)
    ]
    return F.array(*sigs)


def minhash_band_frame(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The storable LSH band frame: (key, band_id, band_hash) — `bands`
    narrow fixed-width rows per document, entirely map-side expressions.
    This is both the internal stage of `lsh_candidate_pairs` and the
    APPEND-ONLY NEAR-DUP LEDGER for cross-snapshot dedup: persist it per
    corpus snapshot and new batches probe it via
    `near_dup_against_history` without ever re-reading history text.

    Physical shape (deliberate, measured): each pipeline stage (words →
    shingles → shingle hashes → signature) is materialized as a column so
    Catalyst doesn't inline and re-evaluate the md5 subtree once per hash
    function (CLAUDE.md gotcha 8)."""
    rows_per_band = num_hashes // bands

    words = _ws_words(F.col(text_col))
    staged = (
        # interpreted signature chain parallelizes past a few-split scan
        # (sf0.1 one-split A/B: 2.51 -> 1.51 s; no-op at real scale)
        _spread_small_input(df)
        .select(F.col(key_col).alias("key"), words.alias("__words"))
        .select(
            "key",
            F.array_distinct(
                F.when(
                    F.size("__words") >= shingle_k,
                    F.expr(
                        f"transform(sequence(1, size(__words) - {shingle_k - 1}), "
                        f"i -> concat_ws(' ', {', '.join(f'element_at(__words, i + {j})' for j in range(shingle_k))}))"
                    ),
                ).otherwise(F.array(F.concat_ws(" ", F.col("__words"))))
            ).alias("__shingles"),
        )
        .select("key", F.transform("__shingles", _shingle_long_hash).alias("__hashes"))
    )

    def _hash_fn(a: int, b: int):
        return lambda x: (x * a + b) % _MERSENNE

    sig_cols = [
        F.array_min(F.transform("__hashes", _hash_fn(a, b))).cast("string")
        for a, b in _minhash_params(num_hashes, seed)
    ]
    return staged.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(",", *sig_cols[b * rows_per_band : (b + 1) * rows_per_band])
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("key", "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket on
    (band_id, band_hash), emit distinct (key1 < key2) pairs.

    Physical shape (deliberate, measured): signatures are computed ONCE
    via `minhash_band_frame` (stage-materialized, see its docstring).
    Pairs come from groupBy(bucket) + collect_list + in-expression pair
    expansion instead of a self-join — a self-join would recompute the
    whole signature subtree for both sides and shuffle the table twice;
    this shape shuffles once.

    max_bucket_size drops degenerate buckets (boilerplate collisions) whose
    quadratic pair expansion would dominate at corpus scale."""
    banded = minhash_band_frame(
        df, key_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k, seed=seed,
    )

    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("key")).alias("ks"))
        .filter((F.size("ks") > 1) & (F.size("ks") <= max_bucket_size))
    )
    # pair expansion inside expressions: for each i, pair ks[i] with ks[j>i]
    # (outer: size(ks) > 1 makes it non-empty, and a plain explode's
    # inferred size()>0 filter re-runs the pair transform — gotcha 43)
    pairs = buckets.select(
        F.explode_outer(
            F.flatten(
                F.expr(
                    "transform(ks, (x, i) -> transform(slice(ks, i + 2, size(ks)), y -> struct(x AS key1, y AS key2)))"
                )
            )
        ).alias("p")
    ).select("p.key1", "p.key2")
    return pairs.distinct()


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition an input whose scan has fewer splits than cores so the
    interpreted shingle projection parallelizes — one parquet split
    serializes the whole HOF chain on one core (12 s vs <1 s for 5000
    docs, measured when the eager array checkpoint inherited a
    single-split scan). A no-op at real scale: a 100 TB table has far
    more splits than cores, so the guard never fires and no extra
    shuffle is added.

    The partition-count probe (df.rdd) is only safe on shuffle-free
    lineage: under AQE, converting a plan WITH exchanges to an RDD
    executes its upstream query stages at construction time — work the
    real query then repays in full. A shuffled input is already spread
    to spark.sql.shuffle.partitions, so any plan containing an Exchange
    skips both the probe and the repartition.

    Caveat (r6.2): the split count overstates effective parallelism on
    big files with FEW parquet row groups — byte-range splits beyond
    the row-group count are EMPTY (a row group reads whole in the split
    holding its midpoint). Inputs loaded via sources.tables.load_table
    are already guarded by the footer row-group probe (and then carry
    an Exchange, so this probe skips); raw scans of 128 MB+
    few-row-group files passed directly to operators can still fool
    this DataFrame-only probe — prefer load_table for such inputs."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan or "ShuffleQueryStage" in plan:
            return df
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    except Exception:
        # the probe rides private plan APIs (r5 ADVICE: brittle across
        # Spark versions) — any failure degrades to "no spread", which
        # is always correct
        return df


def _shingle_pair_counts(
    df: DataFrame,
    key_col: str,
    text_col: str,
    shingle_k: int,
    max_shingle_doc_freq: int | None,
) -> DataFrame:
    """Shared skeleton of the exact set-overlap pair operators: distinct
    k-shingles per doc → hot-shingle cap → self-join on shingle digest →
    (key1, key2, i, na, nb) with i = |A∩B| and na/nb the distinct-shingle
    set sizes. Jaccard and containment are projections over this frame.

    r6 shape: shingle STRINGS never leave the map side — each shingle
    reduces to its xxhash64 digest in the same projection that builds it,
    and the (key, digest) stream is globally .distinct()-ed (replacing
    the per-doc array_distinct, an O(n²) string-compare pass per doc).
    What gets localCheckpointed is that narrow post-distinct frame — two
    longs per row — instead of the r5 shingle-ARRAY frame (~50 bytes per
    shingle of string payload written + re-read 4×). Set identity: the
    exploded distinct (key, digest) rows ≡ explode(array_distinct(...))
    digested, so sizes, doc-freqs and intersections are unchanged
    (digest-equality in place of string-equality is the standing
    gotcha-9 convention — cross_source_overlap and the minhash family
    already count xxhash64 digests). Eager, because the hot set
    re-enters as a BROADCAST and concurrent broadcast jobs race a lazy
    checkpoint into double execution (gotcha 44 / cross_source_overlap).

    Construction additionally materializes the per-doc size frame
    (it is consumed by both the na and nb join sides)."""
    # lead-window shingle rows (see shingle_hash_rows: 4× over the
    # interpreted HOF transform; its window exchange also spreads a
    # few-split scan, so no _spread_small_input here)
    sh = (
        shingle_hash_rows(df, key_col, text_col, shingle_k)
        .distinct()
        .localCheckpoint(eager=True)
    )
    if max_shingle_doc_freq is not None:
        # the hot set is small (boilerplate vocabulary) — checkpoint it
        # eagerly so its aggregate runs once, not once per broadcast copy
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_doc_freq)
            .select("s")
            .localCheckpoint(eager=True)
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # sizes is consumed twice (na and nb) — checkpointed so the 6M-row
    # scan + aggregate runs once, not once per join side (the r6.0 plan
    # ran the identical subplan twice, ops 28-30/41-43 in
    # plans/r06/ngram_jaccard_pairs_after.txt)
    sizes = (
        sh.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    other = sh.select(F.col("key").alias("key2"), "s")
    # The co-occurrence aggregate (~127M narrow rows into ~114M groups
    # at 50k docs) is the operator's converged floor: a packed
    # single-long pair key ((key1<<32)+key2) measured bit-identical
    # results but FLAT wall-clock once the JIT converges (14.5 vs 15.0 s
    # over 3 fresh-session runs each — an initial 2x reading was
    # warm-up-order contamination, gotcha 31), so the simpler two-column
    # groupBy stays.
    inter = (
        sh.join(other, "s")
        .filter(F.col("key") < F.col("key2"))
        .groupBy(F.col("key").alias("key1"), "key2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("key").alias("key1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("key").alias("key2"), F.col("n").alias("nb"))
    return inter.join(sa, "key1").join(sb, "key2")


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.2,
    max_shingle_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold:
    explode distinct shingles → self-join on shingle → |∩| / (|A|+|B|-|∩|).

    max_shingle_doc_freq drops shingles appearing in more than N docs
    before the self-join — the standard guard against quadratic blowup on
    boilerplate shingles at corpus scale. Defaulted (1000): the uncapped
    configuration goes quadratic on boilerplate at corpus scale, so opting
    OUT (None) must be explicit. Note the dropped hot shingles also leave
    the |A|/|B| set sizes, so Jaccard values shift slightly vs uncapped —
    the standard approximation trade, disclosed.

    Contract: `key_col` must be unique per row. Rows sharing a key are
    shingled as one document (shingle_hash_rows orders words per key), so
    a duplicate key yields phantom shingles spanning the copies and
    plausible but wrong scores; nothing checks this. Deduplicate or key
    by a row id first.

    Side effect: CONSTRUCTION runs the corpus scan eagerly (the shared
    skeleton checkpoints its digest frame eager — r5 ADVICE disclosure;
    gotcha 44 explains why lazy is unsafe here)."""
    base = _shingle_pair_counts(df, key_col, text_col, shingle_k, max_shingle_doc_freq)
    return base.select(
        "key1",
        "key2",
        F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_doc_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT (Broder):
    C = |A∩B| / min(|A|, |B|), with the directional ratios alongside.
    Jaccard is blind to supersets — a document quoted whole inside a page
    10× its length scores jaccard ≤ ~0.1 but containment 1.0 — so this is
    the operator for quote-expansion chains, syndicated articles wrapped
    in differing chrome, and partial mirrors. Same capped one-scan shape
    as ngram_jaccard_pairs (shared skeleton; the hot-shingle cap bounds
    the quadratic identically). Construction runs the corpus scan
    eagerly (shared-skeleton checkpoint — r5 ADVICE disclosure).

    Contract: `key_col` must be unique per row, as for
    ngram_jaccard_pairs — a duplicate key merges its rows' words into
    phantom shingles and the scores come out wrong without an error."""
    base = _shingle_pair_counts(df, key_col, text_col, shingle_k, max_shingle_doc_freq)
    return base.select(
        "key1",
        "key2",
        F.round(F.col("i") / F.col("na"), 6).alias("containment_1"),
        F.round(F.col("i") / F.col("nb"), 6).alias("containment_2"),
        F.round(F.col("i") / F.least("na", "nb"), 6).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def _token_long_hash(w: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5. Chosen over
    xxhash64 so DuckDB oracles reproduce it bit-for-bit
    (CAST('0x' || substr(md5(w),1,15) AS BIGINT)); 60 bits stay clear of
    the int64 sign bit on both engines."""
    return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")


#: Edge-count bound for the driver union-find shortcut in the
#: connected-components operators. 500k edges collect to ~10-30 MB —
#: aggregate-bounded by the same standard as the vocab/centroid collects
#: (CLAUDE.md anti-pattern list); above it the distributed loop runs.
CC_DRIVER_EDGE_THRESHOLD = 500_000


def _driver_cc(narrow: DataFrame, n_edges: int) -> DataFrame | None:
    """Union-find on the driver for SMALL edge lists: the per-round cost
    of the distributed loop is pure orchestration (join job + fingerprint
    job + checkpoint, ~0.5 s/round × diameter rounds) when the edge set
    fits in single-digit MB — measured 6.5 s of the 7.9 s dedup_clusters
    entry at sf1.0. Returns the same (node, comp=min member) labeling the
    loop converges to, or None when the edge list exceeds the bound (the
    distributed loop is the 100 TB path). `narrow` must be materialized
    (checkpointed) with columns (a, b)."""
    if n_edges > CC_DRIVER_EDGE_THRESHOLD:
        return None
    spark = narrow.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = narrow.collect()
    for r in rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # min member per component = the fixpoint label of min-propagation
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    t = narrow.schema.fields[0].dataType
    out_schema = T.StructType(
        [T.StructField("node", t), T.StructField("comp", t)]
    )
    return spark.createDataFrame(
        [(n, comp_min[find(n)]) for n in parent], out_schema
    )


def connected_components(
    pairs: DataFrame,
    key1: str = "key1",
    key2: str = "key2",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    on_max_iterations: str = "raise",
) -> DataFrame:
    """Connected components over a candidate-pair edge list → (node,
    component) with component = min node id in the component. This is the
    step that turns near-dup PAIRS into duplicate CLUSTERS (a transitive
    near-dup chain a~b~c must dedup as ONE group even if a~c was never a
    candidate pair).

    Algorithm: iterative min-label propagation — comp(x) ← min(comp(x),
    min over neighbors' comp) until a fixpoint; converges in O(graph
    diameter) rounds, and near-dup graphs are short-diameter by
    construction (pairs share LSH buckets). Each round is one equi-join +
    groupBy on narrow (id, id) rows.

    Fault tolerance / termination:
      * lineage is truncated every round — without it the plan doubles per
        iteration and the job dies on plan size long before data size.
        `checkpoint_dir` switches from localCheckpoint (executor-memory
        truncation; lost on executor death → full recompute) to RELIABLE
        checkpoints written to that directory (HDFS/S3 in production) —
        the production setting for long chains on preemptible executors.
      * convergence test: a (count, Σ xxhash64(node, comp)) fingerprint of
        the labels frame — one tiny aggregate per round instead of a
        change-count join, and TYPE-AGNOSTIC: the declared input schema has
        doc_id:string, and the previous Σcomp scalar was only defined for
        numeric node keys (Spark 4 ANSI sum() over strings throws). Any
        label change flips the hash with probability 1 − 2⁻⁶⁴ — the same
        standard as the star variant's `_edge_fingerprint`.
      * if `max_iterations` is exhausted BEFORE the fixpoint (a transitive
        near-dup chain longer than max_iterations hops), the result would
        be silently split clusters — so exhaustion raises by default
        (`on_max_iterations="raise"`); "warn" downgrades to a logged
        warning for exploratory runs.
      * at 10^12 edges the same loop holds (it is the standard Spark CC
        shape); skewed hub nodes are bounded by the LSH max_bucket_size
        upstream."""
    if on_max_iterations not in ("raise", "warn"):
        raise ValueError("on_max_iterations must be 'raise' or 'warn'")
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _checkpoint(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # materialize the edge list ONCE: every propagation round joins
    # against `edges`, and an unmaterialized frame re-executes its whole
    # upstream plan (the full LSH pipeline over the corpus) per round —
    # measured 3.5× the CC cost at sf0.1, and catastrophic at real scale
    # (the star variant already did this; r4 fix brings label-prop in
    # line). Two-step: the narrow (key, key) projection first (the union
    # below references it twice — unmaterialized, the LSH plan would
    # execute twice inside the one edges job), then the symmetrized
    # distinct edge set the rounds actually join.
    narrow = _checkpoint(
        pairs.select(F.col(key1).alias("a"), F.col(key2).alias("b"))
    )
    # driver union-find shortcut for edge lists below the bound (the
    # count is one tiny agg on the just-materialized checkpoint)
    small = _driver_cc(narrow, narrow.count())
    if small is not None:
        return small.select("node", F.col("comp").alias("component"))
    edges = _checkpoint(
        narrow.unionByName(
            narrow.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    comps = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    comps = _checkpoint(comps)
    prev_fp = _frame_fingerprint(comps, "node", "comp")

    converged = False
    for _ in range(max_iterations):
        nbr = (
            edges.join(comps, edges["b"] == comps["node"])
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        comps = _checkpoint(
            comps.join(nbr, comps["node"] == nbr["a"], "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
            )
        )
        cur_fp = _frame_fingerprint(comps, "node", "comp")
        if cur_fp == prev_fp:
            converged = True
            break
        prev_fp = cur_fp
    if not converged:
        msg = (
            f"connected_components did not reach a fixpoint in "
            f"{max_iterations} iterations — the graph has a chain longer "
            f"than max_iterations hops; clusters would be silently split. "
            f"Raise max_iterations (rounds needed = graph diameter)."
        )
        if on_max_iterations == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return comps.select("node", F.col("comp").alias("component"))


def _frame_fingerprint(df: DataFrame, *cols: str) -> tuple[int, int]:
    """Cheap type-agnostic change-detection: (count, sum of 64-bit row
    hashes) — two scalar aggregates, no set-difference join, works for
    string and numeric keys alike (xxhash64 takes any atomic type)."""
    # hash cast to decimal BEFORE the sum: ANSI mode errors on long
    # overflow when summing full-range 64-bit hashes (CLAUDE.md gotcha 2)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """Change-detection for the star rounds — fingerprint of the edge set."""
    return _frame_fingerprint(edges, "a", "b")


def connected_components_star(
    pairs: DataFrame,
    key1: str = "key1",
    key2: str = "key2",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds REGARDLESS of graph diameter, vs the
    min-label propagation's O(diameter). Use this variant when transitive
    near-dup chains can be long (gradually drifting templated docs);
    min-label (connected_components) stays the default because LSH-bucketed
    near-dup graphs are short-diameter and its per-round work is smaller.

    large-star: every node points its LARGER neighbors at its minimum
    neighborhood member; small-star: the smaller-or-equal ones. Each round
    is a groupBy(node) + array-min + explode over the adjacency — the same
    narrow (id, id) shuffles as the label loop. Fixpoint ⟺ both rounds
    leave the edge set unchanged (count + hash fingerprint, two scalar
    aggregates). At the fixpoint every component is a star rooted at its
    min node."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _checkpoint(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if checkpoint_dir is not None else df.localCheckpoint(eager=True)

    # all_nodes and edges both derive from pairs — materialize the narrow
    # (key, key) projection once so the upstream (LSH) plan executes once,
    # not once per consumer
    narrow = _checkpoint(
        pairs.select(F.col(key1).alias("a"), F.col(key2).alias("b"))
    )
    small = _driver_cc(narrow, narrow.count())
    if small is not None:
        return small.select("node", F.col("comp").alias("component"))
    all_nodes = (
        narrow.select(F.col("a").alias("node"))
        .unionByName(narrow.select(F.col("b").alias("node")))
        .distinct()
    )
    edges = _checkpoint(narrow.filter(F.col("a") != F.col("b")).distinct())
    prev = _edge_fingerprint(edges)

    def large_star(e: DataFrame) -> DataFrame:
        adj = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        grouped = adj.groupBy("a").agg(F.collect_set("b").alias("ns"))
        m = F.least(F.array_min("ns"), F.col("a"))
        # outer + null filter: filter(ns, v > a) CAN be empty (row must
        # drop), and a plain explode's inferred size()>0 filter re-runs
        # the array filter per row inside the loop (gotcha 43)
        out = grouped.select(
            F.col("a"),
            m.alias("m"),
            F.explode_outer(F.expr("filter(ns, v -> v > a)")).alias("v"),
        ).filter(F.col("v").isNotNull())
        return out.select(F.col("v").alias("a"), F.col("m").alias("b")).filter(
            F.col("a") != F.col("b")
        ).distinct()

    def small_star(e: DataFrame) -> DataFrame:
        # canonicalize each edge as (larger, smaller), group on the larger
        canon = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        grouped = canon.groupBy("a").agg(F.collect_set("b").alias("ns"))
        m = F.least(F.array_min("ns"), F.col("a"))
        out = grouped.select(
            "a",
            m.alias("m"),
            # outer: union with [a] is never empty (gotcha 43)
            F.explode_outer(F.array_union("ns", F.array("a"))).alias("v"),
        )
        return out.select(F.col("v").alias("a"), F.col("m").alias("b")).filter(
            F.col("a") != F.col("b")
        ).distinct()

    converged = False
    for _ in range(max_iterations):
        edges = _checkpoint(small_star(large_star(edges)))
        cur = _edge_fingerprint(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            f"alternating rounds (expected O(log n)); raise max_iterations."
        )
    # fixpoint edges are (member, root) stars; isolated-after-dedup nodes
    # (self-pairs only) fall back to themselves
    mapping = edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return (
        all_nodes.join(mapping, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def dedup_clusters(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    algorithm: str = "label",
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs →
    connected components → (node, component, is_survivor) where the
    survivor is the min-key member. Docs with no near-dup pair are absent
    (each is its own trivial cluster).

    algorithm: "label" (min-label propagation, O(diameter) rounds — the
    default; LSH graphs are short-diameter) or "star" (alternating
    large/small-star, O(log n) rounds — for corpora with long transitive
    drift chains). Both produce identical clusters (tested equal on
    randomized graphs)."""
    pairs = lsh_candidate_pairs(
        df, key_col, text_col, num_hashes=num_hashes, bands=bands, **lsh_kwargs
    )
    if algorithm == "star":
        cc = connected_components_star(pairs)
    elif algorithm == "label":
        cc = connected_components(pairs)
    else:
        raise ValueError("algorithm must be 'label' or 'star'")
    return cc.select(
        "node", "component", (F.col("node") == F.col("component")).alias("is_survivor")
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Train/test contamination detection: corpus documents sharing ≥1
    k-word shingle with a benchmark/eval set → (doc_id, n_shared_shingles,
    n_shingles, overlap_frac). The standard pre-training hygiene check
    (eval answers leaking into training data).

    Scale shape: benchmark shingles are DISTINCT hashes of a small eval
    set → broadcast semi-join against the corpus's exploded shingle hashes
    (no shuffle of the corpus); only 64-bit hashes move, never text. For a
    large benchmark set, pass broadcast_benchmark=False to fall back to a
    shuffle join on the shingle hash.

    ONE corpus scan: the per-doc shingle count rides the exploded rows
    (size of the array computed before the explode) instead of a separate
    sizes aggregate — referencing the exploded frame from two branches
    would re-run the whole split+shingle+md5 pipeline twice (CLAUDE.md
    gotcha 16; plan-gated in tests)."""
    bench_shingles = (
        benchmark.select(
            # gotcha 43; shingles never empty (whole-text fallback)
            F.explode_outer(word_shingles(F.col(text_col), shingle_k)).alias("s")
        )
        .select(_token_long_hash(F.col("s")).alias("h"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_shingles = F.broadcast(bench_shingles)
    staged = _spread_small_input(corpus).select(
        F.col(key_col).alias("key"),
        word_shingles(F.col(text_col), shingle_k).alias("__sh"),
    )
    corpus_shingles = staged.select(
        "key",
        F.size("__sh").alias("n_shingles"),
        F.explode_outer("__sh").alias("s"),  # gotcha 43; never empty
    ).select("key", "n_shingles", _token_long_hash(F.col("s")).alias("h"))
    hits = (
        corpus_shingles.join(bench_shingles, "h")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.first("n_shingles").alias("n_shingles"),
        )
    )
    return hits.select(
        F.col("key").alias(key_col),
        "n_shared_shingles",
        "n_shingles",
        F.round(F.col("n_shared_shingles") / F.col("n_shingles"), 6).alias(
            "overlap_frac"
        ),
    )


def simhash(text_col: str | Column, bits: int = 60, portable: bool = True) -> Column:
    """SimHash over whitespace tokens as a bigint, expression-only:
    per-token hash → ±1 per bit position → sign of the column sum.

    portable=True (default) uses the md5-prefix hash (bits ≤ 60) so DuckDB
    oracles reproduce the signature bit-for-bit; portable=False swaps in
    xxhash64 — ~3× cheaper per token, the production choice when
    cross-engine reproducibility is not required (near-dup quality is
    equivalent: both are uniform hashes).

    aggregate() folds an array<int> of per-bit counters across tokens —
    all inside whole-stage codegen, no Python."""
    if portable and bits > 60:
        raise ValueError("simhash: bits must be <= 60 (portable hash width)")
    words = _ws_words(text_col)
    zero = F.array_repeat(F.lit(0), bits)

    # Hash in a SEPARATE transform stage: the fold below references the
    # hash `bits` times, and referencing an expression subtree N times
    # inside a lambda makes codegen re-evaluate it N× (measured 25× slower
    # with md5 hashed inside the step). A lambda VARIABLE is a bound
    # reference — free to reference repeatedly.
    hashes = F.transform(
        words, (lambda w: _token_long_hash(w)) if portable else (lambda w: F.xxhash64(w))
    )

    def step(acc, h):
        # bit positions unrolled in Python: shiftright needs literal ints
        deltas = F.array(
            *[((F.shiftright(h, b) % 2 != 0).cast("int") * 2 - 1) for b in range(bits)]
        )
        return F.zip_with(acc, deltas, lambda a, d: a + d)

    counters = F.aggregate(hashes, zero, step)
    out = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(
            F.element_at(counters, b + 1) > 0,
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(bit)
    return out


def hamming_bucket_pairs(
    chunks: DataFrame, max_hamming: int, max_bucket_size: int
) -> DataFrame:
    """Shared hamming-LSH candidate machinery over a chunked-hash frame
    (key, h:long, chunk_id, chunk): bucket on (chunk_id, chunk), expand
    pairs in-expression (groupBy + sorted collect_list — NOT a self-join,
    which would recompute the upstream hash pipeline for both sides and
    shuffle it twice; gotcha 16), verify exact hamming via
    bit_count(xor). sort_array orders members by key so array order gives
    key1 < key2 for free. max_bucket_size drops degenerate hot buckets
    (quadratic in one task at corpus scale — recall trade, disclosed by
    every LSH path here). Used by simhash (4 x 15-bit chunks), image
    pHash and audio fingerprints (4 x 16-bit chunks)."""
    buckets = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("key", "h"))).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket_size))
    )
    # outer: size(ms) > 1 makes the expansion non-empty (gotcha 43)
    pairs = buckets.select(
        F.explode_outer(
            F.flatten(
                F.expr(
                    "transform(ms, (x, i) -> transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x.key AS key1, y.key AS key2, x.h AS h1, y.h AS h2)))"
                )
            )
        ).alias("p")
    ).select(
        "p.key1",
        "p.key2",
        F.bit_count(F.col("p.h1").bitwiseXOR(F.col("p.h2"))).alias("hamming"),
    )
    return pairs.distinct().filter(F.col("hamming") <= max_hamming)


def simhash_near_dup_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = True,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """SimHash near-dup candidates: docs whose 60-bit simhashes differ in
    ≤ max_hamming bits. Buckets by 4 × 15-bit chunks (pigeonhole: any pair
    within hamming ≤3 shares at least one chunk) then verifies exact
    hamming via bit_count(xor).

    max_bucket_size drops degenerate hot buckets (boilerplate docs sharing
    a 15-bit chunk) whose pair expansion is quadratic IN ONE TASK at corpus
    scale — same cap + disclosure as the minhash LSH path. Dropped-bucket
    pairs are simply not candidates (recall trade, standard at scale); a
    pair pruned from one hot chunk can still surface via its 3 other
    chunks.

    Physical shape (measured): signatures via explode(words) → ONE
    whole-stage-codegen hash aggregation with 60 conditional sums — 7×
    faster than folding per-row arrays with aggregate()/zip_with (HOF
    lambdas are interpreted per element and allocate a 60-int array per
    word). The explode shuffle moves (key, 60 ints) partial-agg rows, not
    words. Memory stays flat however long the documents are."""
    bits = 60
    words = _spread_small_input(df).select(
        F.col(key_col).alias("key"),
        F.explode_outer(_ws_words(text_col)).alias("w"),  # gotcha 43
    ).filter(F.col("w").isNotNull())
    hashed = words.select(
        "key", (_token_long_hash(F.col("w")) if portable else F.xxhash64("w")).alias("h")
    )
    counters = hashed.groupBy("key").agg(
        *[
            F.sum((F.shiftright("h", b) % 2 != 0).cast("int") * 2 - 1).alias(f"c{b}")
            for b in range(bits)
        ]
    )
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out.bitwiseOR(
            F.when(
                F.col(f"c{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    sh = counters.select("key", out.alias("h"))
    chunks = sh.select(
        "key",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("h", 15 * i).bitwiseAND(F.lit(0x7FFF)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("key", "h", "c.chunk_id", "c.chunk")
    return hamming_bucket_pairs(chunks, max_hamming, max_bucket_size)


def paragraph_dedup(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-global exact paragraph dedup (the C4/RefinedWeb line-dedup
    pass): split every document on `sep`, keep only the FIRST occurrence
    of each distinct paragraph — ordered by (document key, paragraph
    index) — and reassemble the surviving paragraphs per document.

    Returns one row per input document:
    (key_col, n_paras, n_kept, n_removed, text_out) where n_paras counts
    the document's non-empty paragraphs (empty pseudo-paragraphs from
    consecutive separators are dropped outright, same policy as the
    word-level operators) and text_out is the kept paragraphs re-joined
    with `sep` in original order ('' when nothing survives).

    Scale shape (10^12-row contract):
    * first-occurrence selection is ONE explode + ONE hash aggregate:
      min(struct(key, idx, para)) per paragraph digest. The paragraph
      TEXT rides inside the min struct, so the survivor row needs no
      join back to the exploded frame — a digest group's rows collapse
      map-side (a viral boilerplate paragraph combines before the
      shuffle), and there is NO rank window over a paragraph's
      duplicate set. (The first cut joined survivors (digest, key, idx)
      back to a localCheckpointed paras frame: measured 4.9x slower at
      32M paragraphs — the checkpoint materialization plus the extra
      payload shuffle both disappear with the in-aggregate text.)
    * per-doc totals are a map-side projection
      (size(filter(split(text)))) on the base frame — the exploded frame
      has exactly one consumer, so nothing re-executes and nothing needs
      a checkpoint.
    * reassembly groups by document key: the only collect_list is a
      single document's own surviving paragraphs (bounded by document
      size, the same contract as every per-doc operator here).
    Measured: 6.6M paragraphs/sec at 32c on a 32M-paragraph synthetic
    corpus; 2M -> 8M docs scales sub-linearly (fixed overheads dominate
    the small point).
    """
    paras = df.select(
        F.col(key_col),
        # outer: split() never yields an empty array, and a plain
        # posexplode's inferred filter re-runs the split (gotcha 43); the
        # para != '' filter below drops any NULL row the same way
        F.posexplode_outer(F.split(F.col(text_col), F.lit(sep))).alias("idx", "para"),
    ).filter(F.col("para") != "")
    firsts = paras.groupBy(F.xxhash64("para").alias("__d")).agg(
        F.min(F.struct(F.col(key_col), F.col("idx"), F.col("para"))).alias("f")
    )
    kept = firsts.select(
        F.col(f"f.{key_col}").alias(key_col),
        F.col("f.idx").alias("idx"),
        F.col("f.para").alias("para"),
    )
    reassembled = kept.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            sep,
            F.expr("transform(sort_array(collect_list(struct(idx, para))), x -> x.para)"),
        ).alias("text_out"),
    )
    base = df.select(
        F.col(key_col),
        # coalesce: size() of a NULL array (NULL text) is NULL in Spark 4
        F.coalesce(
            F.size(F.filter(F.split(F.col(text_col), F.lit(sep)), _nonempty)),
            F.lit(0),
        ).alias("n_paras"),
    )
    return base.join(reassembled, key_col, "left").select(
        key_col,
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_paras") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("text_out", F.lit("")).alias("text_out"),
    )


def _nonempty(p: Column) -> Column:
    """Module-level HOF lambda (default-arg capture breaks PySpark's
    arity inference — CLAUDE.md gotcha 4)."""
    return p != F.lit("")


def remove_duplicated_spans(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    max_span_doc_freq: int = 2,
) -> DataFrame:
    """C4-style duplicated-span REMOVAL (the acting counterpart of
    textstats.boilerplate_ngram_stats): every k-word span occurring in
    more than `max_span_doc_freq` documents is boilerplate; all word
    positions covered by ANY boilerplate span are dropped (overlapping
    spans merge naturally through position coverage) and the document is
    rebuilt from the surviving words.

    Returns (key_col, n_words, n_removed_words, text_out). Output text
    is whitespace-NORMALIZED (single spaces — empty pseudo-tokens are
    gone; documented contract). Documents shorter than shingle_k words
    emit no spans and pass through untouched.

    Scale shape: ONLY the narrow (key, words) projection is
    localCheckpointed (its two consumers — the span pipeline and the
    word rows — would otherwise re-scan the corpus; gotcha 16). The
    span frame is DERIVED, larger than its source, and deliberately NOT
    materialized: the first cut checkpointed it too and OOMed the local
    JVM at 32M spans — re-deriving an explode from the materialized
    words is CPU-cheap, holding 80M deserialized rows in the block
    manager is not. Span doc-frequency is a hash aggregate over 64-bit
    digests (map-side combine; text never shuffles); hot spans come
    back as a digest semi-join; coverage = explode(sequence(start,
    start+k-1)) → distinct (key, pos). Totals, removal counts, AND the
    rebuild fold into ONE per-document aggregate over coverage-flagged
    word rows (no base re-scan, no left-join of two per-doc frames);
    the only collect_list is a document's own words."""
    words_arr = _ws_words(F.col(text_col))
    # gotcha 45: the span-hash transform is an interpreted chain —
    # parallelize it past a few-split scan
    staged = _spread_small_input(df).select(
        F.col(key_col), words_arr.alias("__ws")
    ).localCheckpoint(eager=False)
    n = F.size("__ws")
    spans = (
        staged.filter(n >= shingle_k)
        .select(
            key_col,
            # outer: the n >= shingle_k gate makes the span array
            # non-empty, and a plain explode's inferred filter re-runs
            # the whole span-hash transform per row (gotcha 43)
            F.explode_outer(
                F.expr(
                    f"transform(sequence(0, size(__ws) - {shingle_k}), "
                    f"i -> struct(i AS start, "
                    f"xxhash64(concat_ws(' ', slice(__ws, i + 1, {shingle_k}))) AS h))"
                )
            ).alias("sp"),
        )
        .select(key_col, "sp.start", "sp.h")
    )
    # doc frequency = docs containing the span (distinct per doc first)
    span_df = (
        spans.select(key_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_"))
    )
    hot = span_df.filter(F.col("df_") > max_span_doc_freq).select("h")
    covered = (
        spans.join(hot, "h", "left_semi")
        .select(
            key_col,
            # outer: an ascending k-term sequence is never empty (gotcha 43)
            F.explode_outer(
                F.sequence(F.col("start"), F.col("start") + F.lit(shingle_k - 1))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("__cov", F.lit(True))
    )
    # outer explode: a zero-word document keeps one NULL row so it still
    # reaches the aggregate (n_words = count(w) ignores it)
    word_rows = staged.select(key_col, F.posexplode_outer("__ws").alias("pos", "w"))
    flagged = word_rows.join(covered, [key_col, "pos"], "left").select(
        key_col, "pos", "w", F.coalesce("__cov", F.lit(False)).alias("__cov")
    )
    return flagged.groupBy(key_col).agg(
        F.count("w").cast("int").alias("n_words"),
        F.sum(F.col("__cov").cast("int")).cast("int").alias("n_removed_words"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(filter(sort_array(collect_list(struct(pos, w, __cov))), "
                "x -> NOT x.__cov), x -> x.w)"
            ),
        ).alias("text_out"),
    )


def paragraph_near_dup_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep: str = "\n",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Fuzzy paragraph-level near-dup candidates (the RefinedWeb fuzzy
    line-dedup granularity): explode documents into paragraphs keyed
    "<doc_key>:<idx>" and run the SAME MinHash-LSH machinery as
    document-level dedup over them. Pairs are paragraph keys; exact
    paragraph copies share every band, near-copies most.

    Scale shape: identical to lsh_candidate_pairs (one scan, map-side
    signatures, (band, hash) bucket groupBy with hot caps) — the explode
    only multiplies rows by paragraphs/doc before the same pipeline."""
    paras = df.select(
        F.col(key_col),
        # outer: split() never yields an empty array, and a plain
        # posexplode's inferred filter re-runs the split (gotcha 43); the
        # para != '' filter below drops any NULL row the same way
        F.posexplode_outer(F.split(F.col(text_col), F.lit(sep))).alias("idx", "para"),
    ).filter(F.col("para") != "").select(
        F.concat(
            F.col(key_col).cast("string"), F.lit(":"), F.col("idx").cast("string")
        ).alias("para_key"),
        F.col("para"),
    )
    return lsh_candidate_pairs(
        paras,
        "para_key",
        text_col="para",
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )


def duplication_weights(
    df: DataFrame,
    cols: list[str],
    weight_col: str = "weight",
    digest_col: str | None = None,
) -> DataFrame:
    """Soft dedup: per-row training weight 1 / |exact-dup group| over a
    content digest of `cols` — instead of DROPPING duplicates, downweight
    them so each distinct content contributes unit mass to the loss (the
    standard alternative when dedup would starve rare domains).

    One count window over the 128-bit digest: a single shuffle on narrow
    (digest) keys, no join-back. A dup group lands in one window task —
    bounded in practice by the corpus's max copy count; if an adversarial
    corpus has table-sized dup groups, dedup first (they carry ~no
    information anyway). Weights are rounded to 6dp (driver-compare
    convention). `digest_col` keeps the digest for auditing."""
    d = content_hash(*cols)
    staged = df.withColumn("__digest", d)
    w = Window.partitionBy("__digest")
    out = staged.withColumn(
        weight_col, F.round(F.lit(1.0) / F.count(F.lit(1)).over(w), 6)
    )
    if digest_col:
        out = out.withColumn(digest_col, F.col("__digest"))
    return out.drop("__digest")


def cluster_weights(
    assignments: DataFrame,
    cluster_col: str = "cluster_id",
    weight_col: str = "weight",
) -> DataFrame:
    """Per-row weight 1 / |near-dup cluster| from a dedup_clusters /
    connected-components assignment frame — soft NEAR-dedup (SemDeDup /
    D4-style reweighting). Same one-window shape as duplication_weights;
    near-dup clusters are LSH-bounded (hot-bucket caps upstream), so no
    funnel."""
    w = Window.partitionBy(cluster_col)
    return assignments.withColumn(
        weight_col, F.round(F.lit(1.0) / F.count(F.lit(1)).over(w), 6)
    )


def dedup_against_history(
    new_df: DataFrame,
    history_digests: DataFrame,
    cols: list[str],
    key_col: str,
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental EXACT dedup of a new ingestion batch against the
    append-only digest ledger of everything already in the corpus — the
    continuous-crawl shape: history text is NEVER re-read or re-shuffled,
    only its narrow 128-bit digests participate.

    Two stages, both scale-shaped:
    1. within-batch collapse: one hash aggregate on the content digest;
       the min-key survivor rides IN the min(struct) buffer (gotcha 36).
    2. cross-history: left-anti join of the collapsed (digest, survivor)
       frame against `history_digests[digest_col]` — shuffle of digests
       only. At 10^11-row ledgers both sides hash-partition on digest;
       store the ledger bucketed by digest and the exchange on its side
       disappears entirely.

    Returns one row per NEW distinct content: (digest, survivor_<key>,
    batch_copies). Appending exactly these digests to the ledger commits
    the batch — the same commit-after-validate ordering as the resume
    manifest (plans/manifest.py), which records a partition only after
    its verdicts are collected."""
    staged = new_df.withColumn("__digest", content_hash(*cols))
    collapsed = staged.groupBy(F.col("__digest").alias(digest_col)).agg(
        F.min(F.col(key_col)).alias(f"survivor_{key_col}"),
        F.count(F.lit(1)).alias("batch_copies"),
    )
    hist = history_digests.select(F.col(digest_col))
    return collapsed.join(hist, on=digest_col, how="left_anti")


def near_dup_against_history(
    new_df: DataFrame,
    history_bands: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR dedup: flag new-batch documents that collide with
    the historical corpus's MinHash-LSH band ledger (`minhash_band_frame`
    persisted per snapshot). Returns (key, n_hit_bands, example_hist_key)
    for flagged docs only — more hit bands ≈ higher Jaccard to something
    already ingested.

    Scale shape: the history side is pre-aggregated to ONE row per
    (band_id, band_hash) bucket before the join, so a boilerplate bucket
    shared by 10^7 historical docs cannot explode the join — the
    hot-bucket hazard is capped at the bucket-count level, the exact
    analog of lsh_candidate_pairs' max_bucket_size. Both joins shuffle
    only fixed-width (band_id, 128-bit hash) keys; no text moves. Store
    the ledger pre-aggregated (it is idempotent under re-aggregation:
    min/merge per bucket) and the aggregate is metadata-only."""
    new_bands = minhash_band_frame(
        new_df, key_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k, seed=seed,
    )
    hist_buckets = history_bands.groupBy("band_id", "band_hash").agg(
        F.min("key").alias("__hist_key")
    )
    hits = new_bands.join(hist_buckets, on=["band_id", "band_hash"], how="inner")
    return hits.groupBy("key").agg(
        F.count_distinct("band_id").alias("n_hit_bands"),
        F.min("__hist_key").alias("example_hist_key"),
    )


def dedup_against_history_bloom(
    new_df: DataFrame,
    history_digests: DataFrame,
    cols: list[str],
    key_col: str,
    digest_col: str = "digest",
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """`dedup_against_history` with the Bloom fast path: result-identical
    (the bloom has no false negatives), but only the maybe-seen sliver of
    the batch reaches the exact anti-join against the full ledger.

    Typical crawl batches are mostly-new content, so the expensive
    digest-shuffle join runs over fpp·|new| + |actually-seen| rows
    instead of |new| — at a 10^12-digest ledger that is the difference
    between re-shuffling the ledger daily and a broadcast probe.

    The within-batch collapse still sees EVERY row (batch-internal
    duplicates are invisible to the history bloom), and the two branch
    results are unioned digest-disjointly: a digest is either
    definitely-new (skips the join) or maybe-seen (adjudicated exactly)."""
    probed = bloom_probe(
        new_df, build_digest_bloom(history_digests, digest_col, m_bits, k),
        cols, m_bits, k, flag_col="__maybe",
    )
    staged = probed.withColumn("__digest", content_hash(*cols))
    collapsed = staged.groupBy(F.col("__digest").alias(digest_col)).agg(
        F.min(F.col(key_col)).alias(f"survivor_{key_col}"),
        F.count(F.lit(1)).alias("batch_copies"),
        # any copy flagged maybe-seen sends the digest to the exact branch
        F.max("__maybe").alias("__maybe"),
    )
    fresh = collapsed.filter(~F.col("__maybe")).drop("__maybe")
    suspect = collapsed.filter(F.col("__maybe")).drop("__maybe")
    hist = history_digests.select(F.col(digest_col))
    return fresh.unionByName(suspect.join(hist, on=digest_col, how="left_anti"))


def cross_source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Pairwise shingle-overlap matrix between corpus sources: for every
    source pair (a < b), the number of distinct k-word shingles they
    share, each side's distinct-shingle count, and the Jaccard / overlap
    coefficients. The corpus-composition view of contamination_check —
    instead of probing one benchmark, it localizes WHICH sources leak
    into which (mirror sites, cross-posted content, shared boilerplate)
    so curation can drop the redundant source rather than dedup doc by
    doc.

    Returns (source_a, source_b, n_a, n_b, n_common, jaccard,
    overlap_coef); pairs with zero shared shingles are absent.

    Scale shape: ONE corpus scan — text reduces immediately to distinct
    (source, shingle-digest) rows (shingles travel as xxhash64 digests,
    never text, gotcha 9). That frame feeds both the per-source counts
    and the per-shingle source sets, so it is localCheckpointed once
    (gotchas 16/24 — it is NARROW, two longs per row, safe to
    materialize, gotcha 36). Per-shingle source sets are bounded by the
    number of DISTINCT SOURCES S — a corpus-composition property
    (10–10^3 in practice), not a function of corpus size — so the pair
    expansion is ≤ S(S-1)/2 per shingle and the collect_set buffer is
    S-bounded. Per-source counts are S rows and broadcast back. For
    S beyond ~10^3, roll sources up (e.g. to eTLD+1 groups) upstream.
    """
    staged = _spread_small_input(df).select(
        F.col(source_col).alias("src"),
        # digests computed straight from the word tuples (no shingle
        # strings, no per-doc array_distinct — the stream below is
        # .distinct()-ed globally)
        word_shingle_hashes(_ws_words(F.col(text_col)), shingle_k).alias(
            "__cs_ss"
        ),
    )
    # EAGER checkpoint, deliberately unlike the gotcha-24 default: the
    # per-source count frames re-enter the plan as BROADCAST subqueries,
    # and Spark evaluates broadcast jobs concurrently — two lazy
    # consumers race to compute this frame before either persists it,
    # doubling the corpus scan (caught by the accumulator plan gate).
    sh = (
        staged.select("src", F.explode_outer("__cs_ss").alias("h"))  # gotcha 43
        .distinct()
        .localCheckpoint(eager=True)
    )
    per = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    sets = sh.groupBy("h").agg(F.sort_array(F.collect_set("src")).alias("srcs"))
    pairs = (
        sets.filter(F.size("srcs") >= 2)
        .select(
            # outer: size >= 2 makes the expansion non-empty (gotcha 43)
            F.explode_outer(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs) - i - 1), "
                    "b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("__p")
        )
        .groupBy(
            F.col("__p.source_a").alias("source_a"),
            F.col("__p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pa = per.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    pb = per.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(F.col("n_common") / union, 6).alias("jaccard"),
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 6).alias(
                "overlap_coef"
            ),
        )
    )


def duplicate_group_size_histogram(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Distribution of exact-duplicate group sizes: for each group size
    (1 = unique, 2 = one copy, ...) the number of content groups, the
    documents they account for, and that share of the corpus. The
    monitoring rollup over exact_duplicate_groups — a drifting tail
    (growing mass at size ≥ 2) is the earliest signal of a scraper loop
    or a mirror joining the crawl, visible without materializing any
    per-document output.

    Scale shape: ONE scan → digest hash-agg (map-side combine) → a
    second agg on group_size whose cardinality is tiny (≤ max group
    size). The histogram frame is localCheckpointed (narrow, bounded)
    because the corpus-share denominator re-reads it (gotchas 16/24).
    """
    cols = cols or ["text"]
    sizes = (
        df.select(content_hash(*cols).alias("__d"))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    hist = (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .withColumn("n_docs", F.col("group_size") * F.col("n_groups"))
        # eager: `total` re-enters the plan as a BROADCAST subquery while
        # hist is also the stream side — a lazy checkpoint races the
        # concurrent broadcast job into double-computing the digest
        # aggregate (gotcha 44; r5 ADVICE item)
        .localCheckpoint(eager=True)
    )
    total = hist.agg(F.sum("n_docs").alias("__t"))
    return hist.crossJoin(F.broadcast(total)).select(
        "group_size",
        "n_groups",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__t"), 6).alias("frac_docs"),
    )


def cluster_survivors(
    assignments: DataFrame,
    scores: DataFrame,
    priority_col: str,
    key_col: str = "doc_id",
    node_col: str = "node",
    cluster_col: str = "component",
) -> DataFrame:
    """Quality-aware survivor selection over a near-dup clustering:
    re-flag each cluster's survivor as the member with the HIGHEST
    `priority_col` (ties broken by min key, deterministic) instead of
    dedup_clusters' arbitrary min-key member. This is how production
    curation actually dedups — keep the longest / highest-classifier-
    score / most-recent copy, drop the mirrors — the score being
    whatever quality_score / hashed_linear_score / bigram fluency the
    pipeline already computed.

    `assignments` is a (node, component) frame (dedup_clusters /
    connected-components output); `scores` maps key_col → priority_col
    for at least every clustered node (inner join: unscored nodes drop,
    by design — score first, dedup second).

    Scale shape: one narrow join attaches priorities (clustered nodes
    only — a small fraction of the corpus), then the skew-safe
    two-stage top-1-per-group (plans/windows.py: map-local pre-trim
    bounds every sort group by the scan split — a single rank window
    would funnel a mega-cluster into one task). The survivor frame
    joins back on the cluster key, shuffle-side and narrow; the scored
    frame is localCheckpointed once for its two consumers (gotchas
    16/24)."""
    from dataprofiler_spark.plans.windows import top_rows_per_group

    scored = assignments.join(
        scores.select(
            F.col(key_col).alias(node_col), F.col(priority_col).alias("__cs_p")
        ),
        node_col,
    ).localCheckpoint(eager=False)
    surv = top_rows_per_group(
        scored, [cluster_col], [F.desc("__cs_p"), F.asc(node_col)], 1
    ).select(F.col(cluster_col), F.col(node_col).alias("__cs_surv"))
    return scored.join(surv, cluster_col).select(
        node_col,
        cluster_col,
        F.col("__cs_p").alias(priority_col),
        (F.col(node_col) == F.col("__cs_surv")).alias("is_survivor"),
    )
