"""Deterministic sampling + dataset splitting by content hash.

Training pipelines need train/val/test membership that is a pure FUNCTION
of the record key: stable across reruns, cluster sizes, partitioning, and
engine versions — `df.sample()`/`rand()` give none of that (reseeded per
task attempt; a retried task can emit a different sample). The standard
fix is hash-mod bucketing on the key.

The hash is the engine's portable md5-prefix family (dedup._shingle/
_token_long_hash lineage) so membership is reproducible OUTSIDE Spark too
(same buckets in DuckDB/Python — auditable splits, SQL-expressible
oracle). No shuffle, no state: membership is a map-side expression, and
the split column is a partition-pruning-friendly literal.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataprofiler_spark.functions.expressions import words as _ws_words

BUCKETS = 10_000  # split resolution: 0.01%


def _md5_prefix_long(key: Column, salt: str, n_hex: int) -> Column:
    """First `n_hex` hex chars of md5(salt || key) as a long — the ONE
    copy of the module's portable hash chain (every oracle replays
    `CAST('0x' || substr(md5(...), 1, n) AS BIGINT)` against it)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, n_hex), 16, 10
    ).cast("long")


def hash_bucket(key: str | Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000): first 15 hex chars of
    md5(salt || key) mod 10000. The salt decorrelates independent splits
    over the same key (e.g. a second holdout)."""
    key_col = F.col(key) if isinstance(key, str) else key
    return (_md5_prefix_long(key_col, salt, 15) % BUCKETS).cast("int")


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by key hash. `splits` maps name →
    fraction (must sum to ≤ 1.0; any remainder becomes 'rest'). Contiguous
    bucket ranges in the given order, so adding a later split never
    reshuffles earlier memberships."""
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    b = hash_bucket(key_col, salt)
    expr = None
    lo = 0
    for name, frac in splits.items():
        hi = lo + int(round(frac * BUCKETS))
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn(out_col, expr.otherwise("rest"))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Stable `fraction`-sample by key hash: the SAME rows on every rerun,
    any partitioning, any cluster size — and supersets nest (a 1% sample
    is a subset of the 10% sample with the same salt)."""
    return df.filter(hash_bucket(key_col, salt) < int(round(fraction * BUCKETS)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic BALANCED subset: exactly min(n, |stratum|) rows per
    stratum, selected by md5-hash rank with a key tie-break — the standard
    'equal rows per language/source' training-mix op. Pure function of
    (key, salt): stable across reruns/cluster sizes, supersets nest
    (n=100 ⊂ n=1000), and the rank order is SQL-reproducible (oracle uses
    the same ROW_NUMBER over md5).

    Skew-safe rank (plans/windows.top_rows_per_group): a stratum can be
    most of the corpus, and a single rank window would shuffle and sort
    all of its rows in one task; the map-local pre-trim bounds every sort
    group at the scan split. The hash rank has a key tie-break (total
    order), so the two-stage result is bit-identical to the single
    window — and still SQL-reproducible (the oracle's ROW_NUMBER over the
    same md5 expression)."""
    from dataprofiler_spark.plans.windows import top_rows_per_group

    df = df.withColumn(
        "__h", F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    )
    return top_rows_per_group(
        df, [strata_col], [F.col("__h"), F.col(key_col)], n_per_stratum
    ).drop("__h")


def mix_plan(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    total_rows: int,
) -> DataFrame:
    """Sampling plan for resampling a corpus to a target mixture: for each
    group, the hash-sampling rate that yields `targets[g] * total_rows`
    rows (capped at 1.0 — a group cannot be up-sampled by filtering, only
    a deficit reported). Groups absent from `targets` get rate 0.
    Returns (group, n_rows, target_frac, rate, want_rows, deficit).

    One group-sized aggregate; the plan frame is broadcast-sized (one row
    per source/language)."""
    frac = sum(targets.values())
    # tolerance matches the 6dp rounding of temperature_targets' output
    # (each rounded fraction can carry +5e-7; a genuinely over-budget mix
    # still raises)
    if frac > 1.0 + 1e-4:
        raise ValueError(f"target fractions sum to {frac} > 1")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    tmap = F.create_map(
        *[x for k, v in sorted(targets.items()) for x in (F.lit(k), F.lit(float(v)))]
    )
    target_frac = F.coalesce(tmap[F.col(group_col)], F.lit(0.0))
    want = target_frac * F.lit(float(total_rows))
    rate = F.least(F.lit(1.0), want / F.greatest(F.col("n_rows"), F.lit(1)))
    # rate quantized to the hash-bucket resolution so it states what the
    # deterministic filter actually delivers, not the real-valued target
    qrate = F.round(rate * BUCKETS, 0) / BUCKETS
    return counts.select(
        group_col,
        "n_rows",
        F.round(target_frac, 6).alias("target_frac"),
        F.round(qrate, 6).alias("rate"),
        F.ceil(want).cast("long").alias("want_rows"),
        (want > F.col("n_rows") + 0.5).alias("deficit"),
    )


def mix_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    targets: dict[str, float],
    total_rows: int,
    salt: str = "",
) -> DataFrame:
    """Resample to a target mixture (the 'data mixing' step of a training
    pipeline): keep each row iff its key hash-bucket falls under its
    group's planned rate. Deterministic (pure function of key + salt +
    counts), rerun-stable, supersets nest as total_rows grows. The plan
    join is broadcast (one row per group) — no extra shuffle; the filter
    itself is map-side."""
    plan = mix_plan(df, group_col, targets, total_rows).select(
        F.col(group_col).alias("__g"), "rate"
    )
    return (
        df.join(F.broadcast(plan), F.col(group_col).eqNullSafe(F.col("__g")))
        .filter(
            # round, don't truncate: rate was quantized to 1/BUCKETS, so
            # rate*BUCKETS is integral up to float error — a cast would
            # floor 1249.9999... to 1249
            hash_bucket(key_col, salt)
            < F.round(F.col("rate") * BUCKETS, 0).cast("int")
        )
        .drop("__g", "rate")
    )


def temperature_targets(
    df: DataFrame, group_col: str, temperature: float
) -> DataFrame:
    """Temperature-scaled mixture targets: p_g ∝ n_g^T (T=1 keeps natural
    proportions, T→0 approaches uniform) — the standard multilingual
    rebalancing rule (e.g. T≈0.3 upweights low-resource languages).
    Returns (group, n_rows, target_frac) with fractions summing to 1;
    group-count-sized frame. Feed the dict form into mix_plan/mix_sample:

        t = {r[group_col]: r.target_frac for r in
             temperature_targets(df, "lang", 0.3).collect()}
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    # NULL groups are excluded: they cannot be addressed as a dict key in
    # mix_plan's targets (and an unnamed bucket has no place in a mix)
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = F.pow(F.col("n_rows").cast("double"), F.lit(float(temperature)))
    tot = F.sum(w).over(Window.partitionBy())
    return counts.select(
        group_col,
        "n_rows",
        F.round(w / tot, 6).alias("target_frac"),
    )


def select_token_budget(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    budget: int,
    key_col: str = "doc_id",
    num_buckets: int = 64,
    flag_col: str = "selected",
    sample_error: float = 0.001,
) -> DataFrame:
    """Flag the highest-quality documents whose tokens fit a global
    training budget: `selected` = the doc lies in the maximal prefix of
    the (score DESC, key ASC) order whose cumulative `tokens_col` stays
    ≤ `budget` (whole documents only — the boundary-crossing doc is NOT
    taken, so the budget is never exceeded).

    The naive plan — ORDER BY score DESC + a global cumulative-sum
    window — is an Exchange SinglePartition: one task sorts and scans
    the entire corpus (a naive global rank measured 3.4× slower than a
    range-bucketed one at 40M rows, BENCH/BASELINE.md). The cure,
    weighted: score-range bucketing makes the cumsum exact
    with every sort bounded to ~n/num_buckets rows:

    1. approxQuantile cuts on score — any sketch error skews bucket
       SIZES, never selection (ranges stay disjoint + ordered);
    2. one hash aggregate of token mass per bucket → driver running
       offsets (≤ num_buckets scalars): each bucket knows exactly how
       many tokens precede it in the global descending order;
    3. cumsum window partitioned BY BUCKET over (score DESC, key) +
       the bucket's offset = the exact global running total.

    Deterministic iff `key_col` is unique (the usual tie rule). NULL
    score or tokens raise — a doc with no score has no place in a
    quality order."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    score, toks = F.col(score_col), F.col(tokens_col)
    probs = [i / num_buckets for i in range(1, num_buckets)]
    cuts = sorted(set(df.stat.approxQuantile(score_col, probs, sample_error)))
    # bucket 0 = HIGHEST scores (descending global order): the bucket
    # index is the number of cuts STRICTLY ABOVE the score, so s1 > s2
    # ⟹ bucket(s1) ≤ bucket(s2) — ranges disjoint + order-consistent.
    # Boolean-cast sum stays codegen'd (gotcha 15); ties around a cut
    # only shift bucket sizes.
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (score < F.lit(c)).cast("int")
    # NULL score/tokens route to a NULL bucket so the (already required)
    # mass aggregate detects them without a separate validation scan
    staged = df.withColumn(
        "__b", F.when(score.isNotNull() & toks.isNotNull(), bucket)
    )
    mass = {
        r["__b"]: r["m"]
        for r in staged.groupBy("__b")
        .agg(F.coalesce(F.sum(toks.cast("long")), F.count(F.lit(1))).alias("m"))
        .collect()
    }
    if None in mass:
        raise ValueError(
            f"select_token_budget: NULL {score_col}/{tokens_col} values have "
            "no place in a quality order — filter or impute them first"
        )
    offsets, run = {}, 0
    for b in sorted(mass):
        offsets[b] = run
        run += mass[b]
    off = F.lit(0)
    for b, o in offsets.items():
        off = F.when(F.col("__b") == b, F.lit(o)).otherwise(off)
    w = (
        Window.partitionBy("__b")
        .orderBy(F.desc(score_col), F.asc(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = off + F.sum(toks.cast("long")).over(w)
    return staged.withColumn(flag_col, running <= F.lit(int(budget))).drop("__b")


# --------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select raw-corpus documents whose hashed n-gram
# distribution looks like a small TARGET corpus. The standard
# domain-targeted pre-training-data selection op (used for The Pile →
# domain subsets, and by several open data recipes).
#
# Three composable stages, all deterministic and SQL-replayable:
#   dsir_log_ratios  — fit two hashed bag-of-words models, emit per-bucket
#                      log(p_target/p_raw) (a broadcast-sized table);
#   dsir_score       — per-document log importance weight = Σ_word ratio;
#   dsir_resample    — Gumbel top-k over the weights with hash-derived
#                      noise (the paper's sampling-without-replacement).
# --------------------------------------------------------------------------


def _word_bucket(w: Column, n_buckets: int) -> Column:
    """Hashed-feature bucket for a word — the shared expression in
    textstats.hashed_word_bucket (ONE Python copy; both the classifier
    and DSIR oracles replay it verbatim). Lazy import: textstats never
    imports sampling, so no cycle."""
    from dataprofiler_spark.operators.textstats import hashed_word_bucket

    return hashed_word_bucket(w, n_buckets)


def _bucket_counts(df: DataFrame, text_col: str, n_buckets: int, out: str) -> DataFrame:
    words = df.select(
        F.explode_outer(_ws_words(F.col(text_col))).alias("__w")  # gotcha 43
    ).filter(F.col("__w").isNotNull())
    return words.groupBy(_word_bucket(F.col("__w"), n_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias(out)
    )


@dataclass
class DsirModel:
    """Fitted DSIR importance model: `ratios` is a ≤ n_buckets-row frame
    (bucket:long, log_ratio:double); `oov_log_ratio` is the smoothed ratio
    for buckets unseen in BOTH corpora (a constant)."""

    ratios: DataFrame
    oov_log_ratio: float
    n_buckets: int
    target_tokens: int
    raw_tokens: int


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1 << 16,
    alpha: float = 1.0,
) -> DsirModel:
    """Fit the DSIR importance model: hashed unigram counts per corpus →
    per-bucket log((cnt_t + α)/(T_t + αB)) − log((cnt_r + α)/(T_r + αB))
    (add-α smoothed bag-of-words log-likelihood ratio).

    Scale shape: each corpus contributes ONE explode → hash-aggregate pass
    (map-side combine; the shuffle carries ≤ n_buckets narrow rows per
    corpus, regardless of corpus size). The counts frames are
    localCheckpoint'ed (gotcha 24) because each is consumed twice (total +
    join) — without it the totals aggregate would re-run the corpus scan
    (gotcha 16). The ratio table is bucket-bounded: broadcast-sized by
    construction, never corpus-sized. The two `.collect()`s are one scalar
    each (documented aggregate-sized driver transfer)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (smoothing), got {alpha}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    tc = _bucket_counts(target, text_col, n_buckets, "cnt_t").localCheckpoint(
        eager=False
    )
    rc = _bucket_counts(raw, text_col, n_buckets, "cnt_r").localCheckpoint(
        eager=False
    )
    t_total = int(tc.agg(F.sum("cnt_t")).collect()[0][0] or 0)
    r_total = int(rc.agg(F.sum("cnt_r")).collect()[0][0] or 0)
    b = float(n_buckets)
    t_den = t_total + alpha * b
    r_den = r_total + alpha * b
    ratios = tc.join(rc, "bucket", "full_outer").select(
        "bucket",
        (
            F.log((F.coalesce(F.col("cnt_t"), F.lit(0)) + F.lit(alpha)) / F.lit(t_den))
            - F.log(
                (F.coalesce(F.col("cnt_r"), F.lit(0)) + F.lit(alpha)) / F.lit(r_den)
            )
        ).alias("log_ratio"),
    )
    oov = math.log(alpha / t_den) - math.log(alpha / r_den)
    return DsirModel(ratios, oov, n_buckets, t_total, r_total)


def dsir_score(
    df: DataFrame,
    model: DsirModel,
    key_col: str = "doc_id",
    text_col: str = "text",
    logw_col: str = "log_weight",
) -> DataFrame:
    """Per-document log importance weight: Σ over the doc's words of the
    bucket log-ratio (OOV buckets get the model's smoothed constant).
    Returns (key, logw rounded 6dp) — one row per input row.

    Shape: explode_outer words (empty docs stay, weight 0 — a doc with no
    text is mixture-neutral, surfaced not dropped) → broadcast join on the
    bucket-bounded ratio table → hash-aggregate sum per key. The shuffle
    carries (key, partial sum) after map-side combine."""
    words = df.select(
        F.col(key_col),
        F.explode_outer(_ws_words(F.col(text_col))).alias("__w"),
    )
    staged = words.withColumn(
        "__bucket",
        F.when(F.col("__w").isNotNull(), _word_bucket(F.col("__w"), model.n_buckets)),
    )
    joined = staged.join(
        F.broadcast(model.ratios.withColumnRenamed("bucket", "__bucket")),
        "__bucket",
        "left",
    )
    contrib = F.when(F.col("__w").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(F.col("log_ratio"), F.lit(model.oov_log_ratio))
    )
    return (
        joined.groupBy(key_col)
        .agg(F.round(F.sum(contrib), 6).alias(logw_col))
    )


def dsir_resample(
    df: DataFrame,
    k: int,
    logw_col: str = "log_weight",
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic Gumbel top-k resampling: score = log_weight +
    Gumbel(0,1) noise derived from md5(salt || key); the top k scores are
    an exact sample-without-replacement from softmax(log_weight) (the
    Gumbel-max trick DSIR prescribes). Pure function of (key, salt) —
    rerun-stable across partitionings and cluster sizes, and the noise is
    SQL-reproducible (same md5 → uniform → −ln(−ln u) chain in DuckDB).

    The selection orders by the 6dp-ROUNDED score with a key tie-break so
    both engines agree on the boundary regardless of float summation
    order; `orderBy().limit(k)` compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort (scale-safe top-k)."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    key = F.col(key_col)
    # uniform in (0,1): 52-bit md5 prefix (13 hex), offset by 0.5 so
    # u∉{0,1}. 52 bits is EXACT in a double — a 60-bit prefix rounds
    # values near 2^60 up to 2^60, making u == 1.0 and gumbel NULL in
    # Spark / a hard ln(0) error in the DuckDB replay (~2^-54 per row,
    # nonzero at the corpus design scale).
    h = _md5_prefix_long(key, salt, 13).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 52))
    gumbel = -F.log(-F.log(u))
    scored = df.withColumn("__dsir_g", F.round(F.col(logw_col) + gumbel, 6))
    return scored.orderBy(F.desc("__dsir_g"), key.asc()).limit(k).drop("__dsir_g")


def leakage_safe_split(
    df: DataFrame,
    splits: dict[str, float],
    content_cols: tuple[str, ...] = ("text",),
    key_col: str = "doc_id",
    clusters: DataFrame | None = None,
    node_col: str = "node",
    cluster_col: str = "component",
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Train/eval splits that CANNOT leak duplicates across the boundary:
    split membership keys on CONTENT identity, not the row id — an
    id-keyed 80/10/10 split scatters byte-identical copies across
    train and test, silently inflating eval. Exact mode (clusters=None)
    keys on an md5 content digest, so exact copies land in one split by
    construction. Pass a near-dup `clusters` frame (dedup_clusters /
    connected-components output) and clustered docs key on their cluster
    label instead — near-duplicates stay together too; unclustered docs
    fall back to their digest.

    The digest is md5 (not xxhash64) so split membership is replayable
    in any SQL engine — auditable across engines like hash_split.

    Scale shape: the digest is a map-side projection; the optional
    cluster attach is ONE narrow left join on the key (clusters hold
    only dup members — a small fraction of the corpus); membership is
    then hash_split over the derived key, pure map-side."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols
    ]
    keyed = df.withColumn("__ls_k", F.md5(F.concat_ws("\x1f", *parts)))
    if clusters is not None:
        lab = clusters.select(
            F.col(node_col).alias(key_col),
            F.col(cluster_col).cast("string").alias("__ls_c"),
        )
        keyed = keyed.join(lab, key_col, "left").withColumn(
            "__ls_k",
            F.coalesce(F.concat(F.lit("c:"), F.col("__ls_c")), F.col("__ls_k")),
        ).drop("__ls_c")
    return hash_split(keyed, "__ls_k", splits, salt, out_col).drop("__ls_k")
