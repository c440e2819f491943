"""Physical-plan quality gates: these assert the plans we DESIGNED for,
not just whatever passed — filter/column pushdown to the parquet scan,
broadcast for dimension joins, whole-stage codegen on the hot path, salted
exchanges, digest (not payload) shuffles. A regression that silently
changes the plan shape fails here even if results stay correct."""

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators.checks import (
    equality_frame,
    row_check_frame,
    run_sequence_suite,
    verdicts_and_violations,
)
from dataprofiler_spark.operators.profile import profile
from dataprofiler_spark.sources import gen_sources_ref

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_column_pushdown(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p
    # column pruning: text (the wide column) must not be read
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in p


def test_profile_scan_prunes_to_projected_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = profile(docs, "documents", columns=["n_chars"])
    p = plan_of(q)
    # profiling one column must not scan the text payload
    assert "text" not in p.split("ReadSchema:")[1].split("\n")[0]


def test_ri_check_uses_broadcast(spark):
    """RI flags orphans through a broadcast LEFT join with the registered
    partitions inside the row-check scan: the child is never shuffled for
    the join (no sort-merge or shuffled-hash join)."""
    from dataprofiler_spark.sources.synthetic import gen_sequences

    df = gen_sequences(spark, 1000)
    v, _ = verdicts_and_violations(row_check_frame(df, [], registered=gen_sources_ref(spark)), "t")
    p = plan_of(v)
    assert "BroadcastHashJoin" in p and "LeftOuter" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_equality_prefilter_shuffles_digests_not_arrays(spark):
    from dataprofiler_spark.sources.synthetic import gen_sequences

    a, b = gen_sequences(spark, 1000), gen_sequences(spark, 1000)
    v, _ = verdicts_and_violations(equality_frame(a, b, exact=False), "t")
    p = plan_of(v)
    assert "ShuffledHashJoin" in p
    # the join must not ship token arrays through the exchange — the
    # digest projection (xxhash64) happens below the join
    assert "xxhash64" in p
    # no Python anywhere in the prefilter suite, verdicts nor violations:
    # no UDF, and the registered partitions are a LocalRelation, not a
    # Python RDD (Scan ExistingRDD)
    suite = run_sequence_suite(a, gen_sources_ref(spark), reference=b, exact=False)
    for frame in (suite.verdicts, suite.violations):
        plan = plan_of(frame)
        assert "ArrowEvalPython" not in plan
        assert "Scan ExistingRDD" not in plan, plan


def test_equality_full_mode_uses_arrow_udf(spark):
    from dataprofiler_spark.sources.synthetic import gen_sequences

    a, b = gen_sequences(spark, 1000), gen_sequences(spark, 1000)
    v, _ = verdicts_and_violations(equality_frame(a, b, exact=True), "t")
    # vectorized, never BatchEvalPython — and evaluated once per joined row
    assert plan_of(v).count("ArrowEvalPython") == 1


def test_profile_wholestage_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = profile(docs, "documents", exact=False)
    q.collect()  # AQE reveals codegen spans only in the final executed plan
    p = plan_of(q)
    assert "*(" in p  # '*(n)' node prefixes = whole-stage codegen spans
    assert "Batched: true" in p  # vectorized parquet reader


def test_exact_profile_is_two_jobs_joined(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(profile(docs, "documents", group_by=["lang"], exact=True))
    assert "Expand" in p  # distinct pass (non-numeric columns)
    # r6: exact medians ride a numeric-column unpivot (Generate explode)
    # feeding percentile's FREQUENCY form — the percentile aggregate must
    # never sit inside the Expand subtree's aggregate (the 6x sort-based
    # fallback of gotcha 7), and the metric pass itself carries no
    # percentile buffers at all
    expand_idx = p.index("Expand")
    pct_idx = p.index("percentile")
    gen_idx = p.index("Generate explode")
    assert pct_idx != -1 and gen_idx != -1
    # the percentile consumes the exploded unpivot, not the Expand side
    assert "percentile" not in p[expand_idx : expand_idx + 400]


def test_salted_profile_exchanges_on_salt(spark):
    from dataprofiler_spark.plans.salting import salted_numeric_profile
    from dataprofiler_spark.sources.synthetic import gen_sequences

    df = gen_sequences(spark, 2000)
    p = plan_of(salted_numeric_profile(df, "n_tok", "source", salt_buckets=8))
    assert "__salt" in p and "hll_union_agg" in p.lower() or "HllUnionAgg" in p


def test_lsh_has_single_signature_computation(spark):
    from dataprofiler_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(lsh_candidate_pairs(docs, "doc_id"))
    # groupBy-bucket design: exactly one scan of documents (a self-join
    # would show two)
    assert p.count("Scan parquet") == 1


def test_violation_cap_window_keyed_per_partition(spark):
    """The violation-cap window must partition on (check_name,
    partition_value) — a check_name-only key funnels every violating row
    of a check through ONE reducer under mass failure."""
    from dataprofiler_spark.operators.checks import RowCheck

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("source")
    )
    _, violations = verdicts_and_violations(
        row_check_frame(df, [RowCheck("always", F.lit(True), F.lit("x"))]), "t"
    )
    p = optimized_of(violations)
    w = p[p.index("Window") :].split("\n")[0]
    assert "check_name" in w and "partition_value" in w


def test_suite_verdicts_scan_count(spark, tmp_path):
    """The verdict action must read the input exactly TWICE without a
    reference (the row-check/RI/empty aggregate + the uniqueness pair
    aggregate) and FOUR times with one (+ the two digest scans of the
    prefilter equality join) — Spark does not share FileScan nodes across
    plan branches, so every un-fused operator is a whole extra pass at
    10^12 rows."""
    from dataprofiler_spark.sources import gen_sources_ref
    from dataprofiler_spark.sources.synthetic import gen_sequences

    gen_sequences(spark, 2000, violations=True).write.mode("overwrite").parquet(
        str(tmp_path / "bad")
    )
    gen_sequences(spark, 2000).write.mode("overwrite").parquet(str(tmp_path / "ref"))
    bad = spark.read.parquet(str(tmp_path / "bad"))
    ref = spark.read.parquet(str(tmp_path / "ref"))
    no_ref = run_sequence_suite(bad, gen_sources_ref(spark))
    assert plan_of(no_ref.verdicts).count("Scan parquet") == 2
    with_ref = run_sequence_suite(
        bad, gen_sources_ref(spark), reference=ref, exact=False
    )
    p = plan_of(with_ref.verdicts)
    assert p.count("Scan parquet") == 4
    # the uniqueness window exchange stays narrow — token arrays must not
    # ride that shuffle
    window_section = p[p.index("Window") :].split("Scan parquet")[0]
    assert "tokens" not in window_section


def test_connected_components_shuffles_narrow_rows(spark):
    """CC iterations join (id, id) edge rows with (id, id) label rows —
    no payload columns may survive into the loop's exchanges."""
    from dataprofiler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "key1 bigint, key2 bigint"
    )
    out = connected_components(pairs)
    rows = {r.node: r.component for r in out.collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert [f.name for f in out.schema.fields] == ["node", "component"]


def test_new_ops_plan_shapes(spark):
    """Round-3 operators keep their designed physical shapes: the
    anomaly stats side is BROADCAST (never a shuffle of the events
    against tiny metadata)."""
    from dataprofiler_spark.operators.growth import daily_count_anomalies

    ev = spark.createDataFrame(
        [("2024-01-01 10:00:00", "a")], "ts_s string, event_type string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    p = plan_of(daily_count_anomalies(ev, "event_type"))
    assert "BroadcastHashJoin" in p


def test_round3_addition_plan_shapes(spark):
    """PII is map-side expressions over one scan; KS is a tagged union
    into ONE aggregate (no two-aggregate + full-outer merge); nothing new
    routes through a Python UDF."""
    from dataprofiler_spark.operators.drift import ks_statistic
    from dataprofiler_spark.operators.pii import pii_summary
    from dataprofiler_spark.queries import queries

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(pii_summary(docs))
    assert p.count("Scan parquet") == 1
    assert "EvalPython" not in p

    k = plan_of(
        ks_statistic(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            "n_chars",
            "lang",
        )
    )
    assert "EvalPython" not in k
    # tagged-union merge: exactly ONE hash-aggregate shuffle feeds the
    # window (two sides x partial+final = 2 HashAggregate pairs would show
    # as >2 Exchange hops before the window sort)
    assert k.count("Union") == 1

    q = plan_of(queries()["robust_anomalies_events"](spark, SF))
    assert "EvalPython" not in q
    assert "BroadcastHashJoin" in q  # MAD joins back broadcast, not shuffled


def test_file_layout_report(spark, tmp_path):
    """Small-file diagnosis from a metadata-only FS listing: a table
    written as many tiny files trips needs_compaction with a sane
    recommended file count; a compacted copy does not."""
    from dataprofiler_spark.plans.layout import file_layout_report, list_data_files

    frag = str(tmp_path / "frag")
    spark.range(0, 10000).repartition(40).write.parquet(frag)
    listing = list_data_files(spark, frag)
    assert listing.count() == 40

    rep = file_layout_report(spark, frag, small_file_mb=1.0).collect()[0]
    assert rep.n_files == 40 and rep.small_files == 40
    assert rep.needs_compaction is True and rep.small_fraction == 1.0
    assert rep.recommended_files == 1  # tiny table -> one target file

    compact = str(tmp_path / "compact")
    spark.range(0, 10000).coalesce(1).write.parquet(compact)
    rep2 = file_layout_report(spark, compact, small_file_mb=0.00001).collect()[0]
    assert rep2.n_files == 1 and rep2.needs_compaction is False

    # empty directory: a zero-row report, no crash
    empty = str(tmp_path / "empty")
    import os

    os.makedirs(empty)
    rep3 = file_layout_report(spark, empty).collect()[0]
    assert rep3.n_files == 0 and rep3.needs_compaction is False


def test_join_size_estimate(spark):
    """Hot keys are counted EXACTLY (estimate == truth when top_k covers
    every key); a planted hot key flips the explodes flag; uniform tails
    estimate within a small factor of the true join size."""
    from dataprofiler_spark.plans.advisor import join_size_estimate

    # uniform: 1000 rows x 100 keys each side -> join = 100 * 10 * 10
    a = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    b = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    r = join_size_estimate(a, b, "k", top_k=200).collect()[0]
    exact = a.join(b, "k").count()
    assert r.estimated_rows == exact == 10_000  # full hot coverage: exact
    assert r.explodes is False

    # skew: one key holds 50% of each side -> quadratic blowup flagged
    sa = spark.range(0, 10000).select(
        F.when(F.col("id") < 5000, F.lit(0)).otherwise(F.col("id")).alias("k")
    )
    r2 = join_size_estimate(sa, sa, "k", top_k=10).collect()[0]
    exact2 = sa.join(sa.withColumnRenamed("k", "k2"), F.col("k") == F.col("k2")).count()
    assert r2.worst_key_rows == 5000 * 5000
    assert r2.explodes is True
    # hot part exact, tail estimated: total within 2% here
    assert abs(r2.estimated_rows - exact2) / exact2 < 0.02

    # NULL keys never join and never count
    na = spark.createDataFrame([(None,), (1,)], "k int")
    r3 = join_size_estimate(na, na, "k").collect()[0]
    assert r3.rows_a == 1 and r3.estimated_rows == 1


def test_connected_components_execute_pair_plan_once(spark):
    """Regression gate for the r4 CC fix: the candidate-pair plan (the
    full LSH pipeline in production) must execute EXACTLY once per
    clustering call — before the fix every propagation round re-executed
    it. Counted via an accumulator-ticking UDF planted in the pair plan
    (UDFs evaluate once per row per plan execution)."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    for fn in (connected_components, connected_components_star):
        acc = spark.sparkContext.accumulator(0)

        @F.udf("long")
        def tick(x):
            acc.add(1)
            return x

        base = spark.createDataFrame(edges, "key1 bigint, key2 bigint")
        pairs = base.select(tick("key1").alias("key1"), "key2")
        out = fn(pairs)
        assert out.count() > 0
        assert acc.value == len(edges), (fn.__name__, acc.value)


def test_ks_wasserstein_single_shuffle_grouped_window(spark):
    """VERDICT r4 #6: the exact-KS / W1 tagged-union merge must stay ONE
    shuffle (union -> single hash aggregate over (group, value)) and the
    cumulative window must partition BY GROUP — a SinglePartition window
    would funnel the whole corpus's distinct values through one task at
    scale. Expected shape: exactly 2 Exchanges (the merge agg + the
    group-keyed window), zero SinglePartition stages, and no
    full-outer-join merge (the 3-shuffle shape this replaced)."""
    from dataprofiler_spark.operators.drift import ks_statistic, wasserstein_1d

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    for op in (ks_statistic, wasserstein_1d):
        p = plan_of(op(base, cur, "n_chars", group_col="source"))
        assert "SinglePartition" not in p, p
        assert p.count("Exchange hashpartitioning") == 2, p
        # window partitions by the group key
        assert "windowspecdefinition(source" in p, p
        assert "FullOuter" not in p and "SortMergeJoin" not in p, p


def test_drift_by_group_one_aggregate_no_join(spark, tmp_path_factory):
    """drift_by_group merges its two inputs with a tagged union and ONE
    aggregate: no join node of any kind (the null-safe full-outer merge
    sorted the stored baseline against the current histogram, and its
    eqNullSafe keys re-shuffled the already-aggregated side), and each
    input is scanned exactly once (the per-group totals are window sums
    over the merged rows, not a second read of each input)."""
    from dataprofiler_spark.operators.drift import drift_by_group

    # a short directory: a scan's Location is cut at 100 characters
    d = tmp_path_factory.mktemp("drift")
    rows = [("a", 0.0, 5), ("a", 16.0, 3), (None, None, 2), ("b", 0.0, 4)]
    for name in ("base", "cur"):
        spark.createDataFrame(rows, "source string, bucket double, cnt long").write.parquet(
            str(d / name)
        )
    base, cur = (spark.read.parquet(str(d / name)) for name in ("base", "cur"))
    p = plan_of(drift_by_group(base, cur, "source"))
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert join not in p, p
    scans = [line for line in p.split("\n") if "Scan parquet" in line]
    assert len(scans) == 2, p
    for name in ("base", "cur"):
        assert sum(f"{d / name}]" in line for line in scans) == 1, p


def test_round5_composition_ops_plan_shapes(spark):
    """category_diversity is a single-scan UDF-free aggregate."""
    from dataprofiler_spark.operators.profile import category_diversity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(category_diversity(docs, "source"))
    assert p.count("Scan parquet") == 1
    assert "EvalPython" not in p


def test_fertility_and_survivors_plan_shapes(spark):
    """cluster_survivors ranks via the skew-safe two-stage window — no
    SinglePartition stage, no Python."""
    from dataprofiler_spark.operators.dedup import cluster_survivors

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assignments = spark.createDataFrame(
        [(1, 1), (2, 1)], "node long, component long"
    )
    scores = docs.select("doc_id", F.col("n_chars").alias("priority"))
    s = plan_of(cluster_survivors(assignments, scores, "priority"))
    assert "SinglePartition" not in s
    assert "EvalPython" not in s
    # both windows of the two-stage top-1 partition by the cluster key
    # (count operator nodes, not WindowGroupLimit pushdowns — those are
    # the rank-limit optimization and welcome)
    assert s.count("- Window [") == 2


def test_profile_split_median_wide_pass_stays_hash_aggregate(spark):
    """ONE var-width field in an aggregation buffer pushes the whole
    shared metric pass from HashAggregate to SortAggregate (gotcha-28
    family) — the r6.0 first(NULL::string) placeholder for non-minmax
    columns did exactly that, sorting every partition of full rows
    (33 s vs 8 s on the 12M-row lineitem wide pass, superlinear via
    sort spill). The placeholder now keeps a double buffer and casts in
    the result expression; this pins the split-median path's plan (>= 3
    numeric columns + a string column) to hash aggregation."""
    df = spark.range(100).select(
        F.col("id").alias("g"),
        F.col("id").cast("double").alias("a"),
        (F.col("id") * 2).cast("double").alias("b"),
        (F.col("id") * 3).cast("double").alias("c"),
        F.col("id").cast("string").alias("s"),
    )
    out = profile(df, "t", group_by=["g"], exact=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan


def test_spread_probe_never_executes_shuffled_lineage(spark):
    """_spread_small_input must not convert a plan WITH exchanges to an
    RDD: under AQE that executes the upstream query stages at operator
    CONSTRUCTION time (then the real query re-runs them). A planted
    counting UDF below an aggregate proves construction stays lazy; the
    raw few-split scan path still spreads."""
    from dataprofiler_spark.operators.dedup import (
        _spread_small_input,
        lsh_candidate_pairs,
    )

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(s):
        acc.add(1)
        return s

    base = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i}", i % 3) for i in range(30)],
        "doc_id long, text string, g long",
    )
    # shuffled lineage: join through an aggregate output
    keys = base.select(tick("text").alias("text"), "doc_id", "g")
    agg = keys.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    shuffled = keys.join(agg, "g")
    # an Exchange in the plan: no probe, no repartition, nothing runs
    assert _spread_small_input(shuffled) is shuffled
    assert acc.value == 0, acc.value
    # the operator that spreads its input stays lazy too, and its one
    # action scans the shuffled lineage once (the unguarded df.rdd probe
    # added a second full pass)
    op = lsh_candidate_pairs(shuffled, "doc_id")
    assert acc.value == 0, acc.value
    assert op.count() >= 0
    assert acc.value == 30, "the shuffled lineage ran more than once"
    # raw small scan still spreads to defaultParallelism
    spread = _spread_small_input(base)
    assert (
        spread.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
