"""Metric-expression compiler: the single multi-aggregate profiling pass.

The reference computes dbt-profiler statistics by issuing up to THREE full
table scans **per column**, serially, over a fresh DB connection each
(/root/reference/src/core/metrics.py:232-414, connections at :254,396-397).
Here the entire TableProfile — every metric for every column, optionally
per partition — is ONE ``df.groupBy(...).agg(...)`` job: Catalyst fuses all
aggregates into a single scan with partial (map-side) + final hash
aggregation, so cost is O(1 scan) regardless of column count, and adding a
grouping key gives the per-partition verdict matrix for free.

Metric semantics parity (citations into /root/reference/src/core/metrics.py):
  row_count           exact count            (:100-190; we always use exact —
                                              the reference's catalog estimate
                                              can disagree with proportions,
                                              see its own warning :184-185)
  not_null_count      COUNT(col)             (:271-281)
  distinct_count      COUNT(DISTINCT col)    (:271-282); approx mode =
                                              HyperLogLog++ approx_count_distinct
  not_null_proportion round(nn/rc, 4)        (:284-285, :404)
  distinct_proportion round(dc/rc, 4)        (:286, :405)
  is_unique           dc == nn AND nn > 0    (:287)
  min/max             CAST(MIN/MAX AS string), gated to numeric+date/time
                      types                  (:211-229, :293-338)
  avg                 AVG, round 6           (:349-392, :410)
  median              percentile 0.5, round 6 (:350-385); approx mode =
                                              percentile_approx (t-digest-like)
  stddev_pop/samp     round 6                (:354-385, :412-413)

Deliberate divergence from the reference (SURVEY.md §4.3): the reference's
``round(x, 4) if x else None`` maps a legitimate 0.0 to None
(metrics.py:404-413). We preserve 0.0 as 0.0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: HLL++ relative standard deviation of the approx-mode distinct count
APPROX_RSD = 0.02
PROP_DECIMALS = 4  # metrics.py:404-405
NUM_DECIMALS = 6  # metrics.py:410-413


def is_numeric(dt: T.DataType) -> bool:
    """Type gate for avg/median/stddev (metrics.py:193-208)."""
    return isinstance(dt, T.NumericType)


def is_minmax_supported(dt: T.DataType) -> bool:
    """Type gate for min/max: numeric + date/time, per dbt-profiler
    convention (metrics.py:211-229)."""
    return isinstance(dt, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType))


def _metric_struct(
    field: T.StructField,
    exact: bool,
    inline_median: bool = False,
) -> Column:
    """Non-distinct aggregates for one column, as a uniform struct (so
    per-column structs can be stacked into an array and exploded to long
    format). The distinct count is merged from the joined distinct pass
    in exact mode, or computed inline via HLL++ in approx mode — see
    `profile` for why."""
    c = F.col(field.name)
    dt = field.dataType
    null_d = F.lit(None).cast("double")

    distinct = (
        F.lit(None)  # merged from the distinct pass after the join
        if exact
        else F.approx_count_distinct(c, APPROX_RSD)
    )

    if is_minmax_supported(dt):
        mn, mx = F.min(c).cast("string"), F.max(c).cast("string")
    else:
        # NULL placeholder with a DOUBLE buffer, cast to string in the
        # result expression: first(NULL::string) puts a var-width field
        # in the aggregation buffer, and ONE non-mutable buffer field
        # anywhere pushes the ENTIRE shared metric pass from
        # HashAggregate to SortAggregate (gotcha-28 family) — every
        # partition of full rows gets sorted. Measured on the 12M-row
        # lineitem wide pass: 33 s sort-based vs ~2 s hash-based; the
        # sort fallback also spills past ~6M rows, which is why the
        # cliff is superlinear. Output is identical (NULL string).
        mn = mx = F.first(null_d).cast("string")

    if is_numeric(dt):
        avg = F.avg(c)
        if not exact:
            med = F.percentile_approx(c, F.lit(0.5), F.lit(10_000)).cast("double")
        elif inline_median:
            med = F.percentile(c, F.lit(0.5))
        else:
            # exact medians are injected from the per-column value-count
            # pass after the join (see profile()) — keeping the
            # TypedImperative percentile() buffers OUT of the shared
            # metric pass lets their per-group merge+sort run in parallel
            # stages instead of serializing inside one task
            med = F.first(null_d)
        sdp, sds = F.stddev_pop(c), F.stddev_samp(c)
    else:
        avg = med = sdp = sds = F.first(null_d)

    return F.struct(
        F.count(c).alias("not_null_count"),
        distinct.cast("long").alias("distinct_count"),
        mn.alias("min_value"),
        mx.alias("max_value"),
        avg.cast("double").alias("avg_value"),
        med.cast("double").alias("median_value"),
        sdp.cast("double").alias("stddev_pop"),
        sds.cast("double").alias("stddev_samp"),
    )


def array_profile(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    group_by: list[str] | None = None,
    num_decimals: int = 6,
) -> DataFrame:
    """Profile for array<numeric> columns (the input_hint's `tokens`
    shape), which the scalar profile gates out (P3): per column —
    row_count, not_null_count, exact distinct (whole-array identity),
    size min/max/avg, element min/max. One pass, same long format family
    as `profile`. Element min/max fold inside the row (array_min/array_max
    map-side) before the MIN/MAX aggregate — elements are never exploded."""
    group_by = group_by or []
    fields = [
        f
        for f in df.schema.fields
        if isinstance(f.dataType, T.ArrayType)
        and isinstance(f.dataType.elementType, T.NumericType)
        and f.name not in group_by
        and (columns is None or f.name in columns)
    ]
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for i, f_ in enumerate(fields):
        c = F.col(f_.name)
        aggs += [
            F.count(c).alias(f"__nn_{i}"),
            F.count_distinct(c).alias(f"__d_{i}"),
            F.min(F.size(c)).alias(f"__mns_{i}"),
            F.max(F.size(c)).alias(f"__mxs_{i}"),
            F.avg(F.size(c)).alias(f"__avs_{i}"),
            F.min(F.array_min(c)).alias(f"__mne_{i}"),
            F.max(F.array_max(c)).alias(f"__mxe_{i}"),
        ]
    wide = df.groupBy(*group_by).agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(f_.name).alias("column_name"),
                F.lit(f_.dataType.simpleString()).alias("data_type"),
                F.col(f"__nn_{i}").cast("long").alias("not_null_count"),
                F.col(f"__d_{i}").cast("long").alias("distinct_count"),
                F.col(f"__mns_{i}").cast("long").alias("min_size"),
                F.col(f"__mxs_{i}").cast("long").alias("max_size"),
                F.round(F.col(f"__avs_{i}"), num_decimals).alias("avg_size"),
                F.col(f"__mne_{i}").cast("double").alias("elem_min"),
                F.col(f"__mxe_{i}").cast("double").alias("elem_max"),
            )
            for i, f_ in enumerate(fields)
        ]
    )
    return (
        wide.select(*group_by, F.col("row_count"), F.explode(entries).alias("e"))
        .select(
            F.lit(table_name).alias("table_name"),
            *group_by,
            F.col("e.column_name").alias("column_name"),
            F.col("e.data_type").alias("data_type"),
            F.col("row_count").cast("long").alias("row_count"),
            F.col("e.not_null_count").alias("not_null_count"),
            F.col("e.distinct_count").alias("distinct_count"),
            F.col("e.min_size").alias("min_size"),
            F.col("e.max_size").alias("max_size"),
            F.col("e.avg_size").alias("avg_size"),
            F.col("e.elem_min").alias("elem_min"),
            F.col("e.elem_max").alias("elem_max"),
        )
    )


def profile(
    df: DataFrame,
    table_name: str,
    group_by: list[str] | None = None,
    columns: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Profile every column of `df` in one distributed pass.

    Returns the long-format profile (one row per (group, column)) shaped
    like the reference's ColumnProfile / data_profiles sink
    (/root/reference/src/core/metrics.py:21-38,
    /root/reference/src/db/clickhouse.py:52-85).

    With ``group_by=["source"]`` this is the per-partition profile that
    drives the pass/fail verdict matrix — partial+final hash aggregation
    makes the grouped variant the same single scan.

    Physical shape: approx mode is ONE hash-agg pass (HLL++ distinct, no
    expand) — the 10^12-row configuration. Exact mode is TWO passes joined
    on the group keys: multiple exact COUNT(DISTINCT)s force Catalyst's
    EXPAND (input ×(n_distinct+1)), and mixing that with TypedImperative
    percentile() degrades the whole aggregate to a sort-based fallback —
    measured 6× slower than the two separate purpose-shaped jobs.
    ``exact=True`` is for parity tests (small data); ``exact=False``
    switches distinct→HLL++ and median→approx_percentile for the
    10^12-row path.
    """
    group_by = group_by or []
    fields = [
        f
        for f in df.schema.fields
        if f.name not in group_by and (columns is None or f.name in columns)
    ]

    num_ids = [i for i, f in enumerate(fields) if is_numeric(f.dataType)]
    # the split median/distinct pass pays off when several numeric
    # columns share the machinery (measured 12.4 s vs 16.4 s on
    # lineitem's 8 numeric columns) but costs MORE than the inline
    # percentile for 1-2 numeric columns (profile_grouped on the 4 M-row
    # sequence table regressed 5.4 -> 6.3 s) — both paths are bit-equal,
    # so the choice is purely physical
    use_split_medians = exact and len(num_ids) >= 3
    aggs = [F.count(F.lit(1)).alias("row_count")]
    aggs += [
        _metric_struct(f, exact, inline_median=not use_split_medians).alias(
            f"__m_{i}"
        )
        for i, f in enumerate(fields)
    ]
    wide = df.groupBy(*group_by).agg(*aggs)

    if exact:
        # Exact distincts for NON-numeric columns only ride the EXPAND
        # pass — numeric columns get their exact distinct count for free
        # from the median unpivot below (one row per distinct value), so
        # the EXPAND multiplier shrinks from n_cols+1 to n_nonnumeric+1
        # (lineitem: ×12 → ×4 of the input row count).
        d_aggs = [
            F.count_distinct(F.col(f.name)).alias(f"__d_{i}")
            for i, f in enumerate(fields)
            if not (use_split_medians and is_numeric(f.dataType))
        ]
        if d_aggs:
            wide_d = df.groupBy(*group_by).agg(*d_aggs)
            wide = (
                wide.join(wide_d, group_by) if group_by else wide.crossJoin(wide_d)
            )
        # exact medians: pre-aggregate VALUE COUNTS per numeric column
        # and feed percentile's frequency form — the buffer content is
        # identical to percentile(col, 0.5) (same value→count map, same
        # interpolation), so results are bit-equal, but (a) the
        # TypedImperative map sees one update per DISTINCT value instead
        # of one per row, and (b) the per-group final sorts parallelize
        # across the per-column subplans instead of serializing all N
        # columns' sorts inside one final-agg task per group. Keeping
        # percentile INSIDE the shared metric pass measured 16.3 s vs
        # 2.7 s without it at 6 M rows × 8 numeric columns
        # (OPTIMIZATION_r06.md).
        if use_split_medians:
            # one value-count aggregate PER numeric column (pruned to its
            # own column — at 100 TB, N columnar scans move the same
            # bytes one wide scan did), joined back as aggregate-sized
            # frames. Measured 7.5 s vs 10.9 s for the single-explode
            # unpivot at 6 M rows × 8 columns: the per-column stages run
            # concurrently with smaller, cache-friendlier hash tables and
            # skip the 48 M-row Generate.
            for i in num_ids:
                vc = (
                    df.select(
                        *group_by,
                        F.col(fields[i].name).cast("double").alias("v"),
                    )
                    .filter(F.col("v").isNotNull())
                    .groupBy(*group_by, "v")
                    .agg(F.count(F.lit(1)).alias("c"))
                )
                m_i = vc.groupBy(*group_by).agg(
                    F.percentile(F.col("v"), F.lit(0.5), F.col("c")).alias(
                        f"__med_{i}"
                    ),
                    # one vc row per distinct non-null value — this IS
                    # the column's exact distinct count for the group
                    F.count(F.lit(1)).alias(f"__dcn_{i}"),
                )
                # LEFT: a group whose column is all NULL has no vc rows —
                # its median is NULL and its distinct count coalesces to
                # 0, exactly percentile/count_distinct's values
                wide = (
                    wide.join(m_i, group_by, "left")
                    if group_by
                    else wide.crossJoin(m_i)
                )

    def _distinct(i: int) -> Column:
        if not exact:
            return F.col(f"__m_{i}.distinct_count")
        if use_split_medians and is_numeric(fields[i].dataType):
            # from the value-count pass; an all-NULL column has no vc
            # rows → left-join NULL → 0, count_distinct's value
            return F.coalesce(F.col(f"__dcn_{i}"), F.lit(0))
        return F.col(f"__d_{i}")

    def _median(i: int, f: T.StructField) -> Column:
        if use_split_medians and is_numeric(f.dataType):
            return F.col(f"__med_{i}").cast("double")
        return F.col(f"__m_{i}.median_value")

    entries = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("column_name"),
                F.lit(f.dataType.simpleString()).alias("data_type"),
                F.col(f"__m_{i}")
                .withField("distinct_count", _distinct(i).cast("long"))
                .withField("median_value", _median(i, f).cast("double"))
                .alias("m"),
            )
            for i, f in enumerate(fields)
        ]
    )
    rc = F.col("row_count")
    nn = F.col("e.m.not_null_count")
    dc = F.col("e.m.distinct_count")
    prop = lambda x: F.when(rc > 0, F.round(x / rc, PROP_DECIMALS))  # noqa: E731
    rnum = lambda x: F.round(x, NUM_DECIMALS)  # noqa: E731
    if exact:
        is_unique = (dc == nn) & (nn > 0)  # metrics.py:287 exact semantics
    else:
        # HLL++ estimate: exact equality would flap within the rsd band —
        # verdict is "unique within sketch tolerance". The binding check at
        # scale is checks.uniqueness_frame's exact duplicate count.
        is_unique = (dc >= nn * (1 - 3 * APPROX_RSD)) & (nn > 0)

    return (
        wide.select(*group_by, rc, F.explode(entries).alias("e"))
        .select(
            F.lit(table_name).alias("table_name"),
            *group_by,
            F.col("e.column_name").alias("column_name"),
            F.col("e.data_type").alias("data_type"),
            rc,
            nn.alias("not_null_count"),
            prop(nn).alias("not_null_proportion"),
            dc.alias("distinct_count"),
            prop(dc).alias("distinct_proportion"),
            is_unique.alias("is_unique"),
            F.col("e.m.min_value").alias("min_value"),
            F.col("e.m.max_value").alias("max_value"),
            rnum(F.col("e.m.avg_value")).alias("avg_value"),
            rnum(F.col("e.m.median_value")).alias("median_value"),
            rnum(F.col("e.m.stddev_pop")).alias("stddev_pop"),
            rnum(F.col("e.m.stddev_samp")).alias("stddev_samp"),
        )
    )


def numeric_correlations(
    df: DataFrame,
    cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Pairwise Pearson correlations over numeric columns, optionally per
    group: ONE aggregation pass computing all C(n,2) corr() expressions —
    a per-pair job loop would scan the table C(n,2) times. Output columns
    are corr_<a>__<b> (6dp), plus row_count."""
    group_by = group_by or []
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"corr_{a}__{b}"))
    return df.groupBy(*group_by).agg(*aggs)


def partition_skew_report(df: DataFrame, part_col: str) -> DataFrame:
    """Per-partition row distribution + skew diagnosis: (partition, rows,
    fraction, rows_over_avg) with rows_over_avg = partition rows / mean
    partition rows — the metric that decides whether the salted
    repartitioning path (plans/salting.py) is needed for a key. One
    aggregate scan + a partition-count-sized window."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(part_col).cast("string").alias("partition_value")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    w = Window.partitionBy()
    return counts.select(
        "partition_value",
        "rows",
        F.round(F.col("rows") / F.sum("rows").over(w), 4).alias("fraction"),
        F.round(F.col("rows") / F.avg("rows").over(w), 4).alias("rows_over_avg"),
    )


def frequent_values(
    df: DataFrame, columns: list[str] | None = None, k: int = 5
) -> DataFrame:
    """Top-k most frequent values per column — the classic profiler
    "common values" panel: (column_name, value, cnt, rank), value
    stringified (NULL kept as a real class), rank by (cnt desc, value)
    for determinism.

    Scale shape: ONE scan — every requested column's (name, stringified
    value) pairs ride a single posexplode projection into ONE hash
    aggregate keyed (column_name, value) — map-side combine collapses hot
    values before the shuffle, so a 10^12-row constant column arrives at
    the reducer as one row per map task. The rank runs through the
    skew-safe two-stage top-k (plans/windows): no task ever sorts a
    column's whole distinct-value set."""
    from dataprofiler_spark.plans.windows import top_rows_per_group

    cols = columns or [f.name for f in df.schema.fields]
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column_name", "p.value")
    counts = pairs.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return top_rows_per_group(
        counts,
        ["column_name"],
        [F.desc("cnt"), F.asc_nulls_first("value")],
        k,
        rank_col="rank",
    ).select("column_name", "value", "cnt", "rank")


def category_diversity(df: DataFrame, column: str) -> DataFrame:
    """One-row diversity summary of a categorical column: category count,
    Shannon entropy (bits) with its normalized form, the
    Herfindahl-Hirschman concentration index (sum of squared shares),
    and the top category's share. The corpus-composition headline next
    to frequent_values — a training mix that collapses onto one source
    shows up here as norm_entropy → 0 / hhi → 1 before any downstream
    metric moves.

    Scale shape: ONE scan → per-category hash-agg (map-side combine) →
    a scalar aggregate over the category frame. Entropy folds into the
    single pass via H = log2(T) - Σ c·log2(c) / T, so no per-row share
    column (and no second scan for the total) is needed; NULL is a real
    category. norm_entropy is NULL when only one category exists
    (log2(1) = 0 denominator, nullif-guarded)."""
    counts = df.groupBy(F.col(column)).agg(F.count(F.lit(1)).alias("cnt"))
    agg = counts.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("cnt").alias("n_rows"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("__s"),
        F.max("cnt").alias("__m"),
        # cnt² and T² overflow BIGINT once counts pass ~3·10^9 (ANSI
        # errors, gotcha 2) — square in double; HHI is a ratio anyway
        F.sum(F.col("cnt").cast("double") * F.col("cnt")).alias("__sq"),
    )
    h = F.log2(F.col("n_rows")) - F.col("__s") / F.col("n_rows")
    return agg.select(
        "n_categories",
        "n_rows",
        F.round(h, 6).alias("entropy_bits"),
        F.round(
            h / F.nullif(F.log2(F.col("n_categories")), F.lit(0.0)), 6
        ).alias("norm_entropy"),
        F.round(
            F.col("__sq") / (F.col("n_rows").cast("double") * F.col("n_rows")), 6
        ).alias("hhi"),
        F.round(F.col("__m") / F.col("n_rows"), 6).alias("top_share"),
    )
