"""Property-based tests (hypothesis) — a deliberate upgrade over the
reference's mock-only unit tests (SURVEY.md §5: no property-based testing).
Pure-python kernels get wide random coverage; Spark-backed properties run
with few examples (session cost)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from dataprofiler_spark.operators.checks import _lists_equal_batch
from dataprofiler_spark.operators.compare import normalize_expr
from dataprofiler_spark.operators.growth import alert_status, days_until_full
from dataprofiler_spark.sources.synthetic import ViolationSpec

int_lists = st.lists(st.integers(-(2**31), 2**31 - 1), max_size=30)
maybe_list = st.one_of(st.none(), int_lists)


@given(st.lists(st.tuples(maybe_list, maybe_list), min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_lists_equal_batch_matches_python_semantics(pairs):
    a = pd.Series([np.array(x, dtype="int64") if x is not None else None for x, _ in pairs], dtype=object)
    b = pd.Series([np.array(y, dtype="int64") if y is not None else None for _, y in pairs], dtype=object)
    got = list(_lists_equal_batch(a, b))
    # NULL semantics: both-null equal (consistent with the prefilter mode's
    # xxhash64(NULL)==xxhash64(NULL)); null-vs-value is a violation
    want = [
        (x is None and y is None) or (x is not None and y is not None and x == y)
        for x, y in pairs
    ]
    assert got == want


@given(st.text(max_size=80))
@settings(max_examples=200)
def test_normalize_expr_idempotent(s):
    once = normalize_expr(s)
    assert normalize_expr(once) == once  # SE5 normalization is a projection


@given(st.integers(min_value=2, max_value=10**9))
@settings(max_examples=200)
def test_violation_spec_ranges_disjoint_and_ordered(n):
    v = ViolationSpec.for_size(n)
    ranges = [v.dup_rows, v.orphan_rows, v.ntok_rows, v.range_rows, v.null_doc_rows, v.perturb_rows]
    for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
        assert a1 < b1 <= a2 < b2  # non-empty, non-overlapping, ordered
    assert ranges[-1][1] <= n or n < 200  # fits within the table (tiny tables degenerate)
    # dup range even-sized so duplicates form complete pairs
    assert (v.dup_rows[1] - v.dup_rows[0]) % 2 == 0


@given(
    st.integers(min_value=-1000, max_value=10**12),
    st.one_of(st.none(), st.floats(min_value=-100, max_value=10**6, allow_nan=False)),
)
@settings(max_examples=300)
def test_days_until_full_total(remaining, slope):
    """Totality + sign properties of the reference arithmetic
    (autoincrement_metrics.py:128-152)."""
    d = days_until_full(remaining, slope)
    if remaining <= 0:
        assert d == 0.0
    elif slope is None or slope <= 0:
        assert d is None
    else:
        assert d is not None and d >= 0
        # alert tiers are total over the whole domain
        assert alert_status(d, 50.0) in ("OK", "WARNING", "CRITICAL")


@given(st.floats(min_value=0, max_value=100, allow_nan=False))
@settings(max_examples=200)
def test_alert_status_monotone_in_usage(usage):
    """More usage never lowers severity (days fixed)."""
    order = {"OK": 0, "WARNING": 1, "CRITICAL": 2}
    a = alert_status(None, usage)
    b = alert_status(None, min(usage + 10, 100.0))
    assert order[b] >= order[a]


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40
    ).filter(lambda es: any(a != b for a, b in es))
)
@settings(max_examples=10, deadline=None)
def test_star_cc_equals_label_cc_property(edges):
    """Alternating-star CC and min-label CC must produce identical
    components on arbitrary random graphs (few examples: Spark-backed)."""
    from dataprofiler_spark import get_spark
    from dataprofiler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "key1 bigint, key2 bigint")
    label = {r.node: r.component for r in connected_components(df, max_iterations=60).collect()}
    star = {r.node: r.component for r in connected_components_star(df).collect()}
    assert star == label
