"""Every registered query must match its DuckDB oracle at sf0.01 —
the local replica of the external correctness gate.

Two lanes: the heaviest oracles are marked `heavy_oracle`, so iteration
can run `-m "not heavy_oracle"` (fast lane) while CI runs the full suite
(default).
"""

import pytest

from dataprofiler_spark.queries import oracle_sql, queries
from tests.oracle_utils import TESTDATA, compare

# measured-slowest parity cases (multi-stage oracles: recursive CTEs,
# pairwise replays) — the fast lane skips these
HEAVY = {
    "dedup_clusters_documents",
    "dedup_clusters_string_ids",
    "cluster_survivors_quality",
}

CASES = sorted(set(queries()) & set(oracle_sql()))


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.heavy_oracle) if n in HEAVY else n
        for n in CASES
    ],
)
def test_query_matches_oracle(spark, name):
    df = queries()[name](spark, TESTDATA)
    ok, msg = compare(df, oracle_sql()[name])
    assert ok, f"{name}: {msg}"


def test_heavy_names_are_registered_with_an_oracle():
    """A stale HEAVY name marks nothing, and a renamed heavy entry would
    silently move into the fast lane: every name must be a parity case."""
    assert HEAVY <= set(CASES), sorted(HEAVY - set(CASES))
