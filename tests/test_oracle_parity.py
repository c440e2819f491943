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
    "semantic_dedup_embeddings",
    "pq_topk_tolerance",
    "pca_embeddings_tolerance",
    "paragraph_near_dup_pairs_documents",
    "remove_duplicated_spans_documents",
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
