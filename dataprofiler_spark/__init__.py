"""dataprofiler_spark — a PySpark-native schema + constraint validation engine.

Built from scratch with the computed semantics of nontster/DataProfiler
(column profiling, schema comparison, auto-increment growth trending,
environment drift) re-expressed as idiomatic Spark DataFrame plans, and
extended with the validation surface a 10^12-row tokenized-sequence
pipeline needs: per-partition pass/fail verdicts, violation-row
materialization, distribution-drift (PSI / chi-squared), dedup
operators, and checkpoint-resume manifests.

Reference semantics citations use file:line paths into /root/reference.
"""

__version__ = "0.1.0"

from dataprofiler_spark.session import get_spark  # noqa: F401

# Public API surface: the entry points a pipeline imports directly.
# Operator modules stay import-on-demand (pandas_udf construction and
# heavy deps are lazy by design — CLAUDE.md gotcha 3).
from dataprofiler_spark.pipeline import (  # noqa: F401
    ValidationConfig,
    ValidationResult,
    run_validation,
)
from dataprofiler_spark.sinks import MetricsStore, expire_snapshots  # noqa: F401
