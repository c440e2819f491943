"""Declarative expectations over profile metrics.

The reference generates SodaCL YAML checks from profiles
(/root/reference/src/core/profiler.py:78-101 — `row_count > 0` at :91);
this module is that idea grown up: a list of (column, metric, op, value)
expectations evaluated AGAINST THE PROFILE FRAME, so adding an expectation
costs nothing at scan time — the single profiling pass already produced
every metric, and evaluation is arithmetic on (partitions × columns) rows.

Emits verdicts in the same shape as operators/checks (union-compatible with
the constraint-suite verdict matrix).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.sinks import local_frame


def _as_number(v) -> float | None:
    """Numeric view of an expectation value: int/float (not bool) pass
    through; numeric strings parse; anything else is None (string compare)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


_OPS = {
    ">=": lambda c, v: c >= v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    "<": lambda c, v: c < v,
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
}


@dataclass(frozen=True)
class Expectation:
    column: str  # profiled column name
    metric: str  # any profile output column (row_count, not_null_proportion, ...)
    op: str  # >=, <=, >, <, ==, !=, between
    value: object
    value_hi: object | None = None  # for `between`

    @property
    def name(self) -> str:
        return f"expect_{self.column}_{self.metric}_{self.op}"

    def predicate(self) -> Column:
        c = F.col(self.metric)
        # Profile min_value/max_value are STRINGIFIED (reference parity).
        # When the expectation value is numeric, compare numerically — a
        # lexicographic ">= '10'" would pass for min_value '9'.
        if _as_number(self.value) is not None:
            c = c.cast("double")
            lo = F.lit(_as_number(self.value))
            hi = F.lit(_as_number(self.value_hi)) if self.value_hi is not None else None
        else:
            lo = F.lit(self.value)
            hi = F.lit(self.value_hi) if self.value_hi is not None else None
        if self.op == "between":
            return (c >= lo) & (c <= hi)
        return _OPS[self.op](c, lo)


def from_dicts(specs: list[dict]) -> list[Expectation]:
    """Config-driven suite (JSON/YAML-shaped dicts):
    {"column": "doc_id", "metric": "not_null_proportion", "op": ">=", "value": 1.0}"""
    return [Expectation(**s) for s in specs]


def evaluate_expectations(
    profile_df: DataFrame,
    expectations: list[Expectation],
    part_col: str | None = None,
) -> DataFrame:
    """Verdict rows (table_name, partition_value, check_name, row_count,
    violation_count, passed) — one per (partition × expectation). NULL
    metric (gated-out or empty partition) fails the expectation: an
    unmeasurable expectation is a failing one, not a silently passing one."""
    spark = profile_df.sparkSession
    out = None
    part = (
        F.col(part_col).cast("string") if part_col else F.lit("<all>")
    )
    for ex in expectations:
        # anchor on a literal row so an expectation naming a column absent
        # from the profile FAILS loudly instead of silently emitting
        # nothing (a typo'd column must never read as "all checks passed")
        anchor = F.broadcast(local_frame(spark, [(ex.column,)], "column_name string"))
        matched = profile_df.filter(F.col("column_name") == ex.column)
        verdict = anchor.join(matched, "column_name", "left").select(
            F.coalesce(F.col("table_name"), F.lit("<missing_column>")).alias("table_name"),
            F.coalesce(part, F.lit("<missing_column>")).alias("partition_value"),
            F.lit(ex.name).alias("check_name"),
            F.col("row_count").cast("long"),
            F.lit(None).cast("long").alias("violation_count"),
            F.coalesce(ex.predicate(), F.lit(False)).alias("passed"),
        )
        out = verdict if out is None else out.unionByName(verdict)
    return out


_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def suggest_expectations(
    profile_df: DataFrame, columns: list[str] | None = None
) -> list[Expectation]:
    """Emit a default expectation suite FROM an observed profile — the
    reference workflow of generating a check DSL from profiling output
    (SodaCL YAML at /root/reference/src/core/profiler.py:78-101, which emits
    `row_count > 0`), grown to the full metric surface:

      * row_count > 0                       (profiler.py:91 precedent)
      * not_null_proportion >= observed     (null-rate regression guard)
      * is_unique == True                   (where observed unique)
      * min_value >= / max_value <= observed bounds (numeric columns)

    The profile frame is metric-sized (groups × columns) — collecting it is
    driver metadata, not data. Grouped profiles are reduced conservatively:
    worst not_null_proportion, all-groups-unique, loosest bounds."""
    rows = profile_df.collect()
    by_col: dict[str, dict] = {}
    for r in rows:
        c = r["column_name"]
        if columns is not None and c not in columns:
            continue
        d = by_col.setdefault(
            c,
            {"nn": 1.0, "unique": True, "mins": [], "maxs": [],
             "numeric": r["data_type"].split("(")[0] in _NUMERIC_TYPES},
        )
        if r["not_null_proportion"] is not None:
            d["nn"] = min(d["nn"], float(r["not_null_proportion"]))
        d["unique"] = d["unique"] and bool(r["is_unique"])
        if d["numeric"] and r["min_value"] is not None:
            d["mins"].append(float(r["min_value"]))
        if d["numeric"] and r["max_value"] is not None:
            d["maxs"].append(float(r["max_value"]))

    out: list[Expectation] = []
    for i, (c, d) in enumerate(by_col.items()):
        if i == 0:
            out.append(Expectation(c, "row_count", ">", 0))
        out.append(Expectation(c, "not_null_proportion", ">=", d["nn"]))
        if d["unique"]:
            out.append(Expectation(c, "is_unique", "==", True))
        if d["mins"]:
            out.append(Expectation(c, "min_value", ">=", min(d["mins"])))
        if d["maxs"]:
            out.append(Expectation(c, "max_value", "<=", max(d["maxs"])))
    return out


DEFAULT_SEQUENCE_EXPECTATIONS = [
    Expectation("doc_id", "row_count", ">", 0),  # profiler.py:91 precedent
    Expectation("doc_id", "not_null_proportion", ">=", 1.0),
    Expectation("doc_id", "is_unique", "==", True),
    Expectation("n_tok", "min_value", ">=", "1"),  # stringified minmax
    Expectation("tokens", "not_null_proportion", ">=", 1.0),
]
