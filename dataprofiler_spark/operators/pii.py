"""PII detection and redaction over text corpora.

A training-data pipeline must find and scrub personally identifiable
information before a corpus ships. The reference has no analog (it
validates schemas/metrics, not content — SURVEY.md §1.3); this is a
designed LLM-pipeline extension like dedup/textstats.

Scale shape: every operator here is pure column expressions
(regexp_count / regexp_replace) — map-side only, no shuffle, no UDF, fully
whole-stage-codegen. `pii_summary` adds one bounded groupBy (per-source
rows). At 100 TB the scan cost IS the cost; nothing here adds a byte of
shuffle beyond the summary's group-sized aggregate.

Pattern portability: the patterns avoid backreferences and lookaround so
the same strings run identically under Java regex (Spark) and RE2
(DuckDB) — which is what makes the oracle parity check possible
(tests mirror each pattern through DuckDB's regexp functions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# name -> (pattern, replacement token). Conservative, engine-portable
# (Java regex AND RE2): no backreferences, no lookaround.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    "credit_card": (r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "[CARD]"),
}


def pii_counts(text_col: str | Column) -> list[Column]:
    """One `<name>_count` column per detector — regexp_count expressions
    (JVM-side, codegen; a Python UDF here would cost 10-100× on the
    corpus-wide scan)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # NULL text has no PII: count 0, not NULL (keeps has_pii boolean and
    # the summary sums exact)
    return [
        F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0)).alias(f"{name}_count")
        for name, (pat, _) in PII_PATTERNS.items()
    ]


def pii_scan(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document PII hit counts + a `has_pii` flag. Map-side only."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns if c != text_col]
    counts = pii_counts(text_col)
    out = df.select(*keep, *counts)
    total = None
    for name in PII_PATTERNS:
        col = F.col(f"{name}_count")
        total = col if total is None else (total + col)
    return out.withColumn("has_pii", total > 0)


def redact(
    df: DataFrame,
    text_col: str = "text",
    output_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with its category token ([EMAIL], [IP], …).
    A cascade of regexp_replace expressions — still one map-side projection
    (Catalyst collapses the chained withColumns into one project node).
    Order matters: ssn before phone would also work, but credit_card must
    run before phone so a 16-digit dashed number is not half-eaten by the
    phone pattern; the dict is ordered accordingly (email/ip/card first)."""
    out = output_col or f"{text_col}_redacted"
    c: Column = F.col(text_col)
    # credit_card before phone: a dashed 16-digit card contains a
    # phone-shaped suffix; replacing cards first keeps categories disjoint
    order = ["email", "ipv4", "credit_card", "ssn", "phone"]
    for name in order:
        pat, token = PII_PATTERNS[name]
        c = F.regexp_replace(c, pat, token)
    return df.withColumn(out, c)


def pii_summary(
    df: DataFrame,
    text_col: str = "text",
    group_by: str = "source",
) -> DataFrame:
    """Per-group PII prevalence: document counts, documents containing any
    PII, and total hits per category. One scan + one group-sized hash
    aggregate (map-side partials collapse per category)."""
    scanned = pii_scan(df, text_col, keep_cols=[group_by])
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("has_pii").cast("long")).alias("docs_with_pii"),
    ]
    for name in PII_PATTERNS:
        aggs.append(F.sum(f"{name}_count").alias(f"total_{name}"))
    return scanned.groupBy(group_by).agg(*aggs)
