"""Shared scalar/array expression helpers — the reference's scalar-function
surface (SURVEY.md §2.8 F1-F8) as reusable Column builders. Everything here
is a pure JVM expression (whole-stage codegen); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataprofiler_spark.sources.synthetic import VOCAB_SIZE


def stringified(c: Column | str) -> Column:
    """F1: cast-to-string for cross-type min/max storage
    (reference metrics.py:296-324)."""
    return (F.col(c) if isinstance(c, str) else c).cast("string")


def definition_hash(c: Column | str) -> Column:
    """F3: md5 fingerprint for definition-drift detection
    (reference schema_extractor.py:29-33)."""
    return F.md5(F.col(c) if isinstance(c, str) else c)


def normalized_expr(c: Column | str) -> Column:
    """SE5: whitespace/case normalization of constraint expressions
    (reference schema_comparator.py:133-136) as a column expression."""
    col = F.col(c) if isinstance(c, str) else c
    return F.upper(F.regexp_replace(F.trim(col), r"\s+", " "))


def epoch_days(ts: Column | str) -> Column:
    """F5: fractional days since epoch (NTZ-safe under UTC session TZ);
    the regression-slope x-axis (reference autoincrement_metrics.py:102-106
    divides by 86400 the same way)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    return col.cast("timestamp").cast("double") / 86400.0


def partition_month(ts: Column | str) -> Column:
    """F6: yyyyMM partition key, the reference's toYYYYMM(scan_time) sink
    partitioning (clickhouse.py:83)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(col, "yyyyMM")


def token_range_ok(tokens: Column | str, vocab_size: int = VOCAB_SIZE) -> Column:
    """F8: every token in [0, vocab) — forall over the array column."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.forall(col, lambda t: (t >= 0) & (t < F.lit(vocab_size)))


# Word tokenization: split on RUNS of whitespace, not the literal single
# space — real corpora are multi-line, and `F.split(text, " ")` treats
# "end.\nStart" as ONE token, skewing every word-level statistic
# (repetition fractions, shingles, classifier features, token counts).
# Java `\s` = [ \t\n\x0B\f\r]; the DuckDB oracle mirror (RE2 `\s` =
# [ \t\n\f\r]) differs only on \x0B (vertical tab) — documented, not
# present in any fixture. Neither side matches Unicode spaces (  etc.);
# normalize upstream if needed.
WORD_SPLIT_PATTERN = r"\s+"

# the DuckDB-side mirror of words() — every oracle that tokenizes MUST
# use this exact expression (same split, same empty-token filter)
WORDS_SQL = "list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"


def _nonempty_word(w: Column) -> Column:
    # module-level HOF lambda (gotcha 4: no default-arg capture)
    return w != ""


def words(text: Column | str) -> Column:
    """Whitespace-robust word array: split on runs of any ASCII whitespace
    with empty pseudo-tokens removed (leading/trailing whitespace and the
    empty string produce [] — callers dividing by size() must nullif-guard
    under ANSI; the DuckDB mirror WORDS_SQL returns NULL on /0, matching).
    The ONE tokenizer for every word-level operator (the dedup shingles
    and MinHash signatures) and its oracles."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, WORD_SPLIT_PATTERN), _nonempty_word)


def words_sql(col: str = "text") -> str:
    """DuckDB expression replaying words() verbatim (oracle side)."""
    return WORDS_SQL.format(col=col)


def portable_shingle_hash(s: Column | str) -> Column:
    """Engine-wide portable string→[0,2^31) hash (md5-prefix based) —
    reproducible in any SQL engine for oracle comparison; see
    operators/dedup._shingle_long_hash for the minhash use."""
    col = F.col(s) if isinstance(s, str) else s
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long") % ((1 << 31) - 1)
