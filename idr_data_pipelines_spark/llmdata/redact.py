"""PII detection and redaction for training-data curation.

Regex-based scrubbing of the classic machine-detectable PII classes
(emails, IPv4 addresses, SSN-shaped ids, phone numbers). Everything is
JVM ``regexp_replace`` / ``regexp_extract_all`` — whole-stage codegen,
no Python, no shuffle: a pure map stage over the corpus scan, which is
the only shape that survives 100 TB.

Patterns deliberately use the regex subset common to Java (Spark) and
RE2-style engines (word boundaries, character classes, bounded
quantifiers, non-capturing groups) so results are portable and
oracle-checkable. Real deployments layer an NER model on top for
names/addresses; that is a Pandas-UDF stage out of scope here — the
regex tier is the part every pipeline runs at full scale.

Replacement order matters: IPv4 before phone (both are digit runs with
separators), email first (contains digits and dots that later patterns
could nibble at).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import sql_literal, sql_name

# Ordered: applied top to bottom.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # leading '+' as an ALTERNATIVE to \b, not after it (r10 review:
    # '\b\+?' can never take the '+' branch — there is no word
    # boundary between a space and '+', so '+1 555-...' redacted to
    # '+<PHONE>', leaking the prefix). (?:\+|\b) is RE2-safe, so the
    # DuckDB oracle replays it exactly.
    "phone": r"(?:\+|\b)\d{3}[-. ]\d{3,4}[-. ]\d{4}\b",
}


def pii_counts(col: str = "text") -> dict[str, str]:
    """Per-class match counts on the raw text (computed independently
    per class, before any redaction), as SQL text by output name."""
    c = sql_name(col)
    return {
        f"n_{name}": (
            f"CAST(size(regexp_extract_all({c}, {sql_literal(pat)}, 0)) AS BIGINT)"
        )
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(col: str = "text") -> str:
    """SQL text of the text with every PII match replaced by a typed
    placeholder token (``<EMAIL>``, ``<IPV4>``, ...), the patterns
    applied in ``PII_PATTERNS`` order."""
    c = sql_name(col)
    for name, pat in PII_PATTERNS.items():
        c = f"regexp_replace({c}, {sql_literal(pat)}, '<{name.upper()}>')"
    return c


def scrub_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace ``text_col`` with its redacted form and append per-class
    match counts — the audit columns a compliance review needs."""
    counts = {name: F.expr(e) for name, e in pii_counts(text_col).items()}
    return df.withColumns(counts).withColumn(text_col, F.expr(redact_pii(text_col)))
