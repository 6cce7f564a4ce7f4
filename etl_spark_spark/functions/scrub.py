"""PII detection and redaction (LLM-data-pipeline extension; no
reference counterpart — the reference engine has no scrubbing surface).

Regex-based scrubbing of the PII classes a pretraining-data pipeline
redacts before anything else sees the text: emails, IPv4 addresses,
credit-card-shaped numbers, phone numbers. Patterns are deliberately
written in the Java-regex ∩ RE2 common subset (no lookarounds, no
backrefs) so the SAME pattern string runs identically under Spark
(Java) and DuckDB (RE2) — which is what lets the operator pair with a
bit-exact SQL oracle.

Semantics: scrubbing is STAGED in a fixed order (email → ipv4 → cc →
phone) and each class is counted on the text as it stands when that
stage runs. Order matters: a credit card ``4012-8888-8888-1234``
contains phone-shaped digit runs, so phones are counted/redacted only
after cards are gone — each count is exactly the number of
replacements its stage performed.

Scale shape: per-row regex chains, whole-stage-codegen-side, zero
shuffles; scrubbing 100 TB is a pure map with perfect linear scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["PII_PATTERNS", "scrub_pii", "scrub_pii_sql_stages"]

#: Ordered (kind -> (pattern, replacement tag)). The order IS the
#: scrub order; see module docstring.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "cc": (r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CC>"),
    "phone": (r"\+?\d{2,3}[- ]\d{3,4}[- ]\d{4}\b", "<PHONE>"),
}


def scrub_pii(
    df: DataFrame, text_col: str, out_col: str = "clean_text"
) -> DataFrame:
    """Append per-kind redaction counts (``n_<kind>`` long columns) and
    the fully scrubbed text (``out_col``).

    Each stage is its own projection (a barrier), so the partially
    scrubbed text feeding a stage's count AND its replace is computed
    once — not re-inlined into every downstream expression.
    """
    staged = df.withColumn(out_col, F.col(text_col))
    others = [c for c in staged.columns if c != out_col]
    for kind, (pat, tag) in PII_PATTERNS.items():
        staged = staged.select(
            *others,
            *[f"n_{k}" for k in PII_PATTERNS if f"n_{k}" in staged.columns],
            F.regexp_count(F.col(out_col), F.lit(pat))
            .cast("long")
            .alias(f"n_{kind}"),
            F.regexp_replace(F.col(out_col), pat, tag).alias(out_col),
        )
    return staged


def scrub_pii_sql_stages(text_expr: str, base_from: str) -> str:
    """DuckDB mirror of ``scrub_pii`` as a WITH-chain prefix: emits
    staged CTEs ``pii_s0..pii_s{n}`` where the last one carries every
    ``n_<kind>`` count plus the scrubbed ``clean_text``. ``base_from``
    must select the carried-through columns (e.g. ``doc_id``) plus
    ``text_expr`` aliased ``clean_text``."""
    ctes = [f"pii_s0 AS (SELECT *, {text_expr} AS clean_text FROM {base_from})"]
    prev = "pii_s0"
    counts: list[str] = []
    for i, (kind, (pat, tag)) in enumerate(PII_PATTERNS.items(), start=1):
        ctes.append(
            f"pii_s{i} AS (SELECT * EXCLUDE (clean_text), "
            f"len(regexp_extract_all(clean_text, '{pat}'))::BIGINT AS n_{kind}, "
            f"regexp_replace(clean_text, '{pat}', '{tag}', 'g') AS clean_text "
            f"FROM {prev})"
        )
        prev = f"pii_s{i}"
        counts.append(f"n_{kind}")
    return ",\n".join(ctes)
