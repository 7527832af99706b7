"""PII detection and redaction for training-data pipelines.

A corpus headed for pre-training must not carry raw personal
identifiers; the standard pipeline stage is a regex sweep that (a)
counts hits per category, for corpus-health dashboards and source
triage, and (b) rewrites the text with category placeholders.  This is
the same shape as the reference's per-row content-conformance scans
(e.g. stable-id format checks, GeneStableID.pm kin) applied to the
documents payload instead of identifiers.

Everything stays JVM-side: `regexp_replace` / `regexp_count` are
whole-stage-codegen expressions, so redaction is a pure projection —
no shuffle, no Python, scales linearly with the corpus and is trivially
partition-parallel at 100 TB.

Pattern-dialect contract: every default pattern is written in the
common subset of Java `java.util.regex` (Spark) and RE2 (DuckDB,
the oracle engine) — no lookaround, no backreferences — so the SQL
oracle replays the identical sweep with ``regexp_replace(..., 'g')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Order matters: patterns are applied in this sequence and earlier
# rewrites can consume text later patterns would otherwise match
# (e.g. an email's domain dots never get mistaken for an IPv4 because
# EMAIL runs first).  SSN (3-2-4) and PHONE (3-3-4) are disjoint by
# group width.  dict preserves insertion order (py3.7+ contract).
DEFAULT_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def staged_exprs(
    col: Column,
    patterns: dict[str, str] | None = None,
    token_fmt: str = "[{name}]",
) -> tuple[list[Column], Column]:
    """(per-category count columns, fully-redacted column), where each
    category's ``n_{name}`` is counted on the text AFTER all earlier
    categories were redacted — i.e. exactly the number of ``{NAME}``
    placeholders the sequential redaction inserts for that category.
    Counting every pattern on the original text instead would break the
    precedence the pattern order promises: an email's host
    'user@192.168.1.1.example.com' would report n_ipv4=1 while the
    redacted text carries only [EMAIL].  (Placeholder tokens are
    letters/brackets, so a rewrite can never CREATE a later match.)"""
    counts: list[Column] = []
    cur = col
    for name, pat in (patterns or DEFAULT_PATTERNS).items():
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token_fmt.format(name=name.upper()))
    return counts, cur


def hit_count_exprs(
    col: Column, patterns: dict[str, str] | None = None
) -> list[Column]:
    """The staged per-category count columns alone (``n_{name}``,
    BIGINT) — see staged_exprs for the precedence semantics."""
    counts, _ = staged_exprs(col, patterns)
    return counts


def redact_pii(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    out_col: str = "redacted_text",
    token_fmt: str = "[{name}]",
    with_counts: bool = True,
) -> DataFrame:
    """documents(text) -> documents + redacted text (+ per-category hit
    counts).  One scan, one projection, yields both the audit numbers
    and the cleaned payload; each count equals the number of
    placeholders the redaction inserted for that category (staged
    counting — staged_exprs), so the audit columns always agree with
    the rewritten text.  NULL text passes through as NULL (regexp
    functions are null-safe); empty text costs nothing.
    """
    counts, redacted = staged_exprs(F.col(text_col), patterns, token_fmt)
    cols = [df["*"]]
    if with_counts:
        cols += counts
    cols.append(redacted.alias(out_col))
    return df.select(*cols)


def pii_summary(
    df: DataFrame, text_col: str, patterns: dict[str, str] | None = None
) -> DataFrame:
    """Corpus-level PII pressure: total hits and affected-doc count per
    category, one map-side-combinable aggregation (partial_sum under a
    single Exchange — the cheap triage query you run before deciding a
    full redaction pass is worth 100 TB of rewrite I/O)."""
    pats = patterns or DEFAULT_PATTERNS
    counted = df.select(hit_count_exprs(F.col(text_col), pats))
    aggs: list[Column] = []
    # coalesce(.., 0): sum over an EMPTY corpus is NULL — the triage row
    # must read zeros, not missing values, for a clean pass
    for name in pats:
        aggs.append(
            F.coalesce(F.sum(f"n_{name}"), F.lit(0))
            .cast("long")
            .alias(f"total_{name}")
        )
        aggs.append(
            F.coalesce(F.sum((F.col(f"n_{name}") > 0).cast("long")), F.lit(0))
            .cast("long")
            .alias(f"docs_with_{name}")
        )
    return counted.agg(*aggs)
