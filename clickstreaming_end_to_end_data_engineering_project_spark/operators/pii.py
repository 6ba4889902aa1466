"""PII detection and scrubbing over text columns.

Capability extension per SURVEY.md §2.11: every production
training-data pipeline (C4, Dolma, FineWeb, RefinedWeb — see
PAPERS.md) runs a PII pass that replaces emails / phone numbers / IP
addresses with placeholder tokens before training.  The reference has
no equivalent (its README stops at page analytics), so this module
defines the Spark-first version: chained ``regexp_replace`` column
expressions — pure JVM, whole-stage codegen, zero shuffle, linear in
input splits — plus a per-type audit aggregate for corpus reports.

Pattern dialect: every regex here is deliberately restricted to the
intersection of Java ``java.util.regex`` (Spark executors) and RE2
(DuckDB, Go tooling): character classes, bounded repetition,
non-capturing groups, and ASCII ``\\b`` word boundaries only — no
backreferences, no lookaround.  That keeps the operator
oracle-checkable: ``tests/test_operators.py`` runs the identical
patterns through DuckDB ``regexp_replace(..., 'g')`` on the same
parquet fixture and asserts byte-identical output.

Gate note: the driver testdata corpus contains no digits at all (let
alone emails/IPs), so a registry gate row would be trivially empty at
every sf — this family is therefore exercised against a synthetic
PII-laden fixture in tests instead of the sf gate.  See COVERAGE.md
§2.11.

100 TB shape: scrubbing is embarrassingly parallel (per-row
expressions, no shuffle, no UDF); the audit is one partial-agg
reduction to a single row.  Fused into a corpus-cleaning scan, the
scrub adds no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: URL before EMAIL so an address embedded in a URL query
# string is consumed by the URL rule, not split in half by the email
# rule; EMAIL before the bare-number rules so its digits can't be
# re-matched as a phone fragment.  dict order IS application order.
PII_PATTERNS: dict[str, str] = {
    # scheme://non-space — greedy, consumes embedded credentials/emails
    "url": r"https?://[^\s]+",
    "email": r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b",
    # IPv4 dotted quad (no lookaround: permissive on 999s by design —
    # scrubbing a malformed quad is fine, leaking a real one is not)
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    # NANP-ish phone: optional +1/1 prefix, 3-3-4 groups with -, ., or
    # space separators (separator required: plain 10-digit integers
    # stay untouched).  The word boundary sits INSIDE the bare-digit
    # alternative: a leading \b can never match before '(' or '+'
    # (non-word on both sides is not a boundary).
    "phone": r"(?:\+?1[-. ])?(?:\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}

#: Dolma-style replacement tokens, one per type.
PII_REPLACEMENTS: dict[str, str] = {name: f"|||{name.upper()}|||" for name in PII_PATTERNS}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    patterns: dict[str, str] | None = None,
    replacements: dict[str, str] | None = None,
) -> DataFrame:
    """Replace every PII match with its type's placeholder token.

    Chained ``regexp_replace`` in ``patterns`` dict order (see
    PII_PATTERNS for why order matters).  ``out_col=None`` rewrites
    ``text_col`` in place."""
    patterns = PII_PATTERNS if patterns is None else patterns
    if replacements is None:
        # derive from the ACTUAL patterns so custom pattern sets get
        # matching placeholder tokens instead of a KeyError
        replacements = {name: f"|||{name.upper()}|||" for name in patterns}
    col: Column = F.col(text_col)
    for name, pattern in patterns.items():
        col = F.regexp_replace(col, pattern, replacements[name])
    return df.withColumn(out_col or text_col, col)


def pii_audit(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """One-row corpus audit: per PII type, total match count and the
    number of documents containing ≥1 match.  Partial-agg reduction —
    a single pass, no shuffle beyond the final single-row combine."""
    patterns = PII_PATTERNS if patterns is None else patterns
    aggs = []
    zero = F.lit(0).cast("long")
    for name, pattern in patterns.items():
        matches = F.regexp_count(F.col(text_col), F.lit(pattern))
        # coalesce: sum over zero rows (empty corpus) is NULL, and the
        # audit's consumers compare counts against 0
        aggs.append(F.coalesce(F.sum(matches).cast("long"), zero).alias(f"{name}_matches"))
        aggs.append(
            F.coalesce(F.sum((matches > 0).cast("long")).cast("long"), zero).alias(
                f"{name}_docs"
            )
        )
    return df.agg(*aggs)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list,
    k_thresholds: tuple = (2, 5, 10),
) -> DataFrame:
    """One-row k-anonymity risk report over a set of quasi-identifier
    columns (Sweeney, IJUFKS 2002 — the standard re-identification
    risk measure; capability extension per SURVEY.md §2.11 alongside
    the PII scrub: scrubbing direct identifiers does nothing about
    quasi-identifier joins, and every release review asks for exactly
    this table).

    A dataset is k-anonymous iff every quasi-identifier combination is
    shared by >= k rows.  Output: ``total_rows``, ``n_groups``,
    ``min_k`` (the dataset's achieved k), ``singleton_rows`` (rows
    unique on the quasi tuple — the immediately re-identifiable ones),
    and per requested threshold ``rows_below_{k}`` (rows in groups
    smaller than k — the population that must be generalized or
    suppressed to reach k).

    Scale shape: two chained aggregates — groupBy(quasi).count() then
    a single-row reduction over the (far smaller) group table; both
    map-side combinable, one shuffle on the quasi key.  NULL
    discipline: NULL quasi values form their own group (SQL GROUP BY
    semantics, identical in the oracle) — NULL is a value an attacker
    can match on, so it must count like one.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity_report: need at least one quasi column")
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    named = [c.alias(f"_q{i}") for i, c in enumerate(cols)]
    groups = (
        df.select(*named)
        .groupBy(*[f"_q{i}" for i in range(len(named))])
        .agg(F.count(F.lit(1)).alias("_gsz"))
    )
    zero = F.lit(0).cast("long")
    aggs = [
        F.coalesce(F.sum("_gsz").cast("long"), zero).alias("total_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("_gsz").alias("min_k"),
        F.coalesce(
            F.sum(F.when(F.col("_gsz") == 1, F.col("_gsz"))).cast("long"), zero
        ).alias("singleton_rows"),
    ]
    for k in k_thresholds:
        k = int(k)
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("_gsz") < k, F.col("_gsz"))).cast("long"), zero
            ).alias(f"rows_below_{k}")
        )
    return groups.agg(*aggs)
