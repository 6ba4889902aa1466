"""Corpus intake validation: one-pass counts of named violations over a
documents frame, run on a new crawl drop before it is admitted."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KNOWN_LANGS = ("en", "es", "fr", "de", "zh")


def _violation_checks() -> "dict[str, F.Column]":
    """Named validation predicates over a documents frame.  NULL-safe:
    every predicate resolves to a concrete boolean (a NULL input can
    never silently skip a check via three-valued logic)."""
    text_col, lang_col, nchars_col = "text", "lang", "n_chars"
    return {
        "null_text": F.col(text_col).isNull(),
        "empty_text": F.coalesce(F.length(text_col) == 0, F.lit(False)),
        "nchars_mismatch": F.coalesce(
            F.col(nchars_col) != F.length(text_col), F.lit(False)
        ),
        "unknown_lang": F.coalesce(
            ~F.col(lang_col).isin(*KNOWN_LANGS), F.lit(True)
        ),
        "null_nchars": F.col(text_col).isNotNull() & F.col(nchars_col).isNull(),
        "null_id": F.col("doc_id").isNull(),
    }


def validation_report(docs: DataFrame) -> DataFrame:
    """Corpus intake validation as a ONE-PASS report: per named
    check the violation count, plus total rows and distinct ids (their
    difference is the duplicate-id count).  Conditional sums + a
    distinct count, stack()-unpivoted; at 100 TB this is the scan you
    run on a new crawl drop BEFORE admitting it to the pipeline."""
    checks = _violation_checks()
    # coalesce: F.sum over ZERO rows is NULL — an empty crawl drop must
    # report 0 violations, not NULL (and must match the oracle's 0s)
    aggs = [
        F.coalesce(F.sum(pred.cast("bigint")), F.lit(0)).alias(f"_{name}")
        for name, pred in checks.items()
    ] + [
        F.count(F.lit(1)).alias("_rows"),
        F.countDistinct("doc_id").alias("_ids"),
    ]
    agg = docs.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{name}', _{name}" for i, name in enumerate(checks)
    )
    n = len(checks)
    return agg.select(
        F.expr(
            f"stack({n + 2}, {stack_args}, {n}, 'total_rows', _rows, "
            f"{n + 1}, 'distinct_ids', _ids) AS (check_idx, check_name, n)"
        )
    )
