"""Corpus intake validation report tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_validation_report_counts_planted_violations(spark):
    """Every named check must count exactly its planted violations —
    including the NULL-lang row (three-valued logic must not let a
    NULL skip the lang check) and duplicate ids via the
    total_rows/distinct_ids pair."""
    from clickstreaming_end_to_end_data_engineering_project_spark import curation

    rows = [
        (1, "good text here", "en", 14),
        (2, None, "en", 0),            # null_text
        (3, "", "en", 0),              # empty_text
        (4, "abc", "en", 99),          # nchars_mismatch
        (5, "fine", "xx", 4),          # unknown_lang
        (6, "fine", None, 4),          # unknown_lang via NULL
        (7, "fine", "en", None),       # null_nchars
        (None, "fine", "en", 4),       # null_id
        (1, "dup id row", "en", 10),   # duplicate id
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).withColumn("source", F.lit("s"))
    got = {r.check_name: r.n for r in curation.validation_report(df).collect()}
    assert got["null_text"] == 1
    assert got["empty_text"] == 1
    assert got["nchars_mismatch"] == 1
    assert got["unknown_lang"] == 2
    assert got["null_nchars"] == 1
    assert got["null_id"] == 1
    assert got["total_rows"] == 9
    # distinct counts ignore the NULL id; 1 appears twice → 6 distinct
    assert got["distinct_ids"] == 7
