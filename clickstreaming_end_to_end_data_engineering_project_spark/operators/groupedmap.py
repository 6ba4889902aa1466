"""Grouped-map transforms via ``applyInPandas``.

Use case shape: per-group numeric transforms that need the WHOLE group
in one pandas frame — normalization, per-group model scoring, rank
transforms.  Each group becomes one Arrow batch on one executor, so
group size must fit executor memory: partition-prune or pre-split
giant groups (the same constraint any grouped-map carries).

The example operator (per-group z-score normalization) exists in pure
expressions too (groupBy stats + join back); the pandas form is the
template for logic that ISN'T expressible — sklearn scoring, scipy
stats — while the test pins the two against each other, including the
degenerate groups (single row, zero variance) where naive SQL division
would NULL out or raise under ANSI mode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType


def _schema(group_col: str) -> StructType:
    return StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField(group_col, StringType(), True),
            StructField("n_chars", LongType(), True),
            StructField("z_chars", DoubleType(), True),
        ]
    )


def normalize_per_group(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """Per-group z-score of n_chars computed inside pandas (ddof=1,
    matching stddev_samp); degenerate groups (size 1 / zero variance)
    get z=0.0 by definition."""

    def _norm(pdf):
        mu = pdf["n_chars"].mean()
        sigma = pdf["n_chars"].std(ddof=1)
        out = pdf[["doc_id", group_col, "n_chars"]].copy()
        if sigma and sigma > 0:
            out["z_chars"] = (pdf["n_chars"] - mu) / sigma
        else:
            out["z_chars"] = 0.0
        return out

    return df.select("doc_id", group_col, "n_chars").groupBy(group_col).applyInPandas(
        _norm, _schema(group_col)
    )


def normalize_per_group_expr(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """Expression twin (groupBy stats joined back) for differential
    testing and for when the transform IS expressible.  The sigma
    guard matters twice: NULL sigma (single-row group) and 0.0 sigma
    (constant group, which ANSI mode would turn into DIVIDE_BY_ZERO)."""
    stats = df.groupBy(group_col).agg(
        F.avg("n_chars").alias("_mu"), F.stddev_samp("n_chars").alias("_sigma")
    )
    z = F.when(
        F.col("_sigma").isNull() | (F.col("_sigma") == 0.0), F.lit(0.0)
    ).otherwise((F.col("n_chars") - F.col("_mu")) / F.col("_sigma"))
    return df.join(stats, group_col).select("doc_id", group_col, "n_chars", z.alias("z_chars"))
