"""Event-time tumbling-window aggregation.

Reference: page-view counts per 1-minute tumbling window
(spark_processor/stream_processor.py:137-149) and hourly purchase /
device windows (:218, :263).  ``F.window`` with no slide is a tumbling
window; start/end are epoch-aligned, so for durations dividing one hour
``window.start == date_trunc(unit, ts)`` — which is what the DuckDB
oracle computes.

Scale notes: a windowed count is one hash-aggregate with map-side
partial aggregation; the only shuffle is on the (window, keys) group.
The filter on ``event_type`` is pushed into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_count(
    df: DataFrame,
    ts_col: str,
    duration: str,
    *keys: str | Column,
    count_alias: str = "view_count",
) -> DataFrame:
    """Count rows per (tumbling window, *keys)."""
    return (
        df.groupBy(F.window(ts_col, duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *[c if isinstance(c, Column) else F.col(c) for c in keys],
            count_alias,
        )
    )

