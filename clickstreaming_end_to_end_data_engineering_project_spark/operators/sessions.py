"""Sessionization.

The reference sessionizes with an unwindowed groupBy(session_id,
user_id) in update mode (spark_processor/stream_processor.py:179-192) —
unbounded state, partial emissions, nondeterministic collect_list
ordering (SURVEY.md §4).  The engine's documented upgrade is gap-based
sessionization with ``F.session_window`` (batch and streaming,
watermark-evictable state) plus a deterministic, ordered event list.

Two implementations with identical semantics:

- ``sessionize``: ``F.session_window(ts, gap)`` — the native operator;
  one shuffle on the grouping key, state bounded by the gap.
- ``sessionize_via_lag``: lag/cumsum island detection with analytic
  windows — the classic SQL formulation, used to cross-check the
  native operator and as the shape the DuckDB oracle runs.

Gap semantics: an event exactly ``gap`` after the previous one starts a
NEW session (Spark session windows are [start, last+gap) with exclusive
end), so the lag formulation uses a strict ``<`` comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP = "30 minutes"


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = DEFAULT_GAP,
) -> DataFrame:
    """Per-key gap sessions: (key, session_start, session_end, event_count)."""
    return (
        df.groupBy(key, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(key, "session_start", "session_end", "event_count")
    )


def sessionize_via_lag(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap_seconds: int = 1800,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Lag/cumsum island sessionization — same output as ``sessionize``."""
    order_cols = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    prev_ts = F.lag(ts_col).over(w)
    # cast-to-double keeps microsecond precision (unix_timestamp truncates
    # to whole seconds and would disagree with session_window near the gap)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col(ts_col).cast("double") - prev_ts.cast("double") >= F.lit(float(gap_seconds))),
        F.lit(1),
    ).otherwise(F.lit(0))
    cum = Window.partitionBy(key).orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
    return (
        df.withColumn("_new", is_new)
        .withColumn("_sess", F.sum("_new").over(cum))
        .groupBy(key, "_sess")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(key, "session_start", "session_end", "event_count")
    )


def session_event_lists(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    list_col: str = "event_type",
    tiebreak: str = "event_id",
    gap: str = DEFAULT_GAP,
) -> DataFrame:
    """Reference `user_sessions` shape (stream_processor.py:182-192,
    333-339): per-session ordered, comma-joined event list.  Unlike the
    reference's bare collect_list (partition-nondeterministic), ordering
    is forced via array_sort over (ts, tiebreak, value) structs, which
    keeps the whole aggregation JVM-side and oracle-comparable."""
    packed = F.struct(F.col(ts_col), F.col(tiebreak), F.col(list_col).alias("v"))
    return (
        df.groupBy(key, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("event_count"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(packed)), lambda x: x["v"]),
                ",",
            ).alias("event_types"),
        )
        .select(key, "session_start", "session_end", "event_count", "event_types")
    )
