"""Streaming heavy-hitter ingestion via per-batch Misra–Gries
summaries — the live half of ``operators/sketches.heavy_hitters``,
completing the batch+streaming parity the other summary families
(HLL/theta/KLL, MinHash bands, BM25/ANN segments) already have.

Each micro-batch is reduced to an MG summary of at most ``k`` weighted
counters plus one total row and lands under ``store_dir/batch=<id>/``
with mode=overwrite — a replayed batch REWRITES its own directory
(exactly-once at the file level, the sketch_ingest.py discipline).
The store grows by ≤ k+1 ROWS per batch regardless of the batch's
vocabulary — that is the whole point at 100 TB: raw per-item counts
per batch would be vocabulary-sized.

Merge guarantee (Agarwal et al., "Mergeable Summaries", PODS 2012):
each batch's reduction subtracts its (k+1)-th largest count δ_b from
every counter, and (k+1)·δ_b ≤ N_b, so an item's total undercount
across the merged store is ≤ Σ_b N_b/(k+1) = N/(k+1).  Any item with
true frequency > N/k therefore has a strictly positive merged counter
— the merged store is a guaranteed SUPERSET of the corpus heavy
hitters, and ``heavy_hitters_from_store`` recounts exactly those
candidates against the corpus to return the same exact answer as the
batch operator (pinned bit-for-bit in tests, replay included)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .sinks import Sink

_STORE_SCHEMA = StructType(
    [
        # item NULL marks the batch-total row (w = non-null row count)
        StructField("item", StringType()),
        StructField("w", LongType()),
    ]
)


class HeavyHitterSink(Sink):
    """foreachBatch callable: micro-batch → ≤ k+1 summary rows →
    ``store_dir/batch=<id>/`` (overwrite: replay-idempotent).

    The one Misra–Gries reduction, shared with the windowed sink: per
    group (``_keys``; none here, so the whole batch), a rank window over
    the batch's item counts finds the (k+1)-th largest count and
    subtracts it — no driver collect.  Without a window column the rank
    runs over the batch's distinct items in one partition, which the
    per-batch vocabulary bounds."""

    _keys: "tuple[str, ...]" = ()

    def __init__(self, store_dir: str, item_col: str = "item", k: int = 100) -> None:
        if int(k) < 1:
            raise ValueError("k must be >= 1")
        self.store_dir = store_dir
        self.item_col = item_col
        self.k = int(k)

    def _items(self, batch: DataFrame) -> DataFrame:
        """The batch as (``*_keys``, item) rows, NULLs dropped."""
        return batch.select(
            F.col(self.item_col).cast("string").alias("item")
        ).filter(F.col("item").isNotNull())

    def write(self, batch: DataFrame, batch_id: int) -> None:
        keys = list(self._keys)
        counts = self._items(batch).groupBy(*keys, "item").agg(
            F.count(F.lit(1)).alias("w")
        )
        group = Window.partitionBy(*keys)
        # per group, the (k+1)-th largest count is the MG decrement
        delta = F.coalesce(
            F.max(F.when(F.col("_rk") == self.k + 1, F.col("w"))).over(group),
            F.lit(0),
        )
        summ = (
            counts.withColumn(
                "_rk", F.row_number().over(group.orderBy(F.desc("w"), "item"))
            )
            .withColumn("_d", delta)
            .filter(F.col("w") > F.col("_d"))
            .select(*keys, "item", (F.col("w") - F.col("_d")).alias("w"))
        )
        total = (
            counts.groupBy(*keys)
            # coalesce: an all-null-items batch has empty counts
            .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("w"))
            .select(*keys, F.lit(None).cast("string").alias("item"), "w")
        )
        (
            summ.unionByName(total)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(self.store_dir, f"batch={batch_id}"))
        )


_WINDOWED_STORE_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        # item NULL marks the (batch, window) total row
        StructField("item", StringType()),
        StructField("w", LongType()),
    ]
)


class WindowedHeavyHitterSink(HeavyHitterSink):
    """foreachBatch callable for PER-WINDOW heavy hitters (r15 verdict
    directive #7): each micro-batch is reduced to one MG summary PER
    TUMBLING EVENT-TIME WINDOW it touches (≤ k+1 rows per window) and
    lands under ``store_dir/batch=<id>/`` with mode=overwrite (replay-
    idempotent, the sink-family discipline) — ``HeavyHitterSink``'s
    reduction grouped by ``window_start``.
    Merge guarantee: the global proof per window — an item with
    freq_w > N_w/k keeps a positive merged counter for window w, so
    ``windowed_heavy_hitters_from_store`` recounts a guaranteed
    superset (pinned bit-equal to the batch operator in tests,
    replay included)."""

    _keys = ("window_start",)

    def __init__(
        self,
        store_dir: str,
        ts_col: str = "ts",
        item_col: str = "item",
        k: int = 100,
        window: str = "1 hour",
        slide: "str | None" = None,
    ) -> None:
        super().__init__(store_dir, item_col, k)
        self.ts_col = ts_col
        self.window = window
        self.slide = slide

    def _items(self, batch: DataFrame) -> DataFrame:
        win = (
            F.window(self.ts_col, self.window, self.slide)
            if self.slide
            else F.window(self.ts_col, self.window)
        )
        return batch.filter(
            F.col(self.ts_col).isNotNull() & F.col(self.item_col).isNotNull()
        ).select(
            win.start.alias("window_start"),
            F.col(self.item_col).cast("string").alias("item"),
        )


def windowed_heavy_hitters_from_store(
    spark,
    store_dir: str,
    corpus: DataFrame,
    ts_col: str,
    item_col: str,
    k: int,
    window: str = "1 hour",
    slide: "str | None" = None,
) -> DataFrame:
    """EXACT per-window heavy hitters of ``corpus`` served from the
    windowed candidate store: recount only the stored (window, item)
    candidates and apply freq·k > N_w against each window's own exact
    total.  Same same-stream requirement as the global verb."""
    from ..fsutil import read_store_or_empty

    store = read_store_or_empty(spark, store_dir, _WINDOWED_STORE_SCHEMA)
    cand = (
        store.filter(F.col("item").isNotNull())
        .select(
            F.col("window_start").alias("_hh_win"),
            F.col("item").alias("_hh_item"),
        )
        .distinct()
    )
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    assigned = corpus.filter(
        F.col(ts_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        win.start.alias("window_start"),
        F.col(item_col).cast("string").alias("item"),
    )
    totals = assigned.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("_n_total")
    )
    exact = (
        assigned.join(
            F.broadcast(cand),
            (F.col("window_start") == F.col("_hh_win"))
            & (F.col("item") == F.col("_hh_item")),
            "left_semi",
        )
        .groupBy("window_start", "item")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.join(F.broadcast(totals), "window_start")
        .filter(F.col("freq") * F.lit(int(k)).cast("long") > F.col("_n_total"))
        .select("window_start", F.col("item").alias(item_col), "freq")
    )


def _read_store(spark, store_dir: str) -> DataFrame:
    from ..fsutil import read_store_or_empty

    return read_store_or_empty(spark, store_dir, _STORE_SCHEMA)


def read_candidate_summary(spark, store_dir: str) -> DataFrame:
    """Merged MG summary: (item, w_lower) for every stored candidate
    (w_lower undercounts the true frequency by at most N/(k+1)), plus
    the row-count total available via ``read_total``.  Batches×k rows
    — never the corpus."""
    return (
        _read_store(spark, store_dir)
        .filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("w").alias("w_lower"))
    )


def read_total(spark, store_dir: str) -> int:
    """Total non-null items ingested (sum of the batch-total rows)."""
    row = (
        _read_store(spark, store_dir)
        .filter(F.col("item").isNull())
        .agg(F.coalesce(F.sum("w"), F.lit(0)).alias("n"))
        .collect()[0]
    )
    return int(row["n"])


def heavy_hitters_from_store(
    spark, store_dir: str, corpus: DataFrame, item_col: str, k: int
) -> DataFrame:
    """EXACT heavy hitters of ``corpus`` served from the streamed
    candidate store: recount only the stored candidates (broadcast
    semi-join — candidates are batches×k, not vocabulary-sized) and
    apply the integer threshold freq·k > N against the corpus's own
    exact total.  Requires the store to have ingested the same item
    stream as ``corpus`` with capacity ≥ k (the superset guarantee in
    the module docstring); equality with the batch operator is pinned
    in tests, including after a replayed batch."""
    cand = read_candidate_summary(spark, store_dir).select(
        F.col("item").alias("_hh_item")
    )
    items = corpus.filter(F.col(item_col).isNotNull())
    n_total = items.groupBy().agg(F.count(F.lit(1)).alias("_n_total"))
    exact = (
        items.join(
            F.broadcast(cand),
            F.col(item_col).cast("string") == F.col("_hh_item"),
            "left_semi",
        )
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(n_total))
        .filter(F.col("freq") * F.lit(int(k)).cast("long") > F.col("_n_total"))
        .select(item_col, "freq")
    )
