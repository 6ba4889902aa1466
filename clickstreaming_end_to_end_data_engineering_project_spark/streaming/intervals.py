"""Streaming interval merging — the live half of
``operators/intervals.merge_intervals`` (gaps-and-islands), completing
the family's batch+streaming parity.

Why per-key state is ONE island: islands are disjoint and start-
ordered, so island k's end is strictly below island k+1's start; an
interval arriving later (start ≥ every start seen, the ordering
contract) can therefore only touch the LAST island — every earlier
island is already immutable and is appended to the closed store the
moment a later island supersedes it.  Each micro-batch reruns the ONE
batch implementation over the miniature open-island ∪ batch log (the
scd2_apply / attribution-sink discipline), appends the newly-closed
islands under ``store_dir/out/batch=<id>/`` and keeps the still-open
last island per key under ``store_dir/state/`` (staged swap).

Crash/replay safety is ``StatefulSink``'s state-borne high-water mark
(streaming/_state.py): the ``n_intervals`` COUNT is not an idempotent
fold (re-merging a batch into a state that already absorbed it would
double-count rows), so a ``batch_id <= hwm`` replay is skipped whole.

Ordering contract: batches arrive in nondecreasing ``start`` order
per key (the family's event-time-ordered delivery assumption; the pin
test streams chronological-by-start chunks)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.intervals import merge_intervals
from ._state import StatefulSink


class IntervalMergeSink(StatefulSink):
    """foreachBatch callable: micro-batch of (key, start, end) rows →
    newly-closed islands under ``out/batch=<id>/`` + the open last
    island per key under ``state/``.  Read the merged table with
    ``islands_from_store`` — identical contract to the batch
    ``merge_intervals``."""

    def __init__(
        self, store_dir: str, key_col: str, start_col: str, end_col: str
    ) -> None:
        self.store_dir = store_dir
        self.key_col = key_col
        self.start_col = start_col
        self.end_col = end_col

    def init_state(self, batch: DataFrame) -> DataFrame:
        k, s, e = self.key_col, self.start_col, self.end_col
        return (
            batch.select(k, s, e)
            .limit(0)
            .withColumn("n_intervals", F.lit(0).cast("long"))
        )

    def step(self, batch: DataFrame, state: DataFrame):
        k, s, e = self.key_col, self.start_col, self.end_col
        # seed: the open island re-enters as one weighted interval row;
        # merge_intervals counts rows, so the seed's absorbed count is
        # re-added after the merge to keep n_intervals exact
        seed = state.select(
            k,
            F.col(s),
            F.col(e),
            F.col("n_intervals").alias("_seed_n"),
        )
        mini = seed.select(k, s, e).unionByName(batch.select(k, s, e))
        merged = merge_intervals(mini, k, s, e)
        # restore the seed's absorbed interval count: the island that
        # CONTAINS the seed's start gets (_seed_n - 1) extra rows (the
        # seed row itself counted once in the merge)
        adj = merged.join(
            seed.select(k, F.col(s).alias("_seed_s"), "_seed_n"), k, "left"
        ).select(
            k,
            F.col("island_start").alias(s),
            F.col("island_end").alias(e),
            (
                F.col("n_intervals")
                + F.when(
                    F.col("_seed_s").isNotNull()
                    & (F.col("island_start") <= F.col("_seed_s"))
                    & (F.col("_seed_s") <= F.col("island_end")),
                    F.col("_seed_n") - 1,
                ).otherwise(F.lit(0))
            ).alias("n_intervals"),
        )
        # only the max-start island per key can still extend
        w = Window.partitionBy(k).orderBy(F.col(s).desc())
        ranked = adj.withColumn("_rn", F.row_number().over(w))
        closed = ranked.filter(F.col("_rn") > 1).drop("_rn")
        return closed, ranked.filter(F.col("_rn") == 1).drop("_rn")


def islands_from_store(spark, store_dir: str) -> DataFrame:
    """Closed islands ∪ the open last island per key — the batch
    ``merge_intervals`` output contract (island_start / island_end /
    n_intervals under the caller's key column)."""
    from pyspark.errors import AnalysisException

    state = spark.read.parquet(os.path.join(store_dir, "state")).drop("_hwm")
    try:
        closed = spark.read.parquet(os.path.join(store_dir, "out")).drop("batch")
    except AnalysisException:
        # no island has closed yet — the ONLY state that may read as
        # empty; any other failure (transient FS/listing, corruption)
        # must propagate, not silently drop ALL closed islands (r17
        # ADVICE #1, mirroring _state.read_state)
        closed = state.limit(0)
    key, start, end = [c for c in state.columns if c != "n_intervals"]
    renamed = lambda df: df.select(  # noqa: E731
        key,
        F.col(start).alias("island_start"),
        F.col(end).alias("island_end"),
        "n_intervals",
    )
    return renamed(closed).unionByName(renamed(state))
