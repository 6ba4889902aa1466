"""Streaming A/B experiment readout — the live half of
``operators/stats.two_proportion_ztest``, extending batch+streaming
parity to the experimentation family.

State design: the test's sufficient statistic is the per-UNIT
(user-day) pair ``(in_treatment, converted)`` — four counts derive
from it, but the counts alone are NOT mergeable across micro-batches
(a unit split across batches must be counted once, and an unconverted
unit may convert later), so the state keys units.  That is exactly
what a production experiment store keeps: one row per exposed unit,
bounded by DAU x experiment-days — independent of raw event volume.

Unlike the attribution/sequence sinks, this family has NO ordering
contract: the per-unit merge is ``bool_or`` — commutative, idempotent,
monotone — so batches may arrive in any order and replays are
semantically harmless (``StatefulSink``'s hwm rule applies anyway, so a
replayed batch never rewrites history with a LATER state's readout).  The pin
test streams SHUFFLED batches and still matches the batch operator
bit-for-bit — a property the order-contracted sinks cannot offer.

Per batch:
1. reduce the micro-batch to its units (the same groupBy the batch
   query runs);
2. merge with the stored units (union + bool_or groupBy);
3. run the BATCH operator (``two_proportion_ztest``) over the merged
   units and write the current readout — one row, the live dashboard
   tile — under ``store_dir/out/batch=<id>/`` (ONE implementation, the
   ``scd2_apply`` discipline: streaming-vs-batch equality cannot drift
   between two copies);
4. swap the merged units in as the new state
   (``StatefulSink``, streaming/_state.py).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.stats import two_proportion_ztest
from ._state import StatefulSink


class ABTestSink(StatefulSink):
    """foreachBatch callable: micro-batch of raw events → running
    z-test readout under ``store_dir/out/batch=<id>/`` + per-unit
    state under ``store_dir/state/``.

    ``unit_cols``: the unit-of-analysis key (e.g. user_id + event
    day); ``treatment_expr``: boolean Column deriving the arm from the
    unit/batch columns (must be a pure function of the unit key — the
    randomization-unit contract); ``converted_expr``: boolean Column
    over raw batch rows (bool_or-reduced to the unit)."""

    def __init__(
        self,
        store_dir: str,
        unit_cols: "list[str]",
        treatment_expr: Column,
        converted_expr: Column,
    ) -> None:
        self.store_dir = store_dir
        self.unit_cols = list(unit_cols)
        self.treatment_expr = treatment_expr
        self.converted_expr = converted_expr

    def _units(self, batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy(*self.unit_cols)
            .agg(
                F.max(self.converted_expr.cast("boolean")).alias("converted")
            )
            .withColumn("in_treatment", self.treatment_expr)
        )

    def init_state(self, batch: DataFrame) -> DataFrame:
        return self._units(batch).limit(0)

    def step(self, batch: DataFrame, state: DataFrame):
        merged = (
            state.unionByName(self._units(batch))
            .groupBy(*self.unit_cols, "in_treatment")
            .agg(F.max("converted").alias("converted"))
        )
        return two_proportion_ztest(merged, "in_treatment", "converted"), merged


def latest_readout_from_store(spark, store_dir: str) -> DataFrame:
    """The most recent batch's one-row readout (max batch partition)."""
    all_out = spark.read.parquet(os.path.join(store_dir, "out"))
    last = all_out.agg(F.max("batch")).first()[0]
    return all_out.filter(F.col("batch") == last).drop("batch")
