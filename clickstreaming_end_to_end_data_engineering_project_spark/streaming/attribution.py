"""Streaming attribution — the live halves of
``operators/attribution`` (last-touch, and the multi-touch fractional
models), extending the batch+streaming parity the summary families
(heavy hitters, sketches, near-dedup, ANN segments) already have to
the attribution family.

State design: per entity, the single LATEST qualifying touch row is
sufficient statistics for last-touch credit — every earlier touch is
unreachable by any future conversion.  Each micro-batch therefore:

1. seeds the batch with the stored per-entity last-touch rows (full
   batch schema, ``_is_seed`` marked) and runs the BATCH operator over
   the miniature seed ∪ batch log — ONE implementation, the
   ``scd2_apply`` discipline, so streaming-vs-batch bit-equality can
   never drift between two copies;
2. appends the batch's attributed conversions under
   ``store_dir/out/batch=<id>/`` (mode=overwrite — a replayed batch
   rewrites its own directory, the sink-family discipline);
3. advances the state to the per-entity latest touch of seed ∪ batch
   under the staged-swap crash contract (``fsutil.swap_with_staging``).

Crash/replay safety is ``StatefulSink``'s state-borne high-water mark
(streaming/_state.py; r17 review — a CONFIRMED bug in the first cut):
replaying against an already-advanced state is NOT exact here, because
the advanced state REPLACES the pre-batch seed touch rather than
adding rows — a replayed conversion whose credit was the old seed
would re-attribute to NULL, so ``batch_id <= hwm`` replays are
skipped whole.

Ordering contract (the standard streaming-attribution caveat, shared
with ``scd2_apply``): batches must arrive in nondecreasing event-time
order per entity — the state keeps only each entity's latest touch, so
a conversion delivered in a later batch than a touch that FOLLOWED it
would see that touch as if it preceded it.  The pin test streams
chronological chunks; route out-of-order replays to the batch
operator."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.attribution import last_touch_attribution, multi_touch_attribution
from ._state import StatefulSink


def _seeded(state: DataFrame, batch: DataFrame, conversion_filter: Column):
    """-> (seed ∪ batch tagged ``_is_seed``, the conversion mask).  Seed
    rows are touches from PRIOR batches, never this batch's conversions
    — without the mask a row that is both touch and conversion would
    re-emit on every later batch."""
    merged = state.withColumn("_is_seed", F.lit(True)).unionByName(
        batch.withColumn("_is_seed", F.lit(False))
    )
    return merged, conversion_filter & ~F.col("_is_seed")


class LastTouchAttributionSink(StatefulSink):
    """foreachBatch callable: micro-batch → attributed conversions
    under ``store_dir/out/batch=<id>/`` + per-entity last-touch state
    under ``store_dir/state/`` (staged swap)."""

    def __init__(
        self,
        store_dir: str,
        entity_col: str,
        ts_col: str,
        touch_filter: Column,
        touch_col: str,
        conversion_filter: Column,
        lookback: "str | None" = None,
        tiebreak_cols: "list[str] | None" = None,
    ) -> None:
        self.store_dir = store_dir
        self.entity_col = entity_col
        self.ts_col = ts_col
        self.touch_filter = touch_filter
        self.touch_col = touch_col
        self.conversion_filter = conversion_filter
        self.lookback = lookback
        self.tiebreak_cols = list(tiebreak_cols or [])

    def init_state(self, batch: DataFrame) -> DataFrame:
        return batch.limit(0)

    def step(self, batch: DataFrame, state: DataFrame):
        merged, conversions = _seeded(state, batch, self.conversion_filter)
        conv = last_touch_attribution(
            merged,
            self.entity_col,
            self.ts_col,
            touch_filter=self.touch_filter,
            touch_col=self.touch_col,
            conversion_filter=conversions,
            lookback=self.lookback,
            tiebreak_cols=self.tiebreak_cols,
        ).drop("_is_seed")
        order = [F.col(self.ts_col).desc()] + [
            F.col(c).desc() for c in self.tiebreak_cols
        ]
        w = Window.partitionBy(self.entity_col).orderBy(*order)
        new_state = (
            merged.filter(self.touch_filter)
            .drop("_is_seed")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return conv, new_state


def attributed_conversions_from_store(spark, store_dir: str) -> DataFrame:
    """All attributed conversion rows streamed into the store (the
    ``batch`` partition column is an ingest artifact and is dropped)."""
    return spark.read.parquet(os.path.join(store_dir, "out")).drop("batch")


class MultiTouchAttributionSink(StatefulSink):
    """foreachBatch callable: the live half of
    ``operators/attribution.multi_touch_attribution`` (r17 verdict #4)
    — micro-batch → fractional-credit rows under
    ``store_dir/out/batch=<id>/`` + per-entity touch-set state under
    ``store_dir/state/`` (staged swap via streaming/_state.py, the
    shared ``StatefulSink`` core).

    State design: unlike last-touch (one row per entity), EVERY touch
    inside the lookback of the entity's latest seen event time is
    sufficient statistics — any of them can still earn a share from a
    future conversion, and none older can (per-entity nondecreasing
    delivery makes the next conversion's window start at or after
    ``max_seen − lookback``).  ``lookback`` is therefore REQUIRED
    here: without one the touch set never expires and the state is the
    unbounded event log — the sink raises instead of pretending
    (the honest boundary; run the batch operator over the full log
    when unbounded windows are truly wanted).

    Same batch-seeding, hwm-replay-skip and ordering contract as
    ``LastTouchAttributionSink`` (see the module docstring): a replay
    against the advanced state would double the replayed batch's own
    touches in every window, so it is skipped whole."""

    def __init__(
        self,
        store_dir: str,
        entity_col: str,
        ts_col: str,
        touch_filter: Column,
        touch_col: str,
        conversion_filter: Column,
        lookback: str,
        model: str = "linear",
        tiebreak_cols: "list[str] | None" = None,
        half_life_seconds: "float | None" = None,
        endpoint_weight: float = 0.4,
    ) -> None:
        if lookback is None:
            raise ValueError(
                "MultiTouchAttributionSink: lookback is required — without "
                "one the per-entity touch state never expires (see docstring)"
            )
        self.store_dir = store_dir
        self.entity_col = entity_col
        self.ts_col = ts_col
        self.touch_filter = touch_filter
        self.touch_col = touch_col
        self.conversion_filter = conversion_filter
        self.lookback = lookback
        self.model = model
        self.tiebreak_cols = list(tiebreak_cols or [])
        self.half_life_seconds = half_life_seconds
        self.endpoint_weight = endpoint_weight

    def init_state(self, batch: DataFrame) -> DataFrame:
        return batch.limit(0)

    def step(self, batch: DataFrame, state: DataFrame):
        merged, conversions = _seeded(state, batch, self.conversion_filter)
        conv = multi_touch_attribution(
            merged,
            self.entity_col,
            self.ts_col,
            touch_filter=self.touch_filter,
            touch_col=self.touch_col,
            conversion_filter=conversions,
            model=self.model,
            lookback=self.lookback,
            tiebreak_cols=self.tiebreak_cols,
            half_life_seconds=self.half_life_seconds,
            endpoint_weight=self.endpoint_weight,
        ).drop("_is_seed")
        # prune: touches older than (entity's latest seen ts − lookback)
        # can never enter a future conversion's window under the
        # per-entity ordering contract; the boundary keeps >= (a touch
        # at exactly conv_ts − lookback qualifies, and future
        # conversions only move the threshold up)
        w = Window.partitionBy(self.entity_col)
        new_state = (
            merged.withColumn("_maxts", F.max(self.ts_col).over(w))
            .filter(
                self.touch_filter
                & (
                    F.col(self.ts_col)
                    >= F.col("_maxts") - F.expr(f"INTERVAL {self.lookback}")
                )
            )
            .drop("_maxts", "_is_seed")
        )
        return conv, new_state
