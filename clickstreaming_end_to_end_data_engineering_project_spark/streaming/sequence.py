"""Streaming sequence-pattern matching — the live half of
``operators/sequence.match_sequence``, completing the new family's
batch+streaming parity (the attribution-sink discipline).

State design: per entity, the matched step timestamps so far
(t_<step1> .. t_<stepk>, NULL tail) are sufficient statistics — the
greedy-earliest semantics fix each tⱼ permanently the first time a
qualifying event arrives (under per-entity event-time-ordered batch
delivery, an earlier qualifying event would have arrived in an
earlier batch), so a batch can only FILL NULL tail slots, never
revise filled ones.  Each micro-batch folds every entity's batch
events, in time order, into its stored step timestamps — one full
outer join of the state with the per-entity event arrays, where the
batch operator's cascade joins once per step: a batch may complete any
number of consecutive steps at once, including starting brand-new
entities.  The horizon gate re-derives from the (fixed) t_<step1> +
within, exactly the batch operator's whole-pattern bound.

Crash/replay safety is ``StatefulSink``'s state-borne high-water mark
(streaming/_state.py): a ``batch_id <= hwm`` replay is skipped.  The
skip leaves the very state a rerun would produce, because a min-fixpoint
is idempotent — re-offering the same events can only re-derive the same
minima — so a state stored before the hwm existed (read as hwm -1) is
safe too.

Ordering contract (shared with LastTouchAttributionSink /
scd2_apply): batches arrive in nondecreasing event-time order per
entity; a stale event delivered after a later one was already folded
in could have claimed an earlier tⱼ, which the fixed state would
miss.  Route out-of-order replays to the batch operator."""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._state import StatefulSink


class SequenceMatchSink(StatefulSink):
    """foreachBatch callable: micro-batch → per-entity step-timestamp
    state under ``store_dir/state/`` (staged swap).  Read the match
    table with ``matches_from_store`` — one row per entity that has
    matched step 1, NULL from the first unmatched step, exactly the
    batch operator's output contract."""

    def __init__(
        self,
        store_dir: str,
        entity_col: str,
        ts_col: str,
        steps: "Sequence[tuple[str, Column]]",
        within: "str | None" = None,
    ) -> None:
        if len(steps) < 1:
            raise ValueError("SequenceMatchSink: need at least one step")
        names = [n for n, _ in steps]
        if len(set(names)) != len(names):
            raise ValueError(f"SequenceMatchSink: duplicate step names: {names}")
        self.store_dir = store_dir
        self.entity_col = entity_col
        self.ts_col = ts_col
        self.steps = list(steps)
        self.within = within
        self._cols = [f"t_{n}" for n in names]

    def init_state(self, batch: DataFrame) -> DataFrame:
        ts_type = batch.schema[self.ts_col].dataType
        return (
            batch.select(F.col(self.entity_col))
            .limit(0)
            .select(
                self.entity_col,
                *[F.lit(None).cast(ts_type).alias(c) for c in self._cols],
            )
        )

    def step(self, batch: DataFrame, state: DataFrame):
        cols, first = self._cols, self._cols[0]
        # per entity, this batch's events in time order with their step
        # flags (a NULL predicate or timestamp never matches, as in the
        # batch operator's filters)
        events = (
            batch.filter(F.col(self.ts_col).isNotNull())
            .groupBy(self.entity_col)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(self.ts_col).alias("ts"),
                            *[
                                F.coalesce(pred, F.lit(False)).alias(c)
                                for (_, pred), c in zip(self.steps, cols)
                            ],
                        )
                    )
                ).alias("_ev")
            )
        )

        def fold(acc: Column, ev: Column) -> Column:
            # an event fills step j's empty slot when it matches step j,
            # falls strictly after t_{j-1} and within the horizon from
            # t_1 — in time order that is the cascade's min over those
            # rows; filled slots never change (the min-fixpoint)
            slots = []
            for j, c in enumerate(cols):
                ok = ev[c] & acc[c].isNull()
                if j:
                    ok = ok & (ev["ts"] > acc[cols[j - 1]])
                    if self.within is not None:
                        ok = ok & (
                            ev["ts"]
                            <= acc[first] + F.expr(f"INTERVAL {self.within}")
                        )
                slots.append(F.when(ok, ev["ts"]).otherwise(acc[c]).alias(c))
            return F.struct(*slots)

        # entities without events this batch keep their state (a NULL
        # event array folds to NULL, so coalesce back to the state row)
        stored = F.struct(*cols)
        matched = state.join(events, self.entity_col, "full").select(
            self.entity_col,
            F.coalesce(F.aggregate("_ev", stored, fold), stored).alias("_m"),
        )
        return None, matched.select(self.entity_col, "_m.*").filter(
            F.col(first).isNotNull()
        )


def matches_from_store(spark, store_dir: str) -> DataFrame:
    """The per-entity match table streamed into the store — the batch
    operator's exact output contract."""
    return spark.read.parquet(os.path.join(store_dir, "state")).drop("_hwm")
