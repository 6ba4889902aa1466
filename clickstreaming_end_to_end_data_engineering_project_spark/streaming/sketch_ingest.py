"""Streaming distinct-count ingestion via mergeable HLL sketches —
the live half of operators/sketches.py's scan-once/merge-everywhere
pattern.

Each micro-batch folds into per-period HLL sketches (kilobytes) and
lands in the store under ``batch=<id>/`` with mode=overwrite, so a
replayed batch REWRITES its own directory instead of appending a
duplicate — exactly-once at the file level, the
streaming/near_dedup.py survivor discipline.  And even if a duplicate
sketch row did survive, HLL union is IDEMPOTENT (registers are
per-bucket maxima: union(sk, sk) == sk), so estimates cannot drift —
the algebra backstops the plumbing, and the test pins both layers.

Queries never touch raw history: ``read_distinct_rollup`` merges the
stored sketch rows (periods × batches, not events) with
``hll_union_agg``.  Because HLL union is associative and commutative,
the streamed store's estimates are BIT-EQUAL to a batch
``distinct_rollup_hll`` over the same events — pinned by test, not
approximately asserted.

``compact_sketch_store`` collapses the per-batch rows to one row per
period through ``fsutil.swap_with_staging`` (crash-safe staging+swap,
heal-on-entry), shrinking the store without moving any estimate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StructField,
    StructType,
    TimestampType,
)

from .sinks import Sink

_STORE_SCHEMA = StructType(
    [
        StructField("period", TimestampType()),
        StructField("sk", BinaryType()),
    ]
)


class SketchRollupSink(Sink):
    """foreachBatch callable: micro-batch → per-period HLL sketches →
    ``store_dir/batch=<id>/`` (overwrite: replay-idempotent)."""

    def __init__(
        self,
        store_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        fine: str = "day",
    ) -> None:
        self.store_dir = store_dir
        self.key_col = key_col
        self.ts_col = ts_col
        self.fine = fine

    def write(self, batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy(
                F.date_trunc(self.fine, F.col(self.ts_col)).alias("period")
            )
            .agg(F.hll_sketch_agg(self.key_col).alias("sk"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.store_dir, f"batch={batch_id}"))
        )


def _read_store(spark, store_dir: str) -> DataFrame:
    from ..fsutil import read_store_or_empty

    return read_store_or_empty(spark, store_dir, _STORE_SCHEMA)


def read_distinct_rollup(
    spark, store_dir: str, coarse: str = "week"
) -> DataFrame:
    """(period, approx_distinct) at ``coarse`` granularity from the
    stored sketches — merges the periods×batches-sized store, never
    the raw events."""
    return (
        _read_store(spark, store_dir)
        .groupBy(F.date_trunc(coarse, "period").alias("period"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_distinct"))
    )


# compaction's output batch id: reserved (micro-batch ids are >= 0),
# so the compacted rows live in a normal batch=<id>/ partition dir and
# the store layout stays UNIFORM — the old compaction wrote bare
# parquet files at the store root, and the first post-compaction
# micro-batch (or replay) then produced a files+dirs mix that breaks
# partition discovery (r12 advisory)
_COMPACTED_BATCH_ID = -1


def compact_sketch_store(spark, store_dir: str) -> None:
    """Collapse per-batch sketch rows to ONE row per fine period —
    union_agg preserves every estimate exactly (associativity), the
    swap is crash-safe (``fsutil.swap_with_staging``).

    The merged rows land under the reserved ``batch=-1/`` partition
    dir, keeping the store's layout identical before and after
    compaction — micro-batches written (or replayed) AFTER a
    compaction coexist with it, and HLL union idempotence makes a
    replayed batch's re-merge a no-op on every estimate.  Like every
    swap-based maintenance job here, run it only while no stream is
    actively writing the store (the near_dedup compactor's
    terminal-runs-only rule)."""
    from ..fsutil import swap_with_staging

    def _write(staging: str) -> None:
        (
            _read_store(spark, store_dir)
            .groupBy("period")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .write.parquet(
                os.path.join(staging, f"batch={_COMPACTED_BATCH_ID}")
            )
        )

    swap_with_staging(spark, store_dir, _write, job="compact")
