"""``StatefulSink``: the one state sequence of the streaming twins whose
micro-batches fold into carried state (attribution, intervals,
sequence, A/B).  Each twin gives two hooks — ``init_state(batch)`` and
``step(batch, state) -> (out | None, new_state)`` — and this module
owns the rest: the ``store_dir/state`` and ``store_dir/out/batch=<id>``
layout, heal → read, the replay skip, the out write and the state swap.
Emptiness, single materialization and the 3-attempt retry come from
``Sink.__call__``.

Two replay rules cover every foreachBatch twin under ``streaming/``:
- **per-batch overwrite** — a sink whose batch output depends on the
  batch alone (heavy hitters, sketches, near-dedup survivors) writes
  ``batch=<id>`` with mode=overwrite, so a replay rewrites its own
  directory.  Those stay plain ``Sink``s.
- **state-borne high-water mark** — a ``StatefulSink``.  The id of the
  last applied batch travels INSIDE the swapped state as a constant
  ``_hwm`` column, so "state advanced" and "hwm advanced" are one
  atomic rename.  The out write precedes the swap, so ``batch_id <=
  hwm`` means "output landed AND state advanced" and the replay is
  skipped whole; a crash before the swap leaves the pre-batch state
  and the rerun (``Sink``'s retry, or a stream replay) recomputes
  exactly, rewriting its own out dir.  A stored state without ``_hwm``
  reads as hwm -1.

Why parquet state and not ``applyInPandasWithState``: the batch
``*_from_store`` readers read the state back as an ordinary parquet
table, and each step reruns the ONE batch operator over the miniature
state ∪ batch log (the ``scd2_apply`` discipline), so streaming and
batch outputs cannot drift between two implementations.  Keyed
streaming state lives in the checkpoint's state store, is readable only
through the state reader, and needs a per-group pandas twin of every
batch operator.

Contracts:
- ``read_state`` heals a crashed swap first, then reads the live state
  dir with the known schema (``init_df``'s fields plus ``_hwm long``:
  no schema-inference job).  ONLY a missing path means "no state yet";
  any other read failure propagates so the batch fails and is retried
  — a transient listing error must never reset state.  The hwm is read
  via ``limit(1)`` (one row, never a full-table aggregate).
- ``write_state`` stamps the hwm and writes the new state into staging
  (``fsutil.swap_with_staging``).  That plan reads the live dir, and
  the write finishes before the first rename moves it.  The very first
  state is staged and renamed too: a direct write that crashed
  mid-flight would leave a partial live dir every later read fails on.
"""

from __future__ import annotations

import os
from abc import abstractmethod

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import fsutil
from .sinks import Sink


def read_state(spark, state_dir: str, init_df: DataFrame):
    """-> (state_without_hwm, have_state, hwm).  ``init_df`` supplies
    the state's schema; hwm is -1 when absent."""
    fsutil.heal_swap_crash(spark, state_dir)
    schema = StructType(init_df.schema.fields + [StructField("_hwm", LongType())])
    raw = fsutil.read_or_none(spark, state_dir, schema)
    if raw is None:
        return init_df, False, -1
    row = raw.select("_hwm").limit(1).first()
    hwm = -1 if row is None or row["_hwm"] is None else int(row["_hwm"])
    return raw.drop("_hwm"), True, hwm


def write_state(
    spark, state_dir: str, new_state: DataFrame, have_state: bool, batch_id: int
) -> None:
    """Persist ``new_state`` stamped with hwm ``batch_id`` under the
    staged-swap contract (a staged first write when ``have_state`` is
    False)."""
    out = new_state.withColumn("_hwm", F.lit(int(batch_id)).cast("long"))
    if have_state:
        fsutil.swap_with_staging(
            spark, state_dir, lambda st: out.write.parquet(st), job="compact"
        )
        return
    # a crash mid-write strands only staging debris, deleted here (and
    # by swap_with_staging's cleanup) on the next attempt
    staging = state_dir.rstrip("/") + ".compact_staging"
    jvm, fs, live = fsutil.fs_for(spark, state_dir)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(spath):
        fs.delete(spath, True)
    out.write.parquet(staging)
    if not fs.rename(spath, live):
        raise IOError(f"first state write: rename {staging} -> {state_dir} failed")


class StatefulSink(Sink):
    """A ``Sink`` folding each micro-batch into parquet state under
    ``store_dir/state/``, with optional per-batch output under
    ``store_dir/out/batch=<id>/`` (the state-borne hwm rule, module
    docstring).  Subclasses set ``store_dir`` and give the two hooks."""

    store_dir: str

    @abstractmethod
    def init_state(self, batch: DataFrame) -> DataFrame:
        """The empty state; its schema is the stored state's."""

    @abstractmethod
    def step(
        self, batch: DataFrame, state: DataFrame
    ) -> "tuple[DataFrame | None, DataFrame]":
        """-> (this batch's out rows or None, the new state)."""

    def write(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state_dir = os.path.join(self.store_dir, "state")
        state, have_state, hwm = read_state(spark, state_dir, self.init_state(batch))
        if batch_id <= hwm:
            return  # fully applied (module docstring)
        out, new_state = self.step(batch, state)
        if out is not None:
            out.write.mode("overwrite").parquet(
                os.path.join(self.store_dir, "out", f"batch={batch_id}")
            )
        write_state(spark, state_dir, new_state, have_state, batch_id)
