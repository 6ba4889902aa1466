"""The streaming twins on the ``Sink`` core: jobs per call pinned for
every twin (first, steady and replayed batches, plus an empty one), a
fault inside the state swap healed by ``Sink``'s retry, and a guard
that every foreachBatch class under ``streaming/`` is a ``Sink`` (or a
segmented-store ``IngestSink``)."""

from __future__ import annotations

import datetime as dt
import importlib
import inspect
import os
import pkgutil

import pytest
from pyspark.sql import functions as F

from clickstreaming_end_to_end_data_engineering_project_spark import fsutil, streaming
from clickstreaming_end_to_end_data_engineering_project_spark.operators.segstore import IngestSink
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.ab_ingest import ABTestSink
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.attribution import (
    LastTouchAttributionSink,
    MultiTouchAttributionSink,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.hh_ingest import (
    HeavyHitterSink,
    WindowedHeavyHitterSink,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.intervals import (
    IntervalMergeSink,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.near_dedup import (
    NearDedupIngest,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sequence import (
    SequenceMatchSink,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import Sink
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sketch_ingest import (
    SketchRollupSink,
)

from .conftest import count_jobs, no_backoff
from .test_sink_batches import micro_batch_regime  # noqa: F401  (fixture)

DDL = (
    "user_id long, ts timestamp, event_id long, event_type string, page int, "
    "text string, s date, e date"
)
T0 = dt.datetime(2024, 3, 1)
KINDS = ["view", "view", "click", "purchase"]


def _batch(spark, b: int, n: int = 60):
    """Micro-batch ``b`` of ``n`` events, chronological across batches
    (the ordering contract of the order-sensitive twins)."""
    rows = []
    for i in range(n):
        eid = b * 1000 + i
        ts = T0 + dt.timedelta(hours=b, minutes=i)
        day = dt.date(2024, 3, 1) + dt.timedelta(days=3 * b + i // 20)
        rows.append((
            i % 10, ts, eid, KINDS[(i + b) % 4], (i * 7 + b) % 5,
            f"doc {i % 15} about topic {(i * 3) % 7}", day, day + dt.timedelta(days=i % 3),
        ))
    return spark.createDataFrame(rows, DDL)


TWINS = {
    "last_touch": lambda d: LastTouchAttributionSink(
        d, "user_id", "ts", F.col("event_type") == "view", "page",
        F.col("event_type") == "purchase", lookback="30 minutes", tiebreak_cols=["event_id"],
    ),
    "multi_touch": lambda d: MultiTouchAttributionSink(
        d, "user_id", "ts", F.col("event_type") == "view", "page",
        F.col("event_type") == "purchase", lookback="30 minutes", tiebreak_cols=["event_id"],
    ),
    "interval_merge": lambda d: IntervalMergeSink(d, "user_id", "s", "e"),
    "heavy_hitter": lambda d: HeavyHitterSink(d, item_col="page", k=3),
    "windowed_hh": lambda d: WindowedHeavyHitterSink(d, "ts", "page", k=3, window="1 hour"),
    "sequence": lambda d: SequenceMatchSink(
        d, "user_id", "ts",
        [(k, F.col("event_type") == k) for k in ("view", "click", "purchase")],
        within="2 hours",
    ),
    "near_dedup": lambda d: NearDedupIngest(
        os.path.join(d, "bands"), os.path.join(d, "out"), id_col="event_id", run_id="r0",
    ),
    "ab_test": lambda d: ABTestSink(
        d, ["user_id"], F.col("user_id") % 2 == 0, F.col("event_type") == "purchase",
    ),
    "sketch_rollup": lambda d: SketchRollupSink(d, key_col="user_id", ts_col="ts"),
}

# jobs per direct call: (first batch, second batch, replay of the
# second); an empty batch costs the one emptiness count
PINS = {
    "last_touch": (3, 4, 2),
    "multi_touch": (3, 4, 2),
    "interval_merge": (3, 6, 2),
    "heavy_hitter": (2, 2, 2),
    "windowed_hh": (2, 2, 2),
    "sequence": (2, 3, 2),
    "near_dedup": (4, 5, 5),
    "ab_test": (3, 4, 2),
    "sketch_rollup": (2, 2, 2),
}


@pytest.mark.parametrize("twin", sorted(TWINS))
def test_twin_jobs_per_call(spark, tmp_path, micro_batch_regime, twin):  # noqa: F811
    sink = TWINS[twin](str(tmp_path / "store"))
    b1, b2 = _batch(spark, 1), _batch(spark, 2)
    got = tuple(
        count_jobs(spark, lambda batch=batch, b=b: sink(batch, b))
        for batch, b in ((b1, 1), (b2, 2), (b2, 2))
    )
    empty = count_jobs(spark, lambda: sink(b1.filter("event_id < 0"), 3))
    assert (got, empty) == (PINS[twin], 1), twin


def _rows(spark, path: str) -> list:
    return sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)


@pytest.fixture(scope="module")
def interval_runs(spark, tmp_path_factory):
    """``run(store)`` feeds batches 1 and 2 to an ``IntervalMergeSink``
    (batch 2 is the first to swap state); one clean run's store."""
    batches = [_batch(spark, b) for b in (1, 2)]

    def run(store: str) -> None:
        sink = TWINS["interval_merge"](store)
        for b, batch in enumerate(batches, start=1):
            sink(batch, b)

    clean = str(tmp_path_factory.mktemp("intervals") / "clean")
    run(clean)
    return run, clean


@pytest.mark.parametrize("point", ["between_renames", "after_swap"])
def test_fault_in_state_swap_is_healed_by_retry(
    spark, tmp_path, monkeypatch, micro_batch_regime, interval_runs, point  # noqa: F811
):
    """A fault injected once into the state swap: between its two
    renames (the live state moved aside, the new one still in staging)
    the retry heals and recomputes; after the swap the retry finds the
    batch applied and skips.  Either way ``out/`` and ``state/`` equal an
    uninjected run's — ``n_intervals`` would double-count otherwise."""
    no_backoff(monkeypatch)
    run, clean = interval_runs
    swap, faults = fsutil.swap_with_staging, []

    def faulty_swap(spark, path, write_fn, job="compact"):
        if faults:
            return swap(spark, path, write_fn, job)
        faults.append(path)
        if point == "after_swap":
            swap(spark, path, write_fn, job)
            raise IOError("injected fault after the state swap")

        def write_then_fail(staging: str) -> None:
            write_fn(staging)
            os.rename(path, path + ".compact_old")  # the swap's first rename
            raise IOError("injected fault between the swap's renames")

        return swap(spark, path, write_then_fail, job)

    monkeypatch.setattr(fsutil, "swap_with_staging", faulty_swap)
    faulted = str(tmp_path / "faulted")
    run(faulted)
    assert faults == [os.path.join(faulted, "state")]
    for part in ("out", "state"):
        assert _rows(spark, os.path.join(faulted, part)) == _rows(
            spark, os.path.join(clean, part)
        ), part


def test_every_foreach_batch_class_is_a_sink():
    """Every class under ``streaming/`` that takes ``(batch, batch_id)``
    gets emptiness, single materialization and retry from ``Sink`` (or
    is a segmented-store ``IngestSink``)."""
    found = set()
    for info in pkgutil.iter_modules(streaming.__path__):
        module = importlib.import_module(f"{streaming.__name__}.{info.name}")
        for name, cls in inspect.getmembers(module, inspect.isclass):
            if cls.__module__ != module.__name__:
                continue
            methods = [
                fn for klass in cls.__mro__ for attr, fn in vars(klass).items()
                if attr in ("__call__", "write") and inspect.isfunction(fn)
            ]
            if any("batch_id" in inspect.signature(fn).parameters for fn in methods):
                found.add(name)
                assert issubclass(cls, (Sink, IngestSink)), name
    assert {type(TWINS[t]("x")).__name__ for t in TWINS} <= found
