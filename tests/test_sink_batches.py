"""Sink-layer execution pins: a micro-batch is materialized once per
outermost sink call, so its stateful operator runs once, and each sink
call launches a fixed number of Spark jobs (count, then one per write)."""

from __future__ import annotations

import datetime as dt
import importlib
import inspect
import os
import pkgutil
import random
import time
import uuid

import pytest

from clickstreaming_end_to_end_data_engineering_project_spark import streaming
from clickstreaming_end_to_end_data_engineering_project_spark.streaming import sinks as sinks_mod
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.monitoring import (
    attach_monitor,
    detach_monitor,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
    page_view_pipeline,
    read_file_stream,
    session_pipeline,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
    CompositeSink,
    IdempotentParquetSink,
    MetricsSink,
    Sink,
)

from .conftest import count_jobs, group_jobs, job_group, no_backoff

EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"
T0 = dt.datetime(2024, 3, 1)


def _events(seed: int, start: dt.datetime, n: int, span_minutes: int) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (
            seed * 100_000 + i,
            start + dt.timedelta(seconds=rng.randrange(span_minutes * 60)),
            rng.randrange(40),
            rng.choice(["view", "view", "click", "purchase"]),
            1.0,
        )
        for i in range(n)
    ]


def _write_files(spark, src: str, files: list[list[tuple]]) -> None:
    """One parquet file per entry, oldest mtime first, so a file source
    with maxFilesPerTrigger=1 reads one per micro-batch in order."""
    base = 1_700_000_000
    for i, rows in enumerate(files):
        path = os.path.join(src, f"f{i}")
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.parquet(path)
        for root, _dirs, names in os.walk(path):
            for name in names:
                os.utime(os.path.join(root, name), (base + i, base + i))
        os.utime(path, (base + i, base + i))


class _JobGroups:
    """foreachBatch wrapper (deliberately not a ``Sink``) that runs each
    call under its own job group, so jobs can be counted per batch."""

    def __init__(self, spark, sink):
        self.spark, self.sink = spark, sink
        self.groups: dict[int, str] = {}

    def __call__(self, df, batch_id):
        with job_group(self.spark, "sink") as group:
            self.groups[batch_id] = group
            self.sink(df, batch_id)

    def jobs(self, batch_id: int) -> int:
        return group_jobs(self.spark, self.groups[batch_id])


def _run(spark, tmp_path, name: str, stream_df, sink, mode: str):
    q = (
        stream_df.writeStream.queryName(name)
        .outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()


def _progress(mon, name: str, batches: int):
    """The query's progress records for its first ``batches`` data
    batches (listener delivery is async)."""
    for _ in range(60):
        data = [p for p in mon.progress if p.query_name == name and p.num_input_rows > 0]
        if len(data) >= batches:
            return sorted(data, key=lambda p: p.batch_id)
        time.sleep(0.25)
    raise AssertionError(f"{name}: {len(data)} data-batch progress records, want {batches}")


@pytest.fixture
def few_state_partitions(spark):
    """Two state-store partitions instead of one per core: the pins are
    sums over partitions, and each partition costs a task per batch."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", before)


def test_page_views_state_executes_once_per_batch(spark, tmp_path, few_state_partitions):
    """The windowed aggregate behind a CompositeSink(parquet, metrics)
    runs once: its state store reports one row per distinct 1-minute
    window (a second execution of the batch plan reports 2x), and the
    real micro-batch costs 3 jobs even with a child reached through a
    wrapper that is not a Sink."""
    rows = _events(1, T0, 600, 45)
    src = tmp_path / "src"
    _write_files(spark, str(src), [rows])
    windows = {ts.replace(second=0) for _, ts, _, kind, _ in rows if kind == "view"}

    parquet = IdempotentParquetSink(str(tmp_path / "out"))
    metrics = MetricsSink("window_start", "view_count")
    sink = _JobGroups(spark, CompositeSink(lambda df, b: parquet(df, b), metrics))
    name = f"pv_{uuid.uuid4().hex[:8]}"
    mon = attach_monitor(spark)
    try:
        stream = read_file_stream(spark, f"{src}/*", spark.createDataFrame([], EVENTS_DDL).schema)
        _run(spark, tmp_path, name, page_view_pipeline(stream), sink, "update")
        first = _progress(mon, name, 1)[0]
    finally:
        detach_monitor(spark, mon)

    assert first.state[0].num_rows_total == len(windows)
    assert sink.jobs(first.batch_id) == 3
    assert sum(metrics.counters.values()) == sum(1 for r in rows if r[3] == "view")


def _sessions(rows: list[tuple], gap=dt.timedelta(minutes=30)) -> int:
    """Gap sessions in ``rows``: per user, a new one wherever the next
    event is at least ``gap`` after the previous (``session_window``)."""
    by_user: dict[int, list] = {}
    for _, ts, user, _, _ in rows:
        by_user.setdefault(user, []).append(ts)
    return sum(
        1 + sum(b - a >= gap for a, b in zip(times, times[1:]))
        for times in map(sorted, by_user.values())
    )


def test_sessions_state_executes_once_per_batch(spark, tmp_path, few_state_partitions):
    """Same for session windows behind a lone IdempotentParquetSink:
    after each data batch the state holds exactly the sessions seen so
    far minus those emitted, and the second batch emits some (so the
    sink call writes, the case that used to re-run the plan)."""
    import pyarrow.parquet as pq

    files = [_events(2, T0, 300, 90), _events(3, T0 + dt.timedelta(hours=3), 300, 90)]
    src = tmp_path / "src"
    _write_files(spark, str(src), files)
    schema = spark.createDataFrame([], EVENTS_DDL).schema

    out = tmp_path / "out"
    name = f"sess_{uuid.uuid4().hex[:8]}"
    mon = attach_monitor(spark)
    try:
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
        _run(spark, tmp_path, name, session_pipeline(stream, watermark="0 seconds"),
             IdempotentParquetSink(str(out)), "append")
        batches = _progress(mon, name, len(files))
    finally:
        detach_monitor(spark, mon)

    emitted = 0
    for k, p in enumerate(batches):
        part = out / f"batch_id={p.batch_id}"
        emitted += pq.read_table(str(part)).num_rows if part.exists() else 0
        seen = _sessions(sum(files[: k + 1], []))
        assert p.state[0].num_rows_total == seen - emitted, (k, p.state, seen, emitted)
    assert emitted > 0


@pytest.fixture
def micro_batch_regime(spark):
    """Batch frames with adaptive execution off, as Structured Streaming
    runs every micro-batch: a count is then one job, not two."""
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", before)


def test_sink_call_job_counts(spark, tmp_path, micro_batch_regime):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("a", 3)], "k string, n long")
    parquet = IdempotentParquetSink(str(tmp_path / "out"))
    composite = CompositeSink(parquet, MetricsSink("k", "n"))
    assert count_jobs(spark, lambda: composite(df, 0)) == 3  # count, write, delta
    assert composite.sinks[1].counters == {"page_views:a": 4, "page_views:b": 2}
    assert count_jobs(spark, lambda: parquet(df, 1)) == 2  # count, write

    class NoWrite(Sink):
        def write(self, df, batch_id):
            raise AssertionError("write called on an empty batch")

    empty = df.filter("n > 9")
    assert count_jobs(spark, lambda: CompositeSink(NoWrite(), NoWrite())(empty, 2)) == 1
    assert count_jobs(spark, lambda: NoWrite()(empty, 3)) == 1


def test_batch_delta_null_rule(spark):
    """Driver-side staging keeps groupBy().sum()'s NULL semantics: a
    NULL key is a key, NULL values are skipped, an all-NULL key drops."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), (None, 2), (None, 5), ("z", None), ("b", 4)],
        "k string, n long",
    )
    assert sorted(sinks_mod._batch_delta(df, "k", "n"), key=repr) == sorted(
        [("a", 1), (None, 7), ("b", 4)], key=repr
    )


class _Flaky(Sink):
    def __init__(self, fail_times: int):
        self.fail_times, self.attempts, self.wrote = fail_times, 0, 0

    def write(self, df, batch_id):
        self.attempts += 1
        if self.attempts <= self.fail_times:
            raise RuntimeError("transient")
        self.wrote += 1


def test_sink_cache_ownership(spark, monkeypatch):
    """The outermost sink call releases the batch it cached on every
    exit path; a frame the caller cached stays cached and is still
    checked for emptiness; a sibling that succeeded is not re-run when
    a later one fails."""
    no_backoff(monkeypatch)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame([(1,), (2,)], "x long")

    first, dead = _Flaky(0), _Flaky(99)
    with pytest.raises(RuntimeError, match="transient"):
        CompositeSink(first, dead)(df, 0)
    assert (first.attempts, first.wrote, dead.attempts) == (1, 1, 3)
    assert cm.isEmpty(), "a failed sink call leaked its cached batch"

    empty = _Flaky(0)
    CompositeSink(empty)(df.filter("x > 9"), 1)
    assert empty.attempts == 0
    assert cm.isEmpty(), "an empty-batch early return leaked its cached batch"

    cached_empty = df.filter("x > 9").cache()
    own = _Flaky(0)
    own(cached_empty, 2)
    assert own.attempts == 0, "a caller-cached empty frame must short-circuit"
    cached = df.cache()
    own(cached, 3)
    assert own.wrote == 1
    assert cached.storageLevel.useMemory, "the sink released a cache it did not take"
    cached_empty.unpersist()
    cached.unpersist()
    assert cm.isEmpty()


def test_every_foreach_batch_class_is_a_sink():
    """Every class under ``streaming/`` that takes ``(batch, batch_id)``
    gets emptiness, single materialization and retry from ``Sink``."""
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
                assert issubclass(cls, Sink), name
    assert {"CompositeSink", "IdempotentParquetSink", "MetricsSink"} <= found
