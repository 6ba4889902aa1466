"""Streaming-layer tests (SURVEY.md §5 item 4): each pipeline run as a
file-source stream with trigger(availableNow=True) must equal the
batch run of the same transform; watermarks must drop late rows."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
    ClickstreamPipelines,
    event_stats_pipeline,
    page_view_pipeline,
    parse_event_stream,
    purchase_pipeline,
    read_file_stream,
    session_pipeline,
)
from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
    MemorySink,
    MetricsSink,
)

from .conftest import no_backoff

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Materialize the events table as a single parquet dir usable as a
    file-stream source (single partition → deterministic batches)."""
    tmp = tempfile.mkdtemp(prefix="stream_src_")
    load(spark, sf_dir, "events").coalesce(1).write.mode("overwrite").parquet(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _run_streaming(spark, events_dir, transform, key_cols):
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    sink = MemorySink(key_cols=key_cols)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        transform(src)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    return sink


@pytest.mark.parametrize(
    "transform,key_cols",
    [
        (page_view_pipeline, ["window_start"]),
        (purchase_pipeline, ["window_start"]),
        (event_stats_pipeline, ["window_start", "event_type"]),
    ],
    ids=["page_views", "purchases", "event_stats"],
)
def test_streaming_equals_batch(spark, sf_dir, events_dir, transform, key_cols):
    batch_df = transform(load(spark, sf_dir, "events"))
    expected = {
        tuple(r[k] for k in key_cols): r.asDict() for r in batch_df.collect()
    }
    sink = _run_streaming(spark, events_dir, transform, key_cols)
    got = {tuple(r[k] for k in key_cols): r for r in sink.result}
    assert len(got) == len(expected), f"{len(got)} streaming vs {len(expected)} batch keys"
    assert got.keys() == expected.keys()
    for k, row in expected.items():
        assert got[k] == row, f"key {k}: {got[k]} != {row}"


def test_streaming_sessions_append_mode(spark, sf_dir, events_dir):
    """Session-window aggregation only supports append mode on streams:
    a session emits once its window is finalized by the watermark, so
    the streamed result equals the batch result restricted to sessions
    closed before the final watermark (= max event time here)."""
    events = load(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    gap = dt.timedelta(minutes=30)
    batch = session_pipeline(events).collect()
    expected = {
        (r["user_id"], r["session_start"]): r.asDict()
        for r in batch
        if r["session_end"] + gap <= max_ts  # session window end = last event + gap
    }

    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    sink = MemorySink(key_cols=["user_id", "session_start"])
    ckpt = tempfile.mkdtemp(prefix="ckpt_sess_")
    q = (
        session_pipeline(src, watermark="0 seconds")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    got = {(r["user_id"], r["session_start"]): r for r in sink.result}
    assert got == expected


def test_watermark_drops_late_rows(spark):
    """A row older than (max ts - watermark) when its batch arrives is
    dropped from the windowed aggregate (FIXTURES.md §3 behavior)."""
    tmp = tempfile.mkdtemp(prefix="late_src_")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch1 = [(1, base, 1, "view", 1.0, "{}"), (2, base + dt.timedelta(minutes=10), 1, "view", 1.0, "{}")]
    batch2 = [(3, base + dt.timedelta(minutes=1), 1, "view", 1.0, "{}")]  # 9 min late > 1 min watermark
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(tmp)
    spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(tmp)

    src = read_file_stream(spark, tmp, EVENTS_SCHEMA).coalesce(1)
    sink = MemorySink(key_cols=["window_start"])
    ckpt = tempfile.mkdtemp(prefix="ckpt_late_")
    q = (
        page_view_pipeline(src, watermark="1 minute")
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch → watermark advances between
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    counts = {r["window_start"]: r["view_count"] for r in sink.result}
    # batch2's 12:01 row is behind the watermark (12:10 - 1min) → dropped:
    # the 12:00 window keeps count 1 (from batch1), never updated to 2
    assert counts.get(base) == 1, counts
    assert counts.get(base + dt.timedelta(minutes=10)) == 1


def test_pipeline_manager_and_metrics_sink(spark, sf_dir, events_dir):
    """All four pipelines via the manager + the metrics sink semantics
    (counter + time series, the reference's undefined Redis API)."""
    ckpt_root = tempfile.mkdtemp(prefix="ckpt_mgr_")
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    sinks = {
        "page_views": MemorySink(key_cols=["window_start"]),
        "purchases": MemorySink(key_cols=["window_start"]),
    }
    mgr = ClickstreamPipelines(spark, ckpt_root)
    mgr.start(src, sinks)
    mgr.await_all(300)
    mgr.stop_all()
    shutil.rmtree(ckpt_root, ignore_errors=True)
    assert len(sinks["page_views"].result) > 0
    assert len(sinks["purchases"].result) > 0

    metrics = MetricsSink(key_col="event_type", count_col="cnt")
    counts_df = (
        load(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    )
    metrics(counts_df, batch_id=0)
    total = sum(metrics.counters.values())
    assert total == load(spark, sf_dir, "events").count()
    assert all(len(v) == 1 for v in metrics.series.values())


def test_parse_event_stream_schema(spark):
    """from_json wire-format parse: valid, missing-optional, malformed
    (FIXTURES.md §2: malformed JSON yields nulls, not failure)."""
    rows = [
        (
            "k1",
            '{"user_id": 5, "session_id": "s1", "timestamp": "2024-01-01T00:00:00",'
            ' "page": "/cart", "event_type": "page_view", "referrer": "direct",'
            ' "device": {"type": "mobile", "browser": "chrome", "os": "ios"},'
            ' "ip_address": "192.168.1.1", "user_agent": "UA", "unknown_extra": 1}',
            dt.datetime(2024, 1, 1),
        ),
        ("k2", "not json at all", dt.datetime(2024, 1, 1)),
    ]
    raw = spark.createDataFrame(rows, ["key", "value", "timestamp"])
    parsed = parse_event_stream(raw).collect()
    by_key = {r["kafka_key"]: r for r in parsed}
    assert by_key["k1"]["user_id"] == 5
    assert by_key["k1"]["device"]["type"] == "mobile"
    assert by_key["k1"]["search_query"] is None  # missing optional -> null
    assert by_key["k2"]["user_id"] is None  # malformed -> nulls, no crash


def test_json_wire_bytes_through_device_stats_equals_direct(spark):
    """Full wire-format path: generator events serialized to JSON bytes
    (what a Kafka `value` carries) → parse_event_stream (cast,
    from_json vs CLICKSTREAM_SCHEMA, data.* expand) → the 3-dim
    device_stats_pipeline must equal the pipeline run DIRECTLY on the
    typed frame — pinning that the wire round-trip loses nothing the
    device aggregation reads (nested struct, timestamps, ids)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.generator import (
        synthetic_clickstream,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        device_stats_pipeline,
    )

    events = synthetic_clickstream(spark, n_events=3000, seed=23, events_per_second=2.0)
    wire = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*events.columns)).cast("binary").alias("value"),
        F.col("timestamp").alias("timestamp"),
    )
    parsed = parse_event_stream(wire)
    key_cols = ["window_start", "device_type", "browser", "operating_system"]
    via_wire = {
        tuple(r[k] for k in key_cols): r.asDict()
        for r in device_stats_pipeline(parsed).collect()
    }
    direct = {
        tuple(r[k] for k in key_cols): r.asDict()
        for r in device_stats_pipeline(events).collect()
    }
    assert via_wire == direct


def test_stream_dedup_within_watermark(spark):
    """Duplicate event_ids replayed inside the watermark horizon are
    dropped; the downstream count equals the distinct count."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.stream_dedup import (
        dedup_stream,
    )

    tmp = tempfile.mkdtemp(prefix="dedup_src_")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(seconds=i), 1, "view", 1.0, "{}") for i in range(10)]
    dupes = rows[:4]  # redelivered events, same event_id
    spark.createDataFrame(rows + dupes, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(tmp)

    src = read_file_stream(spark, tmp, EVENTS_SCHEMA)
    sink = MemorySink(key_cols=None)
    ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_")
    q = (
        dedup_stream(src, ["event_id"], watermark="10 minutes")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    ids = [r["event_id"] for r in sink.result]
    assert sorted(ids) == list(range(10))


def test_query_monitor_records_progress(spark, events_dir):
    """Listener attached via the real API (spark.streams.addListener —
    the reference used a nonexistent query.addListener) sees start,
    progress with input rows, and termination."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.monitoring import (
        attach_monitor,
        detach_monitor,
    )

    mon = attach_monitor(spark)
    try:
        sink = _run_streaming(spark, events_dir, page_view_pipeline, ["window_start"])
        assert len(sink.result) > 0
        import time

        for _ in range(40):  # listener delivery is async
            if mon.progress and mon.terminated:
                break
            time.sleep(0.5)
        assert mon.started, "onQueryStarted not delivered"
        assert any(p.num_input_rows > 0 for p in mon.progress), mon.progress
        assert mon.terminated, "onQueryTerminated not delivered"
        # full duration breakdown and the windowed aggregate's state figures
        first = next(p for p in mon.progress if p.num_input_rows > 0)
        assert first.durations_ms["triggerExecution"] == first.duration_ms
        assert {"addBatch", "queryPlanning", "walCommit"} <= first.durations_ms.keys()
        assert len(first.state) == 1
        assert first.state[0].num_rows_total == len(sink.result)
        assert first.state[0].memory_used_bytes > 0
        assert first.state[0].num_rows_dropped_by_watermark == 0  # initial watermark
    finally:
        detach_monitor(spark, mon)


def test_synthetic_clickstream_generator(spark):
    from clickstreaming_end_to_end_data_engineering_project_spark.schema import CLICKSTREAM_SCHEMA
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.generator import (
        synthetic_clickstream,
    )

    df = synthetic_clickstream(spark, n_events=5000, seed=7)
    assert [f.name for f in df.schema.fields] == [f.name for f in CLICKSTREAM_SCHEMA.fields]
    rows = df.collect()
    assert len(rows) == 5000
    again = synthetic_clickstream(spark, n_events=5000, seed=7).collect()
    assert rows == again  # seed-deterministic
    purchases = [r for r in rows if r["event_type"] == "purchase"]
    assert purchases and all(r["total_amount"] is not None for r in purchases)
    views = [r for r in rows if r["event_type"] != "purchase"]
    assert all(r["total_amount"] is None for r in views)
    assert all(1 <= r["user_id"] <= 1000 for r in rows[:200])


def test_device_stats_streaming_equals_batch_on_wire_schema(spark):
    """The 3-dimension device-struct grouping (reference
    stream_processor.py:256-282) over the WIRE schema: streaming the
    generator fixture through device_stats_pipeline must equal the
    batch run, and the group key must be the nested DEVICE_SCHEMA
    fields (device.type × device.browser × device.os)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.schema import CLICKSTREAM_SCHEMA
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.generator import (
        synthetic_clickstream,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        device_stats_pipeline,
    )

    events = synthetic_clickstream(spark, n_events=8000, seed=11, events_per_second=2.0)
    key_cols = ["window_start", "device_type", "browser", "operating_system"]

    batch_df = device_stats_pipeline(events)
    # the full 3-dim cross should actually appear in the group key:
    # 3 types × 4 browsers × 5 oses = 60 combos per well-populated window
    assert [f.name for f in batch_df.schema.fields] == key_cols[:1] + [
        "window_end",
        *key_cols[1:],
        "visit_count",
        "unique_users",
        "unique_sessions",
    ]
    expected = {tuple(r[k] for k in key_cols): r.asDict() for r in batch_df.collect()}
    dims = {k[1:] for k in expected}
    assert len(dims) == 60, f"expected full 3×4×5 device cross, got {len(dims)}"

    src_dir = tempfile.mkdtemp(prefix="stream_device_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_device_")
    try:
        events.coalesce(1).write.mode("overwrite").parquet(src_dir)
        src = read_file_stream(spark, src_dir, CLICKSTREAM_SCHEMA)
        sink = MemorySink(key_cols=key_cols)
        q = (
            device_stats_pipeline(src)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    got = {tuple(r[k] for k in key_cols): r for r in sink.result}
    assert got.keys() == expected.keys()
    for k, row in expected.items():
        assert got[k] == row, f"key {k}: {got[k]} != {row}"


def test_sink_retry_policy(spark, monkeypatch):
    """Sink retries 3x with backoff (reference stream_processor.py:305-324)
    then surfaces the error; empty batches short-circuit before write."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import Sink

    no_backoff(monkeypatch)

    class Flaky(Sink):
        def __init__(self, fail_times):
            self.fail_times = fail_times
            self.attempts = 0
            self.wrote = 0

        def write(self, df, batch_id):
            self.attempts += 1
            if self.attempts <= self.fail_times:
                raise RuntimeError("transient")
            self.wrote += 1

    df = spark.createDataFrame([(1,)], ["x"])
    ok = Flaky(fail_times=2)
    ok(df, 0)
    assert ok.attempts == 3 and ok.wrote == 1  # recovered on 3rd try

    dead = Flaky(fail_times=99)
    with pytest.raises(RuntimeError, match="transient"):
        dead(df, 0)
    assert dead.attempts == 3  # gave up after max_retries

    empty = Flaky(fail_times=0)
    empty(df.filter("x > 100"), 0)
    assert empty.attempts == 0  # empty-batch guard short-circuits


def test_kafka_source_option_wiring():
    """The broker-side .load() can't run in this sandbox; the option
    wiring can.  Pins that maxOffsetsPerTrigger is actually applied
    (the reference defined it but never set it) and dropped when None."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        kafka_source_options,
    )

    opts = kafka_source_options("k1:9092,k2:9092", topic="clicks", starting_offsets="earliest")
    assert opts == {
        "kafka.bootstrap.servers": "k1:9092,k2:9092",
        "subscribe": "clicks",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "10000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_source_options("b", max_offsets_per_trigger=None)


class _FakeRedisPipeline:
    """Duck-typed redis-py pipeline: records commands, applies them
    atomically on execute()."""

    def __init__(self, store):
        self._store = store
        self._ops = []

    def incrby(self, key, amount):
        self._ops.append(("incrby", key, amount))

    def zadd(self, key, mapping):
        self._ops.append(("zadd", key, dict(mapping)))

    def expire(self, key, ttl):
        self._ops.append(("expire", key, ttl))

    def setex(self, key, ttl, value):
        self._ops.append(("setex", key, ttl, value))

    def _apply(self):
        now = self._store["clock"]
        for op in self._ops:
            if op[0] == "incrby":
                self._store["counters"][op[1]] = self._store["counters"].get(op[1], 0) + op[2]
            elif op[0] == "zadd":
                self._store["series"].setdefault(op[1], {}).update(op[2])
            elif op[0] == "expire":
                self._store["ttls"][op[1]] = op[2]
                self._store["deadlines"][op[1]] = now + op[2]
            elif op[0] == "setex":
                self._store["kv"][op[1]] = op[3]
                self._store["ttls"][op[1]] = op[2]
                self._store["deadlines"][op[1]] = now + op[2]
        self._ops = []

    def execute(self):
        if self._store.get("_fail_before_apply"):
            self._store["_fail_before_apply"] = False
            self._ops = []
            raise ConnectionError("synthetic outage before EXEC")
        if self._store.get("_fail_after_apply"):
            self._store["_fail_after_apply"] = False
            self._apply()  # Redis committed EXEC ...
            raise ConnectionError("synthetic lost EXEC reply")  # ... reply lost
        self._apply()


class _FakeRedis:
    """Duck-typed redis-py client with a fake clock: TTLs become
    absolute deadlines; advance() lazily expires keys, like Redis."""

    def __init__(self):
        self.store = {
            "counters": {},
            "series": {},
            "ttls": {},
            "deadlines": {},
            "kv": {},
            "clock": 0.0,
            "_fail_before_apply": False,
            "_fail_after_apply": False,
        }

    def advance(self, seconds):
        self.store["clock"] += seconds
        now = self.store["clock"]
        for key, deadline in list(self.store["deadlines"].items()):
            if deadline <= now:
                del self.store["deadlines"][key]
                self.store["kv"].pop(key, None)
                self.store["counters"].pop(key, None)
                self.store["series"].pop(key, None)

    def get(self, key):
        return self.store["kv"].get(key)

    def pipeline(self, transaction=False):
        assert transaction, "RedisMetricsSink must use MULTI/EXEC pipelines"
        return _FakeRedisPipeline(self.store)


def test_redis_metrics_sink_semantics_and_retry(spark):
    """RedisMetricsSink exactly-once, all three failure shapes:
    clean apply; transaction failed BEFORE EXEC (nothing applied,
    retry lands it once); execute() raising AFTER Redis committed
    (lost reply — the batch_id marker inside the same transaction
    makes the retry a no-op instead of a double-count).  Marker also
    short-circuits checkpoint-replay of an already-applied batch."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        RedisMetricsSink,
    )

    fake = _FakeRedis()
    sink = RedisMetricsSink(fake, key_col="page", count_col="cnt", ttl_seconds=60)
    df = spark.createDataFrame(
        [("home", 3), ("home", 2), ("cart", 7)], "page string, cnt int"
    )

    sink(df, batch_id=0)  # through Sink.__call__ (retry wrapper)
    assert fake.store["counters"] == {"page_views:home": 5, "page_views:cart": 7}
    assert fake.store["ttls"]["page_views:home"] == 60
    assert len(fake.store["series"]["page_views_ts:cart"]) == 1

    fake.store["_fail_before_apply"] = True  # fails once, retry succeeds
    sink(df, batch_id=1)
    assert fake.store["counters"] == {"page_views:home": 10, "page_views:cart": 14}, (
        "failed MULTI/EXEC must apply nothing; retry must apply exactly once"
    )

    fake.store["_fail_after_apply"] = True  # EXEC committed, reply lost
    sink(df, batch_id=2)
    assert fake.store["counters"] == {"page_views:home": 15, "page_views:cart": 21}, (
        "lost-reply retry must be deduplicated by the batch marker"
    )

    sink(df, batch_id=2)  # checkpoint replay of a committed batch
    assert fake.store["counters"] == {"page_views:home": 15, "page_views:cart": 21}


def test_redis_marker_ttl_decoupled_from_metrics_ttl(spark):
    """Replay safety across the marker TTL boundary (fake clock):

    - the idempotency marker's TTL defaults to max(ttl_seconds, 7 d),
      decoupled from the metrics' data-retention TTL, so a short
      METRICS_TTL_SECONDS cannot shrink the replay-safety window;
    - a replay AFTER the metrics expired but INSIDE the marker TTL is
      still a no-op (the scenario the r6 review flagged);
    - a replay after the MARKER itself expired double-counts — pinned
      here as the documented failure mode the sizing rule
      (marker_ttl_seconds ≥ checkpoint retention) exists to prevent."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        RedisMetricsSink,
    )

    fake = _FakeRedis()
    sink = RedisMetricsSink(fake, key_col="page", count_col="cnt", ttl_seconds=60)
    assert sink.marker_ttl_seconds == RedisMetricsSink.DEFAULT_MARKER_TTL_SECONDS
    assert sink.marker_ttl_seconds > sink.ttl_seconds

    df = spark.createDataFrame([("home", 5)], "page string, cnt int")
    sink(df, batch_id=0)
    assert fake.store["counters"]["page_views:home"] == 5

    # metrics (60 s TTL) expire; the 7-day marker survives → replay no-op
    fake.advance(3600)
    assert "page_views:home" not in fake.store["counters"]
    sink(df, batch_id=0)
    assert "page_views:home" not in fake.store["counters"], (
        "replay inside the marker TTL must be a no-op even after the "
        "metrics themselves expired"
    )

    # beyond the marker TTL the replay is indistinguishable from a new
    # batch: it re-applies (the documented constraint, not a bug)
    fake.advance(RedisMetricsSink.DEFAULT_MARKER_TTL_SECONDS)
    sink(df, batch_id=0)
    assert fake.store["counters"]["page_views:home"] == 5

    # explicit override is honored
    custom = RedisMetricsSink(
        _FakeRedis(), key_col="page", count_col="cnt", ttl_seconds=60, marker_ttl_seconds=120
    )
    assert custom.marker_ttl_seconds == 120


def test_web_dashboard_serves_readme_analyses(spark, sf_dir, events_dir, tmp_path):
    """The stdlib web dashboard (reference dashboard/app.py is 0 bytes)
    serves every README-promised analysis as JSON plus an HTML page."""
    import json as _json
    import urllib.request

    from clickstreaming_end_to_end_data_engineering_project_spark.webdash import (
        DashboardServer,
    )

    # materialize the sink layout exactly as the app does: the real
    # pipelines through ParquetSinks (same fixture shape as
    # test_dashboard_reads_over_parquet_sinks)
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        ParquetSink,
    )

    sink_dir = str(tmp_path / "sinks")
    ckpt_root = tempfile.mkdtemp(prefix="ckpt_webdash_")
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA).withColumn(
        "page", F.concat(F.lit("/p"), (F.col("user_id") % 5).cast("string"))
    )
    sinks = {
        "page_views": ParquetSink(f"{sink_dir}/page_views"),
        "page_views_by_page": ParquetSink(f"{sink_dir}/page_views_by_page"),
        "purchases": ParquetSink(f"{sink_dir}/purchases"),
        "event_stats": ParquetSink(f"{sink_dir}/event_stats"),
    }
    mgr = ClickstreamPipelines(spark, ckpt_root)
    mgr.start(src, sinks)
    mgr.await_all(300)
    mgr.stop_all()
    shutil.rmtree(ckpt_root, ignore_errors=True)

    server = DashboardServer(spark, sink_dir).start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        html = urllib.request.urlopen(f"{base}/", timeout=30).read().decode()
        assert "Clickstream dashboard" in html
        for endpoint in ("top_pages", "busiest_windows", "revenue_over_time", "event_mix"):
            rows = _json.loads(urllib.request.urlopen(f"{base}/api/{endpoint}", timeout=60).read())
            assert isinstance(rows, list) and rows, endpoint
        assert urllib.request.urlopen(f"{base}/api/top_pages", timeout=60).status == 200
        # unknown endpoint → 404 JSON, sink-less table → 503 JSON (no crash)
        import urllib.error

        try:
            urllib.request.urlopen(f"{base}/api/nope", timeout=30)
            raise AssertionError("unknown endpoint should 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.stop()


def test_web_dashboard_caches_one_computation_per_interval(spark):
    """N concurrent clients polling an endpoint within one TTL window
    must cost ONE Spark computation, not N (the r6 review's dashboard-
    at-cluster-scale concern): 8 parallel requests → 1 compute; after
    the TTL expires → exactly one more; errors are never cached."""
    import json as _json
    import urllib.error
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from clickstreaming_end_to_end_data_engineering_project_spark.webdash import (
        DashboardServer,
    )

    calls = {"n": 0}

    def counting_analysis(spark_, sink_dir_):
        calls["n"] += 1
        return spark_.createDataFrame([(calls["n"],)], "compute_seq int")

    failures = {"n": 0}

    def failing_analysis(spark_, sink_dir_):
        failures["n"] += 1
        raise RuntimeError("sink not ready")

    server = DashboardServer(spark, "/nonexistent", cache_ttl_seconds=1.5)
    server.routes["top_pages"] = counting_analysis
    server.routes["event_mix"] = failing_analysis
    server.start()
    try:
        base = f"http://127.0.0.1:{server.port}"

        def fetch(_):
            return _json.loads(
                urllib.request.urlopen(f"{base}/api/top_pages", timeout=60).read()
            )

        with ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(fetch, range(8)))
        assert calls["n"] == 1, f"8 concurrent requests cost {calls['n']} computations"
        assert all(r == [{"compute_seq": 1}] for r in results), results

        time.sleep(2.0)  # TTL (1.5 s) expires
        assert fetch(0) == [{"compute_seq": 2}]
        assert calls["n"] == 2

        # 503s are not cached: each errored request recomputes
        for _ in range(2):
            try:
                urllib.request.urlopen(f"{base}/api/event_mix", timeout=60)
                raise AssertionError("failing analysis should 503")
            except urllib.error.HTTPError as e:
                assert e.code == 503
        assert failures["n"] == 2, "errors must not be cached"
    finally:
        server.stop()


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """JdbcSink against a LIVE JDBC database: Spark bundles embedded
    Derby (the Hive-metastore engine), so the sink's write path — the
    defined semantics of the reference's undefined
    ``save_dataframe(df, table, mode='append')`` — runs end-to-end:
    stream micro-batches through foreachBatch(JdbcSink) into Derby,
    then read the table back over the same JDBC URL and compare."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        JdbcSink,
    )

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    src_dir = tempfile.mkdtemp(prefix="jdbc_src_")
    ckpt = tempfile.mkdtemp(prefix="jdbc_ckpt_")
    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    batch1 = [(i, base + dt.timedelta(minutes=i), i, "view", float(i), "{}") for i in range(5)]
    batch2 = [(9, base + dt.timedelta(hours=1), 9, "purchase", 99.0, "{}")]
    try:
        spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

        sink = JdbcSink(url, "events_out", properties=props)
        q = (
            read_file_stream(spark, src_dir, EVENTS_SCHEMA)
            .select("event_id", "user_id", "value")  # numeric cols: avoid CLOB compare quirks
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        back = spark.read.jdbc(url, "events_out", properties=props)
        rows = {r["EVENT_ID"] if "EVENT_ID" in back.columns else r["event_id"]: r for r in back.collect()}
        assert len(rows) == 6, rows
        assert rows[9][2] == 99.0  # (event_id, user_id, value)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_anomaly_sink_alerts_on_spike(spark):
    """Stable traffic builds history silently; a 5x spike alerts with
    the right sign, and the stats keep accumulating afterwards."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        AnomalySink,
    )

    sink = AnomalySink(key_col="page", value_col="cnt", threshold=3.0, min_history=5)
    steady = [10.0, 11.0, 9.0, 10.0, 10.0, 11.0]
    for i, v in enumerate(steady):
        sink(spark.createDataFrame([("home", v)], ["page", "cnt"]), i)
    assert sink.alerts == []

    sink(spark.createDataFrame([("home", 50.0)], ["page", "cnt"]), 99)
    assert len(sink.alerts) == 1
    alert = sink.alerts[0]
    assert alert["key"] == "home" and alert["batch_id"] == 99 and alert["zscore"] > 3.0

    # unknown key: no history, never alerts
    sink(spark.createDataFrame([("cart", 1000.0)], ["page", "cnt"]), 100)
    assert len(sink.alerts) == 1
    assert sink.stats["cart"][0] == 1


def test_anomaly_sink_through_streaming_query(spark, tmp_path):
    """End-to-end: file stream, one micro-batch per file (ordered by
    mtime), foreachBatch into AnomalySink — steady files build history,
    the final spike file raises exactly one alert."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        AnomalySink,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    counts = [10.0, 11.0, 9.0, 10.0, 10.0, 11.0, 100.0]
    base = 1_700_000_000
    for i, cnt in enumerate(counts):
        p = str(src / f"f{i}")
        spark.createDataFrame([("home", cnt)], ["page", "cnt"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        # file source processes oldest-first by mtime; pin the order
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))
        os.utime(p, (base + i, base + i))

    sink = AnomalySink(key_col="page", value_col="cnt", threshold=3.0, min_history=5)
    q = (
        spark.readStream.schema("page string, cnt double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(sink.alerts) == 1, sink.alerts
    assert sink.alerts[0]["key"] == "home" and sink.alerts[0]["value"] == 100.0
    assert sink.stats["home"][0] == len(counts)


def test_metrics_sink_retry_is_idempotent(spark, monkeypatch):
    """A failure during delta staging must leave the metrics store
    untouched so the retry in Sink.__call__ counts each batch exactly
    once; a NULL aggregate (sum of all-NULL counts) is dropped, not a
    crash (shared _batch_delta semantics across all metrics sinks)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import sinks as sinks_mod
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        MetricsSink,
    )

    no_backoff(monkeypatch)
    sink = MetricsSink(key_col="page", count_col="cnt")
    good = spark.createDataFrame([("home", 3), ("cart", 2)], ["page", "cnt"])
    sink(good, 0)
    assert sink.counters == {"page_views:home": 3, "page_views:cart": 2}

    # NULL sums are filtered, never crash — uniform across sink twins
    poisoned = spark.createDataFrame(
        [("home", 5), ("bad", None)], "page string, cnt int"
    )
    sink(poisoned, 1)
    assert sink.counters == {"page_views:home": 8, "page_views:cart": 2}
    assert "page_views:bad" not in sink.counters

    # staging failure: first two attempts die BEFORE mutation; the
    # third lands — each batch counted exactly once, no partial deltas
    real_delta = sinks_mod._batch_delta
    calls = {"n": 0}

    def flaky_delta(df, key_col, count_col):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ConnectionError("synthetic staging failure")
        return real_delta(df, key_col, count_col)

    monkeypatch.setattr(sinks_mod, "_batch_delta", flaky_delta)
    sink(good, 2)
    assert calls["n"] == 3
    assert sink.counters == {"page_views:home": 11, "page_views:cart": 4}
    assert len(sink.series["page_views_ts:home"]) == 3


def test_dashboard_reads_over_parquet_sinks(spark, sf_dir, events_dir, tmp_path):
    """End to end: pipelines -> ParquetSink -> dashboard readers."""
    from clickstreaming_end_to_end_data_engineering_project_spark import dashboard
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        ParquetSink,
    )

    sink_dir = str(tmp_path / "sinks")
    ckpt_root = tempfile.mkdtemp(prefix="ckpt_dash_")
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA).withColumn(
        "page", F.concat(F.lit("/p"), (F.col("user_id") % 5).cast("string"))
    )
    sinks = {
        "page_views": ParquetSink(f"{sink_dir}/page_views"),
        "page_views_by_page": ParquetSink(f"{sink_dir}/page_views_by_page"),
        "purchases": ParquetSink(f"{sink_dir}/purchases"),
        "event_stats": ParquetSink(f"{sink_dir}/event_stats"),
    }
    mgr = ClickstreamPipelines(spark, ckpt_root)
    mgr.start(src, sinks)
    mgr.await_all(300)
    mgr.stop_all()
    shutil.rmtree(ckpt_root, ignore_errors=True)

    top = dashboard.top_pages(spark, sink_dir, k=3).collect()
    assert 0 < len(top) <= 3
    assert all(r["page"].startswith("/p") for r in top)
    assert top[0]["total_views"] >= top[-1]["total_views"]

    busy = dashboard.busiest_windows(spark, sink_dir, k=5).collect()
    assert 0 < len(busy) <= 5 and busy[0]["view_count"] >= busy[-1]["view_count"]

    rev = dashboard.revenue_over_time(spark, sink_dir).collect()
    assert len(rev) > 0 and all(r["total_revenue"] > 0 for r in rev)

    mix = dashboard.event_mix(spark, sink_dir).collect()
    assert abs(sum(r["share"] for r in mix) - 1.0) < 1e-9
    assert {r["event_type"] for r in mix} == {"view", "click", "purchase", "signup", "error"}


def test_idempotent_sink_replay_safe(spark, tmp_path):
    """Replaying a batch id must not duplicate rows (the foreachBatch
    at-least-once window)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        IdempotentParquetSink,
    )

    sink = IdempotentParquetSink(str(tmp_path / "idem"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    sink(df, batch_id=0)
    sink(df, batch_id=0)  # replay of the same micro-batch
    sink(df, batch_id=1)
    out = spark.read.parquet(str(tmp_path / "idem"))
    assert out.count() == 4  # 2 rows x 2 distinct batches, no replay dupes
    assert out.filter("batch_id = 0").count() == 2


def test_config_surface_env_overrides(monkeypatch):
    from clickstreaming_end_to_end_data_engineering_project_spark.config import load_config

    cfg = load_config()
    assert cfg.kafka.topic == "clickstream"  # reference default, config.py:13
    assert cfg.spark.max_offsets_per_trigger == 10000  # config.py:53
    assert cfg.generator.events_per_second == 20.0  # config.py:60
    assert cfg.metrics.ttl_seconds == 86400  # stream_processor.py:388
    monkeypatch.setenv("KAFKA_TOPIC", "other")
    monkeypatch.setenv("EVENTS_PER_SECOND", "77")
    cfg2 = load_config()
    assert cfg2.kafka.topic == "other" and cfg2.generator.events_per_second == 77.0


def test_composite_sink_single_query_dual_sink(spark, sf_dir, events_dir):
    """One streaming query feeding parquet + metrics simultaneously —
    the fix for the reference's double-query-per-pipeline design."""
    import glob

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        CompositeSink,
        MetricsSink,
        ParquetSink,
    )

    out_dir = tempfile.mkdtemp(prefix="composite_out_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_comp_")
    mem = MemorySink(key_cols=["window_start"])
    pq = ParquetSink(f"{out_dir}/pv")
    metrics = MetricsSink(key_col="window_start", count_col="view_count")
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    q = (
        page_view_pipeline(src)
        .writeStream.outputMode("update")
        .foreachBatch(CompositeSink(mem, pq, metrics))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)

    n_mem = len(mem.result)
    n_pq = spark.read.parquet(f"{out_dir}/pv").count()
    assert n_mem > 0 and n_pq >= n_mem  # parquet appends emissions
    assert sum(metrics.counters.values()) > 0
    shutil.rmtree(out_dir, ignore_errors=True)


def test_write_kafka_payload_shape(spark, sf_dir):
    """The producer twin prepares (key, value-JSON) correctly (can't
    reach a broker here; assert the prepared frame, not the send)."""
    import json

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        write_kafka,
    )
    from pyspark.sql import functions as F

    df = load(spark, sf_dir, "events").limit(5)
    cols = [c for c in df.columns if c != "event_id"]
    prepared = df.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(*cols)).alias("value"),
    )
    rows = prepared.collect()
    assert all(set(json.loads(r["value"]).keys()) == set(cols) for r in rows)
    writer = write_kafka(df, "localhost:9092", "clickstream", key_col="event_id")
    assert "DataFrameWriter" in type(writer).__name__  # batch path -> writer ready


def test_checkpoint_recovery_continues_state(spark, sf_dir):
    """Stop a windowed streaming query, add data, restart from the same
    checkpoint: offsets resume (old file not reprocessed) and the
    aggregation state carries over — final counts equal the batch run
    over everything."""
    src_dir = tempfile.mkdtemp(prefix="recov_src_")
    ckpt = tempfile.mkdtemp(prefix="recov_ckpt_")
    events = load(spark, sf_dir, "events")
    # split by TIME, not id: the recovered watermark from run 1 would
    # drop interleaved older rows as late data (correct behavior —
    # asserted separately in test_watermark_drops_late_rows)
    split_ts = events.selectExpr("percentile(cast(ts as double), 0.5) p").collect()[0]["p"]
    first = events.filter(F.col("ts").cast("double") <= split_ts)
    second = events.filter(F.col("ts").cast("double") > split_ts)
    first.coalesce(1).write.mode("append").parquet(src_dir)

    sink = MemorySink(key_cols=["window_start"])

    def run_once():
        q = (
            page_view_pipeline(read_file_stream(spark, src_dir, EVENTS_SCHEMA))
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    run_once()
    n_runs1 = len(sink.result)
    assert n_runs1 > 0

    second.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()  # same checkpoint -> resumes from recorded offsets

    expected = {
        r["window_start"]: r["view_count"]
        for r in page_view_pipeline(events).collect()
    }
    got = {r["window_start"]: r["view_count"] for r in sink.result}
    assert got == expected, (
        f"state continuity broken: {len(got)} windows vs {len(expected)}"
    )
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_trending_sink_decay_and_ranking(spark, monkeypatch):
    """Decay math pinned exactly: a key hot early then idle must fall
    below a key with recent activity once enough half-lives pass; a
    retried batch must not double-count (copy-on-write staging); top()
    with as_of_batch decays idle keys forward."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        TrendingSink,
    )

    sink = TrendingSink(key_col="page", count_col="n", half_life_batches=2.0)

    def batch(rows):
        return spark.createDataFrame(rows, "page string, n long")

    # batch 0: 'old' very hot; batch 4 (2 half-lives later): 'new' mildly hot
    sink(batch([("old", 100)]), 0)
    sink(batch([("new", 40)]), 4)
    top = sink.top(2, as_of_batch=4)
    scores = dict(top)
    assert scores["old"] == 100 * 0.5 ** (4 / 2.0), "two half-lives must quarter the score"
    assert top[0][0] == "new", "recent moderate heat must outrank decayed big heat"

    # replay safety: Sink.__call__ retry on a failing first attempt
    # (sleep stubbed and write patched via monkeypatch — self-cleaning,
    # no real backoff delay, same pattern as the sibling retry tests)
    no_backoff(monkeypatch)

    class Boom(Exception):
        pass

    calls = {"n": 0}
    orig = TrendingSink.write

    def flaky(self, df, batch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise Boom()
        orig(self, df, batch_id)

    monkeypatch.setattr(TrendingSink, "write", flaky)
    sink(batch([("old", 10)]), 5)
    monkeypatch.setattr(TrendingSink, "write", orig)
    assert calls["n"] == 2
    expected_old = (100 * 0.5 ** (5 / 2.0)) + 10
    assert dict(sink.top(2))["old"] == expected_old, "retried batch applied exactly once"

    # as_of decay: far future → everything near zero, ordering stable
    far = sink.top(2, as_of_batch=100)
    assert far[0][1] < 1e-9 and len(far) == 2


def test_trending_sink_streaming_end_to_end(spark, sf_dir, events_dir):
    """TrendingSink through a real availableNow streaming query: final
    scores must be positive for every observed event type and the
    top-1 must be the type with the highest (decay-weighted) count."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        read_file_stream,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        TrendingSink,
    )

    events = load(spark, sf_dir, "events")
    sink = TrendingSink(key_col="event_type", count_col="one", half_life_batches=10.0)
    ckpt = tempfile.mkdtemp(prefix="trend_ckpt_")
    try:
        q = (
            read_file_stream(spark, events_dir, events.schema)
            .select("event_type", F.lit(1).alias("one"))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        top = sink.top(10)
        assert len(top) == 5, "all five event types must be scored"
        assert all(score > 0 for _, score in top)
        # single batch → no decay: scores equal raw counts
        batch_counts = {
            r.event_type: r.cnt
            for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert top[0][0] == max(batch_counts, key=lambda k: (batch_counts[k], k))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_cdc_apply_via_merge_upsert(spark):
    """The streaming CDC-apply shape: a file stream of change batches
    drained through foreachBatch(merge_upsert) must leave the store
    equal to applying the batches sequentially in batch mode — and
    re-applying the LAST batch (a replay) must not change the store
    (upserts are content-idempotent, deletes of absent keys no-ops)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.etl import merge_upsert

    src = tempfile.mkdtemp(prefix="cdc_src_")
    store = os.path.join(tempfile.mkdtemp(prefix="cdc_store_"), "dim")
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdc_")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("is_delete", BooleanType()),
        ]
    )
    b1 = [(1, "a", False), (2, "b", False), (3, "c", False)]
    b2 = [(2, "B", False), (3, None, True), (4, "d", False)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        merge_upsert(spark, store, batch, ["id"], delete_col="is_delete")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # a SOURCE option: on the reader,
        # or both files coalesce into one (key-duplicate) micro-batch
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def state():
        return {(r["id"], r["name"]) for r in spark.read.parquet(store).collect()}

    # NOTE: file-source batch order across the two files is not
    # guaranteed, but these change sets commute only in the keys they
    # don't share — assert against the sequential batch apply instead
    # of a literal.
    want_store = os.path.join(tempfile.mkdtemp(prefix="cdc_want_"), "dim")
    for rows in (b1, b2):
        merge_upsert(
            spark, want_store, spark.createDataFrame(rows, schema),
            ["id"], delete_col="is_delete",
        )
    want = {(r["id"], r["name"]) for r in spark.read.parquet(want_store).collect()}
    assert state() == want == {(1, "a"), (2, "B"), (4, "d")}

    # replay the last batch: content-idempotent
    apply_batch(spark.createDataFrame(b2, schema), 1)
    assert state() == want

    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)
    shutil.rmtree(os.path.dirname(want_store), ignore_errors=True)
