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


def test_stateful_user_profiles(spark):
    """applyInPandasWithState: per-user profiles accumulate across
    micro-batches and emit on event-time inactivity timeout."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.stateful import (
        user_engagement_profiles,
    )

    tmp = tempfile.mkdtemp(prefix="state_src_")
    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    # user 1: burst then silence; user 2: stays active till the end
    batch1 = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 1, "purchase", 50.0, "{}"),
        (3, base + dt.timedelta(minutes=2), 2, "view", 1.0, "{}"),
    ]
    batch2 = [  # 2 hours later: user 1's timeout fires; user 2 still active
        (4, base + dt.timedelta(hours=2), 2, "purchase", 10.0, "{}"),
    ]
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(tmp)
    spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(tmp)

    src = read_file_stream(spark, tmp, EVENTS_SCHEMA).coalesce(1)
    sink = MemorySink(key_cols=None)
    ckpt = tempfile.mkdtemp(prefix="ckpt_state_")
    q = (
        user_engagement_profiles(src, watermark="1 minute")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    profiles = {r["user_id"]: r for r in sink.result}
    assert 1 in profiles, f"user 1 profile should emit on timeout, got {sink.result}"
    p1 = profiles[1]
    assert p1["event_count"] == 2
    assert p1["purchase_count"] == 1
    assert p1["total_value"] == 50.0
    assert p1["emit_reason"] == "timeout"
    assert p1["first_ts"] == base and p1["last_ts"] == base + dt.timedelta(minutes=1)


def test_state_reader_inspects_checkpoint(spark):
    """State Data Source wrappers: after a windowed agg runs to
    completion, read_state sees the surviving open windows,
    state_metadata inventories the operator, and state_skew accounts
    for every state row with shares summing to 1."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.state_reader import (
        read_state,
        state_metadata,
        state_skew,
    )

    tmp = tempfile.mkdtemp(prefix="state_rd_src_")
    ckpt = tempfile.mkdtemp(prefix="state_rd_ckpt_")
    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 5, "view", 1.0, "{}") for i in range(30)
    ]
    try:
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = read_file_stream(spark, tmp, EVENTS_SCHEMA)
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "user_id")
            .count()
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        state = read_state(spark, ckpt)
        n_state = state.count()
        assert n_state > 0, "windowed agg should leave open-window state"
        assert "key" in state.columns and "value" in state.columns

        meta = state_metadata(spark, ckpt)
        ops = [r["operatorName"] for r in meta.collect()]
        assert "stateStoreSave" in ops, ops

        skew = state_skew(spark, ckpt).collect()
        n_shards = meta.filter(F.col("operatorId") == 0).agg(F.max("numPartitions")).first()[0]
        assert len(skew) == n_shards, "every shard must appear, including empty ones"
        assert sum(r["state_rows"] for r in skew) == n_state
        assert abs(sum(r["share"] for r in skew) - 1.0) < 1e-9
        assert skew == sorted(skew, key=lambda r: (-r["state_rows"], r["partition_id"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_state_skew_surfaces_hot_shard(spark):
    """state_skew's entire point is skew, so probe a deliberately
    skewed store: a session_window agg where ONE hot user holds ~95% of
    open sessions (each event 2h apart → its own open session row)
    while 5 cold users hold one session each.  The hot user's shard
    must sort first with the dominant share.  Also pins the unknown-
    operator error path (ValueError naming what IS in the checkpoint,
    instead of the old opaque TypeError on int(None))."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.state_reader import (
        state_skew,
    )

    tmp = tempfile.mkdtemp(prefix="state_skew_src_")
    ckpt = tempfile.mkdtemp(prefix="state_skew_ckpt_")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    hot_user = 7
    # 95 events for the hot user, 2h apart: every one stays an open
    # session (gap 30min < 2h, watermark far behind the max ts)
    rows = [
        (i, base + dt.timedelta(hours=2 * i), hot_user, "view", 1.0, "{}")
        for i in range(95)
    ]
    # 5 cold users: one session each, near the stream's end so the
    # watermark can't close them
    end = base + dt.timedelta(hours=2 * 95)
    rows += [
        (1000 + u, end + dt.timedelta(minutes=u), 100 + u, "view", 1.0, "{}")
        for u in range(5)
    ]
    try:
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = read_file_stream(spark, tmp, EVENTS_SCHEMA)
        # watermark delay >> the data's time span: no session is ever
        # closed, so ALL sessions stay in the store — session-window
        # state shards by user_id alone, so the hot user's 95 open
        # sessions land on one shard
        agg = (
            src.withWatermark("ts", "365 days")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .count()
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        skew = state_skew(spark, ckpt).collect()
        total = sum(r["state_rows"] for r in skew)
        assert total > 0
        hottest = skew[0]
        # the hot user's sessions all hash to one shard; cold users may
        # or may not share it, so its share is ≥ 95/total
        assert hottest["state_rows"] >= 95, (
            f"hot user's shard should hold ≥95 open sessions, got {hottest}"
        )
        assert hottest["share"] >= 95 / total - 1e-9
        # a skewed store: the hottest shard dominates every other shard
        assert all(hottest["state_rows"] >= r["state_rows"] for r in skew[1:])

        with pytest.raises(ValueError, match=r"operator_id=9 .*available .*StateStoreSave"):
            state_skew(spark, ckpt, operator_id=9)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stateful_ts_micros_unit_derived_from_dtype():
    """The stateful operator converts event timestamps via _ts_micros,
    which derives the epoch scale from the pandas dtype.  A
    datetime64[us] delivery must NOT be divided by 1000 as if it were
    ns — that was a latent 1000× timer skew."""
    import pandas as pd

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.stateful import (
        _ts_micros,
    )

    t = pd.Timestamp("2024-01-01 09:00:00")
    want = t.value // 1000  # µs epoch
    ns_series = pd.Series([t]).astype("datetime64[ns]")
    us_series = pd.Series([t]).astype("datetime64[us]")
    raw_ns = pd.Series([t.value], dtype="int64")
    assert _ts_micros(ns_series).tolist() == [want]
    assert _ts_micros(us_series).tolist() == [want]
    assert _ts_micros(raw_ns).tolist() == [want]


def test_stream_static_enrichment(spark, sf_dir, events_dir):
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.joins import (
        enrich_with_dimension,
    )

    dim = spark.createDataFrame(
        [(i, f"tier-{i % 3}") for i in range(200)], ["user_id", "tier"]
    )
    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    enriched = enrich_with_dimension(src, dim).groupBy("tier").count()
    sink = MemorySink(key_cols=["tier"])
    ckpt = tempfile.mkdtemp(prefix="ckpt_enrich_")
    q = (
        enriched.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    shutil.rmtree(ckpt, ignore_errors=True)
    total = sum(r["count"] for r in sink.result)
    assert total == load(spark, sf_dir, "events").count()


def test_stream_stream_attribution_join(spark, sf_dir, events_dir):
    """Interval-join result on the stream equals the equivalent batch
    interval join (for pairs whose state was finalized)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.joins import (
        purchase_view_attribution,
    )

    batch = purchase_view_attribution(load(spark, sf_dir, "events"))
    expected = {
        (r["purchase_event_id"], r["view_event_id"]) for r in batch.collect()
    }

    src = read_file_stream(spark, events_dir, EVENTS_SCHEMA)
    sink = MemorySink(key_cols=None)
    ckpt = tempfile.mkdtemp(prefix="ckpt_ssj_")
    q = (
        purchase_view_attribution(src)
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    shutil.rmtree(ckpt, ignore_errors=True)
    got = {(r["purchase_event_id"], r["view_event_id"]) for r in sink.result}
    # single availableNow pass over one file: all pairs inside the final
    # watermark horizon emit; inner-join emission is not watermark-gated
    assert got == expected, f"missing={len(expected - got)} extra={len(got - expected)}"


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


def test_compact_parquet(spark, sf_dir, tmp_path):
    import glob

    from clickstreaming_end_to_end_data_engineering_project_spark.sources.formats import (
        compact_parquet,
    )

    src = str(tmp_path / "many")
    dst = str(tmp_path / "few")
    load(spark, sf_dir, "events").repartition(40).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 40
    compact_parquet(spark, src, dst, 4)
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 4
    assert spark.read.parquet(dst).count() == load(spark, sf_dir, "events").count()


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


def test_streaming_corpus_ingest_matches_batch_curation(spark, sf_dir):
    """The streaming curation pipeline (file-stream increments →
    quality/lang gate → stateful exact dedup → split → partitioned
    parquet) must agree with the batch pipeline on the survivor
    FINGERPRINT set and count — including duplicates planted ACROSS
    increments (the cross-batch state the batch anti-join can't see
    incrementally).  Kept-row identity may differ (stream keeps first
    arrival, batch keeps min id) — documented in corpus_ingest.py."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark import curation
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import (
        corpus_ingest,
    )

    docs = load(spark, sf_dir, "documents")
    # plant cross-increment byte-identical dups: 5 docs cloned with new ids
    clones = (
        docs.orderBy("doc_id")
        .limit(5)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    )
    full = docs.unionByName(clones)

    src = tempfile.mkdtemp(prefix="corpus_src_")
    out = tempfile.mkdtemp(prefix="corpus_out_")
    ckpt = tempfile.mkdtemp(prefix="corpus_ckpt_")
    try:
        # three increments: two document chunks, then the clone batch
        half = docs.filter(F.col("doc_id") % 2 == 0)
        other = docs.filter(F.col("doc_id") % 2 == 1)
        half.write.parquet(os.path.join(src, "inc1"))
        other.write.parquet(os.path.join(src, "inc2"))
        clones.write.parquet(os.path.join(src, "inc3"))
        for inc in ("inc1", "inc2", "inc3"):
            for f in os.listdir(os.path.join(src, inc)):
                if f.endswith(".parquet"):
                    shutil.move(os.path.join(src, inc, f), os.path.join(src, f"{inc}_{f}"))
            shutil.rmtree(os.path.join(src, inc))

        q = corpus_ingest.start_corpus_ingest(
            spark, src, out, ckpt, available_now=True,
            max_files_per_trigger=1,  # one increment per micro-batch:
            # the cross-batch dedup STATE is the thing under test, and
            # availableNow without a throttle folds every file into
            # micro-batch 0 (within-batch dedup alone would pass)
            min_quality=0.75,
        )
        q.awaitTermination(120)
        committed = os.listdir(os.path.join(ckpt, "offsets"))
        assert len([f for f in committed if not f.startswith(".")]) >= 3, (
            f"increments must land in separate micro-batches, got {committed}"
        )

        streamed = spark.read.parquet(out)
        batch = curation.score_and_filter(full, min_quality=0.75)
        batch = curation.drop_exact_dups(batch)

        s_fps = {r.fingerprint for r in streamed.select("fingerprint").collect()}
        b_fps = {
            r.fp
            for r in batch.select(F.md5(F.col("text").cast("binary")).alias("fp")).collect()
        }
        assert s_fps == b_fps, "survivor fingerprint sets must match batch curation"
        assert streamed.count() == batch.count()
        # the planted clones must NOT have added any fingerprint
        assert streamed.count() <= docs.count()
        # split column written as a partition with both outcomes present
        splits = {r.split for r in streamed.select("split").distinct().collect()}
        assert splits == {"train", "test"}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_corpus_ingest_horizon_dedup(spark):
    """The bounded-state path (dedup_horizon → ingest-time watermark +
    dropDuplicatesWithinWatermark) must still drop duplicates arriving
    within the horizon — the state-eviction trade documented in
    corpus_ingest.py, exercised end-to-end."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import (
        corpus_ingest,
    )

    base = "the quick brown fox jumps over the lazy dog and runs on today"
    rows = [(i, base + f" tail{i}", "en", "s", 60) for i in range(10)]
    rows += [(100 + i, rows[i][1], "en", "s", 60) for i in range(3)]  # dups
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = tempfile.mkdtemp(prefix="hz_src_")
    out = tempfile.mkdtemp(prefix="hz_out_")
    ckpt = tempfile.mkdtemp(prefix="hz_ckpt_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(src)
        q = corpus_ingest.start_corpus_ingest(
            spark, src, out, ckpt, available_now=True,
            min_quality=0.0, dedup_horizon="1 hour",
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == 10, "the 3 within-horizon dups must be dropped"
        assert got.select("fingerprint").distinct().count() == 10
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_corpus_ingest_null_texts_all_survive(spark):
    """Second-review regression: md5(NULL) is NULL, and a plain
    dropDuplicates on the fingerprint would collapse EVERY null-text
    doc into one state key — the stream must apply the batch rule
    (NULL texts are never duplicates) and keep them all."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import (
        corpus_ingest,
    )

    rows = [(1, None, "en", "s", 0), (2, None, "en", "s", 0), (3, None, "en", "s", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = tempfile.mkdtemp(prefix="null_src_")
    out = tempfile.mkdtemp(prefix="null_out_")
    ckpt = tempfile.mkdtemp(prefix="null_ckpt_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(src)
        q = corpus_ingest.start_corpus_ingest(
            spark, src, out, ckpt, available_now=True, min_quality=0.0
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == 3, "all NULL-text docs must survive the dedup"
        assert got.filter(F.col("fingerprint").isNull()).count() == 3
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


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


def test_streaming_near_dedup_drops_lsh_band_matches(spark):
    """Streaming MinHash-LSH near-dedup (NearDedupIngest): a
    byte-identical clone and a one-edit near-clone arriving in a LATER
    increment must be dropped; unrelated docs survive; and every drop
    must be justified by the band rule — the dropped doc shares ≥1
    (band, bucket) with an earlier-by-(batch, id) doc, computed with
    the SAME minhash_bands expression the sink uses."""
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.dedup import (
        minhash_bands,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.corpus_ingest import (
        read_document_stream,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.near_dedup import (
        NearDedupIngest,
        read_survivors,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy badgers watch from the old stone wall near the river"
    )
    inc1 = [
        (1, base, "en", "web", len(base)),
        (2, "completely different words about quantum chromodynamics "
            "and lattice gauge theory simulations on big machines", "en", "web", 110),
    ]
    inc2 = [
        (3, base, "en", "web", len(base)),                      # exact clone -> drop
        (4, base[:-5] + "creek", "en", "web", len(base)),       # near clone -> drop (w.h.p.)
        (5, "unrelated cooking recipe with paprika saffron and "
            "twelve other spices simmered for three hours gently", "en", "web", 104),
    ]
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    src = tempfile.mkdtemp(prefix="nd_src_")
    store = tempfile.mkdtemp(prefix="nd_store_")
    out = tempfile.mkdtemp(prefix="nd_out_")
    ckpt = tempfile.mkdtemp(prefix="nd_ckpt_")
    ckpt2 = tempfile.mkdtemp(prefix="nd_ckpt2_")
    try:
        spark.createDataFrame(inc1, cols).coalesce(1).write.parquet(src + "/i1")
        spark.createDataFrame(inc2, cols).coalesce(1).write.parquet(src + "/i2")
        for inc in ("i1", "i2"):
            for f in os.listdir(src + f"/{inc}"):
                if f.endswith(".parquet"):
                    shutil.move(f"{src}/{inc}/{f}", f"{src}/{inc}_{f}")
            shutil.rmtree(src + f"/{inc}")
        sink = NearDedupIngest(store, out, marker_dir=ckpt)
        q = (
            read_document_stream(spark, src, max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        kept = {r.doc_id for r in read_survivors(spark, out).collect()}
        assert 3 not in kept, "byte-identical clone must be dropped"
        assert {2, 5} <= kept, "unrelated docs must survive"
        # every drop justified by the band rule against earlier docs
        all_docs = spark.createDataFrame(inc1 + inc2, cols)
        bands = minhash_bands(all_docs).select("_id", "band", "bucket").collect()
        buckets = {}
        for r in bands:
            buckets.setdefault(r["_id"], set()).add((r["band"], r["bucket"]))
        order = [1, 2, 3, 4, 5]  # batch order then id order
        dropped = set(order) - kept
        for d in dropped:
            earlier = [o for o in order if o < d]
            assert any(buckets[d] & buckets[o] for o in earlier), (
                f"doc {d} dropped without a shared band bucket"
            )
        for s in kept:
            earlier = [o for o in order if o < s]
            assert not any(buckets[s] & buckets[o] for o in earlier), (
                f"doc {s} kept despite a shared band bucket"
            )

        # replay idempotency: re-running the LAST batch (same batch_id)
        # must regenerate the identical survivor set for that batch —
        # the store filter batch_id < current hides its own append
        batch2 = spark.createDataFrame(inc2, cols)
        before = {r.doc_id for r in read_survivors(spark, out).collect()}
        sink(batch2, 1)
        after = {r.doc_id for r in read_survivors(spark, out).collect()}
        assert after == before, "replaying a batch must not change survivors"

        # checkpoint recovery (the restart-the-script path): a FRESH
        # sink over the same marker_dir must resolve the SAME run_id
        # from the persisted marker, so the replayed batch is masked
        # against its own prior store append and survivors are stable
        recovered = NearDedupIngest(store, out, marker_dir=ckpt)
        with pytest.raises(RuntimeError):
            recovered.run_id  # unresolved until the first batch
        recovered(batch2, 1)
        assert recovered.run_id == sink.run_id, (
            "recovery must reuse the marker-persisted run_id"
        )
        after_rec = {r.doc_id for r in read_survivors(spark, out).collect()}
        assert after_rec == before, (
            "a recovered sink replaying a batch must not change survivors"
        )

        # the unsafe default is gone: neither or both identity args → error
        with pytest.raises(ValueError):
            NearDedupIngest(store, out)
        with pytest.raises(ValueError):
            NearDedupIngest(store, out, run_id="x", marker_dir=ckpt)

        # a NEW run over the same long-lived store (fresh checkpoint →
        # batch ids restart at 0, new run_id) must still see the whole
        # prior history: a clone of run-1 content drops, novel survives
        sink2 = NearDedupIngest(store, out, marker_dir=ckpt2)
        run2 = spark.createDataFrame(
            [
                (6, base, "en", "web", len(base)),
                (7, "totally novel sentence about alpine glacier meltwater "
                    "chemistry and isotope measurement campaigns", "en", "web", 98),
            ],
            cols,
        )
        sink2(run2, 0)
        assert sink2.run_id != sink.run_id, "fresh marker dir → new run_id"
        kept2 = {r.doc_id for r in read_survivors(spark, out).collect()}
        assert 6 not in kept2, "new run must still drop dups of prior runs"
        assert 7 in kept2, "novel doc in the new run must survive"
        assert before <= kept2, "a new run must not clobber prior survivors"

        # offline compaction: the replayed appends above left duplicate
        # band rows; compaction must shrink the store, preserve every
        # visible (band, bucket, run) key at its earliest batch, and
        # leave future ingest decisions unchanged
        from clickstreaming_end_to_end_data_engineering_project_spark.streaming.near_dedup import (
            compact_band_store,
        )

        raw = spark.read.parquet(store)
        raw_rows = raw.count()
        raw_keys = {
            (r.band, r.bucket, r.run_id) for r in raw.collect()
        }
        n = compact_band_store(spark, store)
        compacted = spark.read.parquet(store)
        assert n == compacted.count() < raw_rows, "replay dups must collapse"
        assert {
            (r.band, r.bucket, r.run_id) for r in compacted.collect()
        } == raw_keys, "compaction must not lose or invent keys"
        assert compacted.groupBy("band", "bucket", "run_id").count().filter(
            "count > 1"
        ).isEmpty(), "one row per key after compaction"
        sink3 = NearDedupIngest(store, out, run_id="post-compact")
        sink3(
            spark.createDataFrame(
                [
                    (8, base, "en", "web", len(base)),       # dup of history
                    (9, "fresh prose about tidepool invertebrate census "
                        "methodology and volunteer training", "en", "web", 90),
                ],
                cols,
            ),
            0,
        )
        kept3 = {r.doc_id for r in read_survivors(spark, out).collect()}
        assert 8 not in kept3 and 9 in kept3, (
            "post-compaction ingest must behave identically"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(ckpt2, ignore_errors=True)


def test_near_dedup_survivor_compaction_and_crash_recovery(spark):
    """compact_survivors collapses a terminal run's one-dir-per-batch
    litter into a single batch=0 partition with the identical row set
    (read_survivors unaffected), and the shared compactor self-heals
    the crashed-between-renames state (dir missing, .compact_old
    present) instead of failing at sizing (r9 advisory)."""
    import glob
    import os

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.near_dedup import (
        NearDedupIngest,
        compact_band_store,
        compact_survivors,
        read_survivors,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    store = tempfile.mkdtemp(prefix="ndc_store_")
    out = tempfile.mkdtemp(prefix="ndc_out_")
    try:
        sink = NearDedupIngest(store, out, run_id="terminal-run")
        for b in range(4):
            rows = [
                (b * 10 + i, f"wholly distinct passage number {b}-{i} "
                 f"with unique tokens {b * 97 + i * 13}", "en", "web", 60)
                for i in range(3)
            ]
            sink(spark.createDataFrame(rows, cols), b)
        before = sorted(
            (r.doc_id, r.text) for r in read_survivors(spark, out).collect()
        )
        batch_dirs = glob.glob(f"{out}/run_id=terminal-run/batch=*")
        assert len(batch_dirs) == 4
        n = compact_survivors(spark, out, "terminal-run", min_idle_minutes=0)
        assert n == len(before)
        after_dirs = glob.glob(f"{out}/run_id=terminal-run/batch=*")
        assert [os.path.basename(d) for d in after_dirs] == ["batch=0"]
        after = sorted(
            (r.doc_id, r.text) for r in read_survivors(spark, out).collect()
        )
        assert after == before, "compaction must preserve the exact row set"
        # idempotent: a second pass is a no-op re-layout
        assert compact_survivors(spark, out, "terminal-run", min_idle_minutes=0) == n

        run_dir = f"{out}/run_id=terminal-run"
        # survivor crash state (a): died between _compact_dir's two
        # renames — run dir missing, data in .compact_old.  The rerun
        # must heal BEFORE its eager read (r10 review: reading first
        # made the run unrecoverable)
        os.rename(run_dir, run_dir + ".compact_old")
        assert compact_survivors(spark, out, "terminal-run", min_idle_minutes=0) == n
        assert sorted(
            (r.doc_id, r.text) for r in read_survivors(spark, out).collect()
        ) == before

        # survivor crash state (b): died mid-way through the batch=0
        # move — some files already inside the dot-prefixed staging dir
        # (invisible to parquet readers).  A rerun must move them back
        # before recompacting, not delete them with .compact_old.
        batch0 = run_dir + "/batch=0"
        staged = run_dir + "/.batch0_staging"
        os.makedirs(staged)
        files = [f for f in os.listdir(batch0) if not f.startswith((".", "_"))]
        assert files
        moved = files[: max(1, len(files) // 2)]
        for f in moved:  # half staged ...
            os.rename(f"{batch0}/{f}", f"{staged}/{f}")
        for f in os.listdir(batch0):  # ... rest left at the root
            os.rename(f"{batch0}/{f}", f"{run_dir}/{f}")
        os.rmdir(batch0)
        assert compact_survivors(spark, out, "terminal-run", min_idle_minutes=0) == n
        assert sorted(
            (r.doc_id, r.text) for r in read_survivors(spark, out).collect()
        ) == before, "crash-state rerun must recover every staged row"

        # crash self-heal: simulate dying between the two renames of a
        # band-store compaction (store moved to .compact_old, staging
        # already cleaned) — the next run must restore and complete
        keys_before = {
            (r.band, r.bucket, r.run_id)
            for r in spark.read.parquet(store).collect()
        }
        os.rename(store, store + ".compact_old")
        assert not os.path.exists(store)
        compact_band_store(spark, store)
        keys_after = {
            (r.band, r.bucket, r.run_id)
            for r in spark.read.parquet(store).collect()
        }
        assert keys_after == keys_before, "self-heal must recover every key"
        assert not os.path.exists(store + ".compact_old")

        # the documented TERMINAL-ONLY hazard is real: replaying the
        # run's last batch AFTER compaction rewrites batch=3 beside
        # the compacted batch=0 rows and duplicates them — this
        # assertion is the reason the docstring forbids compacting a
        # resumable run (if it ever stops failing, the contract can
        # be relaxed)
        sink(
            spark.createDataFrame(
                [
                    (3 * 10 + i, f"wholly distinct passage number 3-{i} "
                     f"with unique tokens {3 * 97 + i * 13}", "en", "web", 60)
                    for i in range(3)
                ],
                cols,
            ),
            3,
        )
        replayed = [r.doc_id for r in read_survivors(spark, out).collect()]
        assert len(replayed) == len(before) + 3, (
            "expected the documented duplicate-on-resume hazard"
        )

        # the terminal-only contract is enforced, not just documented
        # (r11): batch=3 was just replayed above, so under the default
        # idle window the run still looks live and the call must
        # refuse rather than risk duplicate-on-resume
        with pytest.raises(RuntimeError, match="min_idle_minutes"):
            compact_survivors(spark, out, "terminal-run")
        # the override asserts the run is known-terminal and proceeds
        assert (
            compact_survivors(spark, out, "terminal-run", min_idle_minutes=0)
            == len(replayed)
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_streaming_sketch_ingest_equals_batch_rollup(spark, sf_dir):
    """streaming/sketch_ingest.py end-to-end: file-stream the events
    table in per-file micro-batches through SketchRollupSink, then the
    store's weekly estimates must be BIT-EQUAL to the batch
    distinct_rollup_hll over the same events (HLL union is associative
    — not an approximate assertion).  Replaying a batch (same id) and
    compacting the store must each leave every estimate unchanged."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        distinct_rollup_hll,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sketch_ingest import (
        SketchRollupSink,
        compact_sketch_store,
        read_distinct_rollup,
    )

    ev = load(spark, sf_dir, "events")
    src_dir = tempfile.mkdtemp(prefix="sketch_src_")
    store = os.path.join(tempfile.mkdtemp(prefix="sketch_store_"), "store")
    ckpt = tempfile.mkdtemp(prefix="ckpt_sketch_")
    # three time-ordered increments, one file each -> three micro-batches
    days = sorted(r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    parts = [
        ev.filter(F.to_date("ts") < cuts[0]),
        ev.filter((F.to_date("ts") >= cuts[0]) & (F.to_date("ts") < cuts[1])),
        ev.filter(F.to_date("ts") >= cuts[1]),
    ]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src_dir)

    sink = SketchRollupSink(store)
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)  # READER option (r12 lesson)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def estimates():
        return {
            r["period"]: r["approx_distinct"]
            for r in read_distinct_rollup(spark, store).collect()
        }

    want = {
        r["period"]: r["approx_distinct"]
        for r in distinct_rollup_hll(ev).select("period", "approx_distinct").collect()
    }
    got = estimates()
    assert got == want and len(want) > 3

    # replay idempotence: re-deliver increment 1 under its batch id
    sink(parts[1], 1)
    assert estimates() == want
    # compaction preserves every estimate and shrinks to 1 row/period
    compact_sketch_store(spark, store)
    assert estimates() == want
    per_period = spark.read.parquet(store).groupBy("period").count().collect()
    assert all(r["count"] == 1 for r in per_period)
    # layout stays uniform AFTER compaction (r12 advisory: the old
    # root-level compacted files + a later batch=<id>/ dir broke
    # partition discovery): a post-compaction replay must land beside
    # the reserved batch=-1 dir, still read cleanly, and — HLL union
    # being idempotent — move no estimate
    sink(parts[1], 1)
    assert estimates() == want
    batch_dirs = sorted(
        d for d in os.listdir(store) if d.startswith("batch=")
    )
    assert batch_dirs == ["batch=-1", "batch=1"]

    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


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

def test_streaming_bm25_ingest_equals_batch_build(spark, sf_dir):
    """streaming/bm25_ingest.py end-to-end: file-stream the documents
    table in per-file micro-batches through Bm25IngestSink, then a
    probe of the streamed (multi-segment) index must be BIT-EQUAL to a
    probe of a single write_bm25_index build over the same corpus —
    the segmented layout's stats are mergeable integer sums, so this
    is exact, not approximate.  Replaying a micro-batch (same id) must
    rewrite its own segment and move nothing."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.bm25_ingest import (
        Bm25IngestSink,
    )

    terms = ["spark", "stream", "hash", "dup"]
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src_dir = tempfile.mkdtemp(prefix="bm25_src_")
    index = os.path.join(tempfile.mkdtemp(prefix="bm25_store_"), "index")
    ckpt = tempfile.mkdtemp(prefix="ckpt_bm25_")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src_dir)

    sink = Bm25IngestSink(index, n_buckets=16)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)  # READER option (r12 lesson)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = os.path.join(tempfile.mkdtemp(prefix="bm25_batch_"), "index")
    write_bm25_index(docs, batch, n_buckets=16)
    want = [tuple(r) for r in bm25_topk_indexed(spark, batch, terms, k=10).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, index, terms, k=10).collect()]
    assert got == want and len(got) == 10

    # replay: re-deliver micro-batch 1's docs under its id — the
    # segment is rewritten in place, the probe moves nothing.  (File
    # order decides which part became batch 1, so recover that batch's
    # doc set from its own _doclens segment.)
    seg1_ids = spark.read.parquet(os.path.join(index, "_doclens")).filter(
        F.col("batch") == 1
    ).select("doc_id")
    sink(docs.join(seg1_ids, "doc_id", "left_semi"), 1)
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, index, terms, k=10).collect()
    ] == want
    segs = sorted(d for d in os.listdir(index) if d.startswith("batch="))
    assert segs == ["batch=0", "batch=1", "batch=2"]

    for d in (src_dir, ckpt, os.path.dirname(index), os.path.dirname(batch)):
        shutil.rmtree(d, ignore_errors=True)

def test_bm25_ingest_heals_bootstrap_crash_window(spark):
    """r13 advisory (medium): a first micro-batch that crashed AFTER
    the postings dir was written but BEFORE the _bm25_params sidecar
    landed used to wedge the stream permanently — the replay saw an
    existing batch= segment, took the append path, and failed forever
    with PATH_NOT_FOUND on the params.  Two defenses, both exercised
    here: _write_bm25_segment now writes params FIRST, and the sink
    falls back to bootstrap when the only segment is its own batch and
    params are missing (heals layouts crashed under the old ordering)."""
    import os
    import shutil
    import tempfile

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        write_bm25_index,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.bm25_ingest import (
        Bm25IngestSink,
    )

    docs = spark.createDataFrame(
        [(i, f"spark stream doc{i % 3} hash") for i in range(12)],
        "doc_id long, text string",
    )
    root = tempfile.mkdtemp(prefix="bm25_crash_")
    index = os.path.join(root, "index")
    sink = Bm25IngestSink(index, n_buckets=8)

    # 1) full first batch, then simulate the OLD-ordering crash state:
    #    postings exist, params sidecar gone
    sink(docs, 0)
    shutil.rmtree(os.path.join(index, "_bm25_params"))
    # replay of the same micro-batch id must HEAL, not wedge
    sink(docs, 0)

    batch = os.path.join(root, "batch_build")
    write_bm25_index(docs, batch, n_buckets=8)
    terms = ["spark", "doc1"]
    want = [tuple(r) for r in bm25_topk_indexed(spark, batch, terms, k=5).collect()]
    got = [tuple(r) for r in bm25_topk_indexed(spark, index, terms, k=5).collect()]
    assert got == want and len(got) == 5

    # 2) the forward ordering: params land before the postings dir, so
    #    a crash between the two replays down the BOOTSTRAP path (no
    #    batch= dir listed).  Simulate by deleting only the segment.
    shutil.rmtree(os.path.join(index, "batch=0"))
    sink(docs, 0)
    assert [
        tuple(r) for r in bm25_topk_indexed(spark, index, terms, k=5).collect()
    ] == want

    # 3) a second batch appends normally on the healed index
    extra = spark.createDataFrame(
        [(100, "spark spark hash"), (101, "doc1 doc1")], "doc_id long, text string"
    )
    sink(extra, 1)
    segs = sorted(d for d in os.listdir(index) if d.startswith("batch="))
    assert segs == ["batch=0", "batch=1"]
    shutil.rmtree(root, ignore_errors=True)


def test_streaming_ann_ingest_lsh_bootstrap_and_ivf_pretrained(spark, sf_dir):
    """streaming/ann_ingest.py end-to-end.  LshIngestSink bootstraps
    from its first micro-batch and the streamed index probes
    IDENTICALLY to a batch write_lsh_index over the same vectors
    (hyperplanes are content-deterministic).  IvfIngestSink appends to
    a pre-trained index; the exhaustive probe equals brute force over
    everything ingested.  Replays rewrite their own segments and move
    nothing."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.ann_ingest import (
        IvfIngestSink,
        LshIngestSink,
    )

    embs = load(spark, sf_dir, "embeddings")
    src_dir = tempfile.mkdtemp(prefix="ann_src_")
    lsh_index = os.path.join(tempfile.mkdtemp(prefix="ann_lsh_"), "index")
    ivf_index = os.path.join(tempfile.mkdtemp(prefix="ann_ivf_"), "index")
    parts = [embs.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src_dir)

    # IVF trains on part 0 (the pre-trained requirement), streams the rest
    S.write_ivf_index(parts[0], ivf_index, n_clusters=6, iterations=2)

    lsh_sink = LshIngestSink(lsh_index, planes=4, dims=64)
    ivf_sink = IvfIngestSink(ivf_index)

    def drain(sink, ckpt):
        q = (
            spark.readStream.schema(embs.schema)
            .option("maxFilesPerTrigger", 1)  # READER option (r12 lesson)
            .parquet(src_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    ckpt_l = tempfile.mkdtemp(prefix="ckpt_annl_")
    drain(lsh_sink, ckpt_l)
    full = os.path.join(tempfile.mkdtemp(prefix="ann_lshf_"), "index")
    S.write_lsh_index(embs, full, planes=4, dims=64)
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]
    want_lsh = [
        tuple(r)
        for r in S.lsh_topk_indexed(spark, full, query_vec=qvec, k=10, nprobe=4).collect()
    ]
    got_lsh = [
        tuple(r)
        for r in S.lsh_topk_indexed(
            spark, lsh_index, query_vec=qvec, k=10, nprobe=4
        ).collect()
    ]
    assert got_lsh == want_lsh and len(got_lsh) == 10

    # IvfIngestSink must refuse streaming micro-batch 0's vec_ids that
    # are already in the trained index — so feed it only parts 1-2 by
    # direct foreachBatch calls (segment ids 1 and 2), then replay 1
    ivf_sink(parts[1], 1)
    ivf_sink(parts[2], 2)
    got_ivf = [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf_index, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ]
    want_ivf = [tuple(r) for r in S.brute_force_topk(embs, 0, k=10).collect()]
    assert got_ivf == want_ivf and len(got_ivf) == 10
    ivf_sink(parts[1], 1)  # replay
    assert [
        tuple(r)
        for r in S.ivf_topk_indexed(
            spark, ivf_index, qvec, k=10, nprobe=6, exclude_vec_id=0
        ).collect()
    ] == want_ivf

    # LSH replay: recover micro-batch 1's vectors from its own id-map
    # segment (file order decides which part became which batch).
    # MATERIALIZED first — a replay frame lazily reading the very
    # segment being overwritten hits FAILED_READ_FILE mid-write (in a
    # real stream the replay comes from the source, never the index).
    seg1 = spark.read.parquet(os.path.join(lsh_index, "_id_map")).filter(
        F.col("batch") == 1
    ).select("vec_id")
    replay1 = embs.join(seg1, "vec_id", "left_semi").localCheckpoint(eager=True)
    lsh_sink(replay1, 1)
    assert [
        tuple(r)
        for r in S.lsh_topk_indexed(
            spark, lsh_index, query_vec=qvec, k=10, nprobe=4
        ).collect()
    ] == want_lsh

    for d in (src_dir, ckpt_l):
        shutil.rmtree(d, ignore_errors=True)
    for d in (lsh_index, ivf_index, full):
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_streaming_pq_and_ivfpq_ingest_pretrained(spark, sf_dir):
    """r14: the PQ/IVFPQ ingest twins.  Both sinks require pre-trained
    layouts (codebooks are trained state).  A streamed PQ index must
    probe IDENTICALLY to a same-codebook batch build over the same
    vectors (encoding against stored codebooks is deterministic); the
    IVFPQ sink's exhaustive probe must equal brute force over
    everything ingested.  Replays rewrite their own segments and move
    nothing; both raise on a missing index."""
    import pytest

    from clickstreaming_end_to_end_data_engineering_project_spark.operators import (
        similarity as S,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.sources.tables import load
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.ann_ingest import (
        IvfpqIngestSink,
        PqIngestSink,
    )

    embs = load(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    parts = [
        embs.filter(F.col("vec_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).head()["embedding"]]

    # --- PQ: train on part 0, stream parts 1-2, compare to a
    # same-codebook batch build over the full corpus
    books = S.anchor_pq_codebooks(embs, m=8, k=16)
    pq_index = os.path.join(tempfile.mkdtemp(prefix="ann_pq_"), "index")
    S.write_pq_index(parts[0], pq_index, codebooks=books)
    pq_sink = PqIngestSink(pq_index)
    pq_sink(parts[1], 1)
    pq_sink(parts[2], 2)
    full = os.path.join(tempfile.mkdtemp(prefix="ann_pqf_"), "index")
    S.write_pq_index(embs, full, codebooks=books)
    body = embs.filter(F.col("vec_id") != 0)
    want_pq = [
        tuple(r)
        for r in S.pq_topk_indexed(spark, full, body, qvec, k=10, shortlist=50).collect()
    ]
    probe = lambda: [
        tuple(r)
        for r in S.pq_topk_indexed(
            spark, pq_index, body, qvec, k=10, shortlist=50
        ).collect()
    ]
    # the streamed index also contains vec 0 itself (it matches with
    # l2 0) — exclude it the same way on both sides via the rerank df
    got_pq = probe()
    assert got_pq == want_pq and len(got_pq) == 10
    pq_sink(parts[1], 1)  # replay
    assert probe() == want_pq
    with pytest.raises(ValueError, match="no index"):
        PqIngestSink(pq_index + "_missing")(parts[1], 9)

    # --- IVFPQ: train on part 0 (unit-normalized corpus for cosine
    # serving), stream the rest, exhaustive probe == brute force
    normed = S.unit_normalize(embs).localCheckpoint(eager=True)
    nparts = [
        normed.filter(F.col("vec_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    ivfpq_index = os.path.join(tempfile.mkdtemp(prefix="ann_ivfpq_"), "index")
    S.write_ivfpq_index(
        nparts[0], ivfpq_index, n_clusters=6, m=4, codes_k=8,
        coarse_iterations=2, pq_iterations=1, assign_n=2,
    )
    ivfpq_sink = IvfpqIngestSink(ivfpq_index)
    ivfpq_sink(nparts[1], 1)
    ivfpq_sink(nparts[2], 2)
    nbody = normed.filter(F.col("vec_id") != 0)
    n_body = nbody.count()
    nq = [float(x) for x in normed.filter(F.col("vec_id") == 0).head()["embedding"]]
    exhaustive = lambda: [
        r["vec_id"]
        for r in S.ivfpq_topk_indexed(
            # +1: the streamed codes include vec 0 itself (rank-0 ADC
            # hit), which must not evict the last real candidate from
            # an "exhaustive" shortlist
            spark, ivfpq_index, nbody, nq, k=10, nprobe=6, shortlist=n_body + 1
        ).collect()
    ]
    want_ids = [r["vec_id"] for r in S.brute_force_topk(embs, 0, k=10).collect()]
    assert exhaustive() == want_ids
    ivfpq_sink(nparts[2], 2)  # replay
    assert exhaustive() == want_ids
    with pytest.raises(ValueError, match="no index"):
        IvfpqIngestSink(ivfpq_index + "_missing")(nparts[1], 9)

    for d in (pq_index, full, ivfpq_index):
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_streaming_heavy_hitter_ingest_equals_batch_operator(spark, sf_dir):
    """streaming/hh_ingest.py end-to-end: file-stream the documents
    table in per-file micro-batches, explode to bigrams, fold each
    batch into a Misra-Gries summary (≤ k+1 stored rows per batch
    regardless of vocabulary), then the exact recount served from the
    candidate store must be BIT-EQUAL to the batch heavy_hitters over
    the same corpus — the merge guarantee makes the store a superset
    of the true heavy hitters, and the recount is exact.  Replaying a
    batch under its id must change nothing."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.text import tokens
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.hh_ingest import (
        HeavyHitterSink,
        heavy_hitters_from_store,
        read_candidate_summary,
        read_total,
    )

    docs = load(spark, sf_dir, "documents")
    src_dir = tempfile.mkdtemp(prefix="hh_src_")
    store = os.path.join(tempfile.mkdtemp(prefix="hh_store_"), "store")
    ckpt = tempfile.mkdtemp(prefix="ckpt_hh_")
    parts = [
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1) for i in range(3)
    ]
    for p in parts:
        p.write.mode("append").parquet(src_dir)

    def grams_of(df):
        with_toks = df.select(tokens("text").alias("_t")).filter(F.size("_t") >= 2)
        m = F.size("_t") - 1
        return with_toks.select(
            F.explode(
                F.zip_with(
                    F.slice("_t", 1, m), F.slice("_t", 2, m),
                    lambda x, y: F.concat_ws(" ", x, y),
                )
            ).alias("bigram")
        )

    k = 1000
    sink = HeavyHitterSink(store, item_col="bigram", k=k)
    q = (
        grams_of(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    corpus = grams_of(docs)
    want = {
        (r["bigram"], r["freq"]) for r in heavy_hitters(corpus, "bigram", k=k).collect()
    }
    assert len(want) > 0

    def served():
        return {
            (r["bigram"], r["freq"])
            for r in heavy_hitters_from_store(spark, store, corpus, "bigram", k).collect()
        }

    assert served() == want
    assert read_total(spark, store) == corpus.count()
    # per-batch row bound: ≤ k+1 rows per batch dir regardless of vocab
    for d in os.listdir(store):
        if d.startswith("batch="):
            assert spark.read.parquet(os.path.join(store, d)).count() <= k + 1
    # replay idempotence on a manually-driven twin store (the stream's
    # file→batch-id mapping is listing-order dependent — r16 review)
    store2 = os.path.join(tempfile.mkdtemp(prefix="hh_store2_"), "store")
    sink2 = HeavyHitterSink(store2, item_col="bigram", k=k)
    for i, p in enumerate(parts):
        sink2(grams_of(p), i)
    def served2():
        return {
            (r["bigram"], r["freq"])
            for r in heavy_hitters_from_store(
                spark, store2, corpus, "bigram", k
            ).collect()
        }
    assert served2() == want
    assert read_total(spark, store2) == corpus.count()
    sink2(grams_of(parts[1]), 1)  # replay under ITS OWN id
    assert served2() == want
    assert read_total(spark, store2) == corpus.count()
    shutil.rmtree(os.path.dirname(store2), ignore_errors=True)

    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_streaming_windowed_heavy_hitter_ingest_equals_batch(spark, sf_dir):
    """WindowedHeavyHitterSink end-to-end (r15 verdict directive #7):
    file-stream the events table in per-file micro-batches, fold each
    batch into one MG summary PER tumbling hour, then the per-window
    recount served from the store must be BIT-EQUAL to the batch
    windowed_heavy_hitters over the same corpus — 'top pages per
    hour' answered from streamed state.  Replay must change nothing;
    each (batch, window) contributes ≤ k+1 candidate rows."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        windowed_heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.hh_ingest import (
        WindowedHeavyHitterSink,
        windowed_heavy_hitters_from_store,
    )

    ev = load(spark, sf_dir, "events")
    pages_of = lambda df: df.select(  # noqa: E731
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())

    src_dir = tempfile.mkdtemp(prefix="whh_src_")
    store = os.path.join(tempfile.mkdtemp(prefix="whh_store_"), "store")
    ckpt = tempfile.mkdtemp(prefix="ckpt_whh_")
    parts = [ev.filter(F.col("event_id") % 3 == i).coalesce(1) for i in range(3)]
    for p in parts:
        p.write.mode("append").parquet(src_dir)

    k = 8
    sink = WindowedHeavyHitterSink(
        store, ts_col="ts", item_col="page", k=k, window="1 hour"
    )
    q = (
        pages_of(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    corpus = pages_of(ev)
    want = {
        (r["window_start"], r["page"], r["freq"])
        for r in windowed_heavy_hitters(
            corpus, "ts", "page", k=k, window="1 hour"
        ).collect()
    }
    assert len(want) > 0

    def served():
        return {
            (r["window_start"], r["page"], r["freq"])
            for r in windowed_heavy_hitters_from_store(
                spark, store, corpus, "ts", "page", k, window="1 hour"
            ).collect()
        }

    assert served() == want
    # per-(batch, window) candidate bound: ≤ k+1 non-total rows
    for d in os.listdir(store):
        if d.startswith("batch="):
            per_win = (
                spark.read.parquet(os.path.join(store, d))
                .filter(F.col("item").isNotNull())
                .groupBy("window_start")
                .count()
                .agg(F.max("count"))
                .first()[0]
            )
            assert per_win <= k + 1
    # replay idempotence on a manually-driven twin store (the stream's
    # file→batch-id mapping is listing-order dependent, so replaying
    # "parts[1] as batch 1" against the STREAM's store could overwrite
    # a different part's summary — r16 review): deliver the increments
    # under known ids, replay one, nothing changes
    store2 = os.path.join(tempfile.mkdtemp(prefix="whh_store2_"), "store")
    sink2 = WindowedHeavyHitterSink(
        store2, ts_col="ts", item_col="page", k=k, window="1 hour"
    )
    for i, p in enumerate(parts):
        sink2(pages_of(p), i)
    def served2():
        return {
            (r["window_start"], r["page"], r["freq"])
            for r in windowed_heavy_hitters_from_store(
                spark, store2, corpus, "ts", "page", k, window="1 hour"
            ).collect()
        }
    assert served2() == want
    sink2(pages_of(parts[1]), 1)  # replay under ITS OWN id
    assert served2() == want

    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)
    shutil.rmtree(os.path.dirname(store2), ignore_errors=True)


def test_streaming_sliding_heavy_hitter_ingest_equals_batch(spark, sf_dir):
    """Sliding-window twin of the file-stream pin above (r16 verdict
    #5): 1-hour windows every 15 minutes — each event folds into FOUR
    overlapping windows' MG summaries per batch — and the recount
    served from the streamed store must be BIT-EQUAL to the batch
    windowed_heavy_hitters(slide=...) over the same corpus (the
    sliding_page_heavy_hitters battery query's shape)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        windowed_heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.hh_ingest import (
        WindowedHeavyHitterSink,
        windowed_heavy_hitters_from_store,
    )

    ev = load(spark, sf_dir, "events")
    pages_of = lambda df: df.select(  # noqa: E731
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())

    src_dir = tempfile.mkdtemp(prefix="shh_src_")
    store = os.path.join(tempfile.mkdtemp(prefix="shh_store_"), "store")
    ckpt = tempfile.mkdtemp(prefix="ckpt_shh_")
    parts = [ev.filter(F.col("event_id") % 3 == i).coalesce(1) for i in range(3)]
    for p in parts:
        p.write.mode("append").parquet(src_dir)

    k = 8
    sink = WindowedHeavyHitterSink(
        store, ts_col="ts", item_col="page", k=k,
        window="1 hour", slide="15 minutes",
    )
    q = (
        pages_of(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    corpus = pages_of(ev)
    want = {
        (r["window_start"], r["page"], r["freq"])
        for r in windowed_heavy_hitters(
            corpus, "ts", "page", k=k, window="1 hour", slide="15 minutes"
        ).collect()
    }
    assert len(want) > 0
    got = {
        (r["window_start"], r["page"], r["freq"])
        for r in windowed_heavy_hitters_from_store(
            spark, store, corpus, "ts", "page", k,
            window="1 hour", slide="15 minutes",
        ).collect()
    }
    assert got == want

    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_hh_ingest_superset_guarantee_under_tiny_capacity(spark):
    """Adversarial decrement coverage the fixture can't produce: a
    skewed synthetic stream ingested at capacity k with vocabulary far
    above k, split so the heavy items are diluted differently per
    batch.  The merged store must still contain every true heavy
    hitter (the N/(k+1) undercount bound) and the recount must equal
    the batch operator exactly; merged lower bounds must respect the
    error bound."""
    import random as _random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sketches import (
        heavy_hitters,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.hh_ingest import (
        HeavyHitterSink,
        heavy_hitters_from_store,
        read_candidate_summary,
    )

    rng = _random.Random(9)
    rows = ["hot"] * 2400 + [f"warm{i}" for i in range(3) for _ in range(700)]
    rows += [f"cold{rng.randrange(3000)}" for _ in range(5500)]
    rng.shuffle(rows)
    n = len(rows)
    exact = {}
    for w in rows:
        exact[w] = exact.get(w, 0) + 1
    k = 15  # threshold N/15 ≈ 667: hot (2400) and warm* (700) qualify
    want = {(w, c) for w, c in exact.items() if c * k > n}
    assert {w for w, _ in want} == {"hot", "warm0", "warm1", "warm2"}

    store = os.path.join(tempfile.mkdtemp(prefix="hh_tiny_"), "store")
    sink = HeavyHitterSink(store, item_col="item", k=k)
    corpus = spark.createDataFrame([(w,) for w in rows], ["item"])
    cut = len(rows) // 3
    for i, chunk in enumerate([rows[:cut], rows[cut : 2 * cut], rows[2 * cut :]]):
        sink(spark.createDataFrame([(w,) for w in chunk], ["item"]), i)

    got = {
        (r["item"], r["freq"])
        for r in heavy_hitters_from_store(spark, store, corpus, "item", k).collect()
    }
    assert got == want
    # merged lower bounds: w_lower ≤ true freq, undercount ≤ N/(k+1)
    lower = {
        r["item"]: r["w_lower"] for r in read_candidate_summary(spark, store).collect()
    }
    for item, w_lower in lower.items():
        assert w_lower <= exact[item]
        assert exact[item] - w_lower <= n // (k + 1) + 1

    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_streaming_last_touch_attribution_equals_batch(spark, sf_dir):
    """LastTouchAttributionSink: deliver the events fixture in three
    CHRONOLOGICAL micro-batches (the sink's documented per-entity
    event-time ordering contract), then the attributed conversions
    served from the store must be BIT-EQUAL to the batch operator over
    the whole corpus — per-row AND after the battery query's per-page
    revenue aggregation.  Replaying the last batch changes nothing
    (the advanced state differs only by touch rows the replayed batch
    also carries, and duplicate touches cannot change a last-value
    window)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.attribution import (
        last_touch_attribution,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.attribution import (
        LastTouchAttributionSink,
        attributed_conversions_from_store,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    cuts = ev.selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.33) as long)) as c1",
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.66) as long)) as c2",
    ).first()
    parts = [
        ev.filter(F.col("ts") <= F.lit(cuts["c1"])),
        ev.filter((F.col("ts") > F.lit(cuts["c1"])) & (F.col("ts") <= F.lit(cuts["c2"]))),
        ev.filter(F.col("ts") > F.lit(cuts["c2"])),
    ]
    store = os.path.join(tempfile.mkdtemp(prefix="attr_store_"), "store")
    kwargs = dict(
        entity_col="user_id",
        ts_col="ts",
        touch_filter=(F.col("event_type") == "view") & F.col("page").isNotNull(),
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="30 minutes",
        tiebreak_cols=["event_id"],
    )
    sink = LastTouchAttributionSink(store, **kwargs)
    for i, p in enumerate(parts):
        sink(p, i)

    want = {
        (r["event_id"], r["attributed_page"], r["attributed_ts"])
        for r in last_touch_attribution(ev, "user_id", "ts", **{
            k: v for k, v in kwargs.items() if k not in ("entity_col", "ts_col")
        }).collect()
    }
    assert len(want) > 0

    def served():
        return {
            (r["event_id"], r["attributed_page"], r["attributed_ts"])
            for r in attributed_conversions_from_store(spark, store).collect()
        }

    got = served()
    assert got == want
    assert any(p is not None for _, p, _ in got)   # some credit assigned
    assert any(p is None for _, p, _ in got)       # and an unattributed bucket
    # replay the LAST batch against the already-advanced state
    sink(parts[2], 2)
    assert served() == want
    # the battery query's aggregation matches too (decimal-exact money)
    agg = lambda df: {  # noqa: E731
        (r["attributed_page"], r["n_purchases"], r["attributed_revenue"])
        for r in df.groupBy("attributed_page").agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
            .alias("attributed_revenue"),
        ).collect()
    }
    assert agg(attributed_conversions_from_store(spark, store)) == agg(
        last_touch_attribution(ev, "user_id", "ts", **{
            k: v for k, v in kwargs.items() if k not in ("entity_col", "ts_col")
        })
    )
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_streaming_sequence_match_equals_batch(spark, sf_dir):
    """SequenceMatchSink: deliver the events fixture in three
    CHRONOLOGICAL micro-batches (the documented per-entity event-time
    ordering contract), then the per-entity match table served from
    the state store must be BIT-EQUAL to the batch match_sequence over
    the whole corpus — the user_journey_match battery query's shape.
    Replaying the last batch changes nothing (a min-fixpoint is
    idempotent)."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sequence import (
        match_sequence,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sequence import (
        SequenceMatchSink,
        matches_from_store,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    cuts = ev.selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.33) as long)) as c1",
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.66) as long)) as c2",
    ).first()
    parts = [
        ev.filter(F.col("ts") <= F.lit(cuts["c1"])),
        ev.filter((F.col("ts") > F.lit(cuts["c1"])) & (F.col("ts") <= F.lit(cuts["c2"]))),
        ev.filter(F.col("ts") > F.lit(cuts["c2"])),
    ]
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    store = os.path.join(tempfile.mkdtemp(prefix="seq_store_"), "store")
    sink = SequenceMatchSink(store, "user_id", "ts", steps, within="2 hours")
    for i, p in enumerate(parts):
        sink(p, i)

    want = {
        tuple(r)
        for r in match_sequence(ev, "user_id", "ts", steps, within="2 hours")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .collect()
    }
    assert len(want) > 0

    def served():
        return {
            tuple(r)
            for r in matches_from_store(spark, store)
            .select("user_id", "t_view", "t_click", "t_purchase")
            .collect()
        }

    got = served()
    assert got == want
    # partial progressions really occurred (at sf0.001 the fixture has
    # 15 viewers / 2 clickers / 0 full completions within the horizon —
    # full-journey coverage lives in the sf0.01+ battery)
    assert any(r[2] is not None for r in got)
    assert any(r[1] is not None and r[2] is None for r in got)
    sink(parts[2], 2)  # replay the last batch against advanced state
    assert served() == want
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


@pytest.mark.parametrize("seed", [4, 11])
def test_streaming_sequence_match_equals_batch_with_null_ts(spark, tmp_path, seed):
    """Seeded random differential with NULL timestamps and NULL event
    types: three chronological micro-batches (a NULL-ts event lands in
    any of them) into SequenceMatchSink serve exactly match_sequence's
    rows over all the events.  On both sides an event with a NULL ts
    takes no step, so an entity whose views all lack a timestamp has no
    row."""
    import random

    from clickstreaming_end_to_end_data_engineering_project_spark.operators.sequence import (
        match_sequence,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sequence import (
        SequenceMatchSink,
        matches_from_store,
    )

    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    parts = [[], [], []]
    for user in range(40):
        for _ in range(rng.randint(1, 8)):
            minute = rng.randint(0, 299)
            ts = None if rng.random() < 0.25 else t0 + dt.timedelta(minutes=minute)
            row = (user, ts, rng.choice(["view", "click", "buy", None]))
            parts[rng.randint(0, 2) if ts is None else minute // 100].append(row)
    schema = "user_id long, ts timestamp, event_type string"
    rows = [r for p in parts for r in p]
    views = {}
    for user, ts, kind in rows:
        if kind == "view":
            views.setdefault(user, set()).add(ts is None)
    assert any(v == {True} for v in views.values()), "fixture lost its NULL-ts-only viewer"

    steps = [(n, F.col("event_type") == n) for n in ("view", "click", "buy")]
    sink = SequenceMatchSink(str(tmp_path / "store"), "user_id", "ts", steps, within="1 hour")
    for i, p in enumerate(parts):
        sink(spark.createDataFrame(p, schema), i)
    cols = ["user_id", "t_view", "t_click", "t_buy"]
    got = {tuple(r) for r in matches_from_store(spark, str(tmp_path / "store")).select(cols).collect()}
    all_events = spark.createDataFrame(rows, schema)
    want = {
        tuple(r)
        for r in match_sequence(all_events, "user_id", "ts", steps, within="1 hour").select(cols).collect()
    }
    assert got == want
    assert any(r[2] is not None for r in want)


def test_streaming_interval_merge_equals_batch(spark, sf_dir):
    """IntervalMergeSink: deliver the supplier transit intervals (the
    supplier_shipping_coverage battery query's source) in three
    chunks, CHRONOLOGICAL BY START per the ordering contract; the
    islands served from the store (closed ∪ open) must be BIT-EQUAL to
    the batch merge_intervals over the whole frame — island spans AND
    the non-idempotent n_intervals counts, which is why this sink
    carries a batch high-water mark.  Replaying the last batch against
    the advanced state is skipped by the hwm and changes nothing."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.intervals import (
        merge_intervals,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.intervals import (
        IntervalMergeSink,
        islands_from_store,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("s"),
        F.date_add(F.to_date("l_shipdate"), F.col("l_quantity").cast("int")).alias("e"),
    )
    cuts = li.selectExpr(
        "cast(percentile(unix_date(s), 0.33) as int) as c1",
        "cast(percentile(unix_date(s), 0.66) as int) as c2",
    ).first()
    d1, d2 = F.date_from_unix_date(F.lit(cuts["c1"])), F.date_from_unix_date(F.lit(cuts["c2"]))
    parts = [
        li.filter(F.col("s") <= d1),
        li.filter((F.col("s") > d1) & (F.col("s") <= d2)),
        li.filter(F.col("s") > d2),
    ]
    store = os.path.join(tempfile.mkdtemp(prefix="ivl_store_"), "store")
    sink = IntervalMergeSink(store, "l_suppkey", "s", "e")
    for i, p in enumerate(parts):
        sink(p, i)

    want = {
        tuple(r)
        for r in merge_intervals(li, "l_suppkey", "s", "e").collect()
    }
    assert len(want) > 0

    def served():
        return {tuple(r) for r in islands_from_store(spark, store).collect()}

    got = served()
    assert got == want
    # closed islands really crossed into the out store
    import os as _os
    assert _os.path.isdir(_os.path.join(store, "out"))
    # replay: skipped by the hwm, nothing changes (a re-merge would
    # double-count n_intervals — the reason the hwm exists)
    sink(parts[2], 2)
    assert served() == want
    sink(parts[1], 1)   # older replay: also skipped
    assert served() == want
    shutil.rmtree(_os.path.dirname(store), ignore_errors=True)


def test_streaming_attribution_replay_after_state_swap_is_skipped(spark):
    """r17 review (CONFIRMED bug in the first cut): replaying a batch
    after its state swap is NOT recompute-exact here — the advanced
    state REPLACES the pre-batch seed touch, so a replayed conversion
    would re-attribute to NULL.  The state-borne hwm must skip the
    replay whole: batch 0 = touch A, batch 1 = purchase (credits A) +
    touch B; after replaying batch 1 against the advanced state (which
    only knows B, which is AFTER the purchase) the out store must
    still say A."""
    import datetime as _dt

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.attribution import (
        LastTouchAttributionSink,
        attributed_conversions_from_store,
    )

    t0 = _dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + _dt.timedelta(seconds=s)

    schema = "user_id long, ts timestamp, event_id long, event_type string, page long"
    b0 = spark.createDataFrame([(1, at(10), 1, "view", 7)], schema)
    b1 = spark.createDataFrame(
        [(1, at(20), 2, "purchase", None), (1, at(30), 3, "view", 9)], schema
    )
    store = os.path.join(tempfile.mkdtemp(prefix="attr_hwm_"), "store")
    sink = LastTouchAttributionSink(
        store,
        entity_col="user_id",
        ts_col="ts",
        touch_filter=F.col("event_type") == "view",
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="30 minutes",
        tiebreak_cols=["event_id"],
    )
    sink(b0, 0)
    sink(b1, 1)

    def served():
        return {
            (r["event_id"], r["attributed_page"])
            for r in attributed_conversions_from_store(spark, store).collect()
        }

    assert served() == {(2, 7)}
    sink(b1, 1)   # the exact crash window: state already advanced to B
    assert served() == {(2, 7)}   # hwm skipped the replay; credit intact
    sink(b0, 0)   # stale replay: also skipped
    assert served() == {(2, 7)}
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_first_state_write_is_staged_and_heals_staging_debris(spark):
    """r17 ADVICE #2: the FIRST-ever state write must carry the same
    crash atomicity as later swaps.  Simulate a crash mid-first-write
    (junk stranded in ``state.compact_staging``, no live dir): the
    retry must delete the debris, land the state atomically via
    rename, and read back clean — a direct ``mode('overwrite')`` write
    would instead have left a partial LIVE dir every later read fails
    on."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming._state import (
        read_state,
        write_state,
    )

    root = tempfile.mkdtemp(prefix="state_first_")
    state_dir = os.path.join(root, "state")
    debris = state_dir + ".compact_staging"
    os.makedirs(debris)
    with open(os.path.join(debris, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")   # the crashed write's torso

    init = spark.createDataFrame([], "k long, v long")
    st, have, hwm = read_state(spark, state_dir, init)
    assert (have, hwm) == (False, -1)
    write_state(
        spark, state_dir, spark.createDataFrame([(1, 10)], "k long, v long"),
        have_state=False, batch_id=0,
    )
    assert not os.path.exists(debris)   # debris cleaned, staging renamed away
    st, have, hwm = read_state(spark, state_dir, init)
    assert (have, hwm) == (True, 0)
    assert [tuple(r) for r in st.collect()] == [(1, 10)]
    shutil.rmtree(root, ignore_errors=True)


def test_islands_from_store_propagates_corrupt_out_read(spark):
    """r17 ADVICE #1: a failing read of the closed-islands out dir
    (anything but the dataset simply not existing yet) must PROPAGATE,
    never silently serve a result missing all closed islands.  A junk
    parquet file inside ``out/`` must raise; a genuinely absent out
    dir still reads as 'no closed islands yet'."""
    import pyspark.errors as _err

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming._state import (
        write_state,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.intervals import (
        islands_from_store,
    )

    root = tempfile.mkdtemp(prefix="ivl_corrupt_")
    store = os.path.join(root, "store")
    write_state(
        spark,
        os.path.join(store, "state"),
        spark.createDataFrame(
            [(1, 5, 9, 2)], "k long, s long, e long, n_intervals long"
        ),
        have_state=False,
        batch_id=0,
    )
    # no out dir yet: the ONLY silently-empty case
    assert islands_from_store(spark, store).count() == 1
    bad = os.path.join(store, "out", "batch=0")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"corrupt footer")
    with pytest.raises(Exception) as ei:
        islands_from_store(spark, store).collect()
    # the broad-Exception swallow would have returned 1 row instead
    assert not isinstance(ei.value, _err.AnalysisException) or "PATH_NOT_FOUND" not in str(ei.value)
    shutil.rmtree(root, ignore_errors=True)


def test_streaming_multi_touch_attribution_equals_batch(spark, sf_dir):
    """MultiTouchAttributionSink (r17 verdict #4): deliver the events
    fixture in three CHRONOLOGICAL micro-batches, then the fractional
    credit rows served from the store must be BIT-EQUAL to the batch
    multi_touch_attribution over the whole corpus — per credit row
    (event_id, page, pos, n, weight) AND after the battery query's
    micro-unit revenue aggregation.  Replaying the last batch changes
    nothing (hwm skip).  A state-size probe pins the prune: the stored
    touch set never exceeds the in-lookback touches of the corpus
    tail."""
    from clickstreaming_end_to_end_data_engineering_project_spark.operators.attribution import (
        multi_touch_attribution,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.attribution import (
        MultiTouchAttributionSink,
        attributed_conversions_from_store,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    cuts = ev.selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.33) as long)) as c1",
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.66) as long)) as c2",
    ).first()
    parts = [
        ev.filter(F.col("ts") <= F.lit(cuts["c1"])),
        ev.filter((F.col("ts") > F.lit(cuts["c1"])) & (F.col("ts") <= F.lit(cuts["c2"]))),
        ev.filter(F.col("ts") > F.lit(cuts["c2"])),
    ]
    store = os.path.join(tempfile.mkdtemp(prefix="mta_store_"), "store")
    kwargs = dict(
        touch_filter=(F.col("event_type") == "view") & F.col("page").isNotNull(),
        touch_col="page",
        conversion_filter=F.col("event_type") == "purchase",
        lookback="3 days",
        model="position",
        tiebreak_cols=["event_id"],
    )
    import pytest

    with pytest.raises(ValueError, match="lookback is required"):
        MultiTouchAttributionSink(
            store, "user_id", "ts", lookback=None,
            **{k: v for k, v in kwargs.items() if k != "lookback"},
        )
    sink = MultiTouchAttributionSink(store, "user_id", "ts", **kwargs)
    for i, p in enumerate(parts):
        sink(p, i)

    key = lambda r: (  # noqa: E731
        r["event_id"], r["attributed_page"], r["touch_pos"],
        r["n_touches"], r["weight"],
    )
    want = sorted(
        key(r)
        for r in multi_touch_attribution(ev, "user_id", "ts", **kwargs).collect()
    )
    assert len(want) > 0

    def served():
        return sorted(
            key(r)
            for r in attributed_conversions_from_store(spark, store).collect()
        )

    got = served()
    assert got == want
    assert any(p is not None for _, p, *_ in got)
    assert any(p is None for _, p, *_ in got)       # unattributed bucket
    assert any(n >= 3 for *_, n, _ in got)          # middles exercised
    # replay the LAST batch against the already-advanced state
    sink(parts[2], 2)
    assert served() == want
    # battery-shape aggregation (micro-unit exact revenue) matches too
    vd = F.col("value").cast("decimal(12,2)").cast("double")
    micro = F.floor(vd * F.col("weight") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    agg = lambda df: {  # noqa: E731
        (r["attributed_page"], r["n_credits"], r["credited_revenue"])
        for r in df.groupBy("attributed_page").agg(
            F.count(F.lit(1)).alias("n_credits"),
            (F.sum(micro).cast("double") / F.lit(1000000.0)).alias("credited_revenue"),
        ).collect()
    }
    assert agg(attributed_conversions_from_store(spark, store)) == agg(
        multi_touch_attribution(ev, "user_id", "ts", **kwargs)
    )
    # prune pin: stored touches all sit within lookback of their
    # entity's max seen ts (state is the bounded sufficient statistic,
    # not the touch log)
    state = spark.read.parquet(os.path.join(store, "state")).drop("_hwm")
    mx = state.groupBy("user_id").agg(F.max("ts").alias("m"))
    stale = state.join(mx, "user_id").filter(
        F.col("ts") < F.col("m") - F.expr("INTERVAL 3 days")
    )
    # per-entity max over TOUCHES only is <= max over all events, so
    # this is the weaker-but-sufficient bound the store must satisfy
    assert stale.count() == 0
    shutil.rmtree(os.path.dirname(store), ignore_errors=True)


def test_streaming_ab_ztest_equals_batch_any_order(spark, sf_dir):
    """ABTestSink: deliver the events fixture in three time-slice
    micro-batches in a SHUFFLED order (2, 0, 1) — this family's
    per-unit bool_or merge is commutative/idempotent, so unlike the
    order-contracted sinks (attribution/sequence/intervals) the pin
    holds under ANY delivery order; the slices also split user-days
    across batches, exercising the once-per-unit merge.  The final
    readout served from the store must be BIT-EQUAL to the
    ab_purchase_ztest batch query over the whole fixture, and
    replaying an old batch must not rewrite history with the
    later state's readout (hwm skip)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from clickstreaming_end_to_end_data_engineering_project_spark.plans.clickstream import (
        ab_purchase_ztest,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.ab_ingest import (
        ABTestSink,
        latest_readout_from_store,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    cuts = ev.selectExpr(
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.33) as long)) as c1",
        "timestamp_micros(cast(percentile(unix_micros(ts), 0.66) as long)) as c2",
    ).first()
    parts = [
        ev.filter(F.col("ts") <= F.lit(cuts["c1"])),
        ev.filter(
            (F.col("ts") > F.lit(cuts["c1"])) & (F.col("ts") <= F.lit(cuts["c2"]))
        ),
        ev.filter(F.col("ts") > F.lit(cuts["c2"])),
    ]
    store = _os.path.join(_tempfile.mkdtemp(prefix="ab_store_"), "store")
    sink = ABTestSink(
        store,
        unit_cols=["user_id", "day"],
        treatment_expr=(
            (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
            < F.lit(2147483648)
        ),
        converted_expr=F.col("event_type") == "purchase",
    )
    # shuffled delivery; sink units the batch on (user_id, day)
    for bid, p in [(0, parts[2]), (1, parts[0]), (2, parts[1])]:
        sink(p.withColumn("day", F.to_date("ts")), bid)

    want = ab_purchase_ztest(spark, sf_dir).collect()[0].asDict()
    got = latest_readout_from_store(spark, store).collect()[0].asDict()
    assert got == want
    assert want["n_treatment"] > 0 and want["n_control"] > 0
    # a unit really was split across micro-batches (boundary user-day)
    bdays = [
        {tuple(r) for r in p.select("user_id", F.to_date("ts")).distinct().collect()}
        for p in parts
    ]
    assert (bdays[0] & bdays[1]) or (bdays[1] & bdays[2])
    # replaying an old batch against the advanced state: hwm skips it,
    # the latest readout is untouched
    sink(parts[0].withColumn("day", F.to_date("ts")), 1)
    assert latest_readout_from_store(spark, store).collect()[0].asDict() == want
    _shutil.rmtree(_os.path.dirname(store), ignore_errors=True)
