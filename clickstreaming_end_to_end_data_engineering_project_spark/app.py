"""End-to-end streaming application — the engine's equivalent of the
reference's ``python -m spark_processor.stream_processor`` entrypoint
(README.md:65-68; __main__ at stream_processor.py:537-540).

Wires generator → pipelines → sinks → monitor with a graceful,
time-bounded lifecycle (the reference's shadowed first
start_processing intended exactly this: persist-fanout, listener,
awaitAnyTermination — SURVEY.md §0).

Run:  python -m clickstreaming_end_to_end_data_engineering_project_spark.app --duration 15
      (add --kafka host:9092 to read a real broker instead of the
      built-in rate-source generator; add --sink-dir to write parquet)
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import functions as F

from .config import load_config
from .session import get_spark
from .sources.generator import clickstream_rate_stream
from .streaming.monitoring import attach_monitor, detach_monitor
from .streaming.pipelines import ClickstreamPipelines, read_kafka_stream
from .streaming.sinks import MemorySink, ParquetSink


def main(argv: list[str] | None = None) -> int:
    cfg = load_config()  # env-var surface, same names as the reference
    ap = argparse.ArgumentParser(description="clickstream engine streaming app")
    ap.add_argument("--duration", type=float, default=15.0, help="seconds to run")
    ap.add_argument("--events-per-second", type=int, default=int(cfg.generator.events_per_second * 10))
    ap.add_argument("--kafka", default=None, help=f"bootstrap servers (else rate source; env default {cfg.kafka.bootstrap_servers})")
    ap.add_argument("--topic", default=cfg.kafka.topic)
    ap.add_argument("--sink-dir", default=None, help="write parquet here (else in-memory)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--trigger-seconds", type=int, default=min(cfg.spark.batch_duration_s, 2))
    ap.add_argument(
        "--serve-port",
        type=int,
        default=None,
        help="serve the live web dashboard on this port while running "
        "(requires --sink-dir; 0 picks an ephemeral port)",
    )
    args = ap.parse_args(argv)
    if args.serve_port is not None and not args.sink_dir:
        ap.error("--serve-port requires --sink-dir (the dashboard reads the parquet sinks)")

    spark = get_spark("clickstream-app")
    spark.sparkContext.setLogLevel("WARN")
    mon = attach_monitor(spark)

    if args.kafka:
        events = read_kafka_stream(spark, args.kafka, args.topic)
    else:
        events = clickstream_rate_stream(spark, args.events_per_second)
    # map the generator's clickstream schema onto the pipelines' canonical
    # (ts, event_type, user_id, value) columns
    # the rate source carries a sequence id; the Kafka wire format does
    # not, so derive a stable surrogate from the event content there
    event_id = (
        F.col("event_seq")
        if "event_seq" in events.columns
        else F.abs(F.xxhash64("user_id", "timestamp", "session_id"))
    )
    events = events.select(
        F.col("user_id").cast("long"),
        F.col("timestamp").alias("ts"),
        F.when(F.col("event_type") == "page_view", "view").otherwise(F.col("event_type")).alias("event_type"),
        F.coalesce(F.col("total_amount"), F.lit(0.0)).alias("value"),
        event_id.alias("event_id"),
        F.col("page"),
    )

    ckpt = args.checkpoint_dir or f"{cfg.spark.checkpoint_dir}/app-{int(time.time())}"
    if args.sink_dir:
        sinks = {
            name: ParquetSink(f"{args.sink_dir}/{name}")
            for name in ("page_views", "page_views_by_page", "purchases", "event_stats")
        }
    else:
        sinks = {
            "page_views": MemorySink(key_cols=["window_start"]),
            "page_views_by_page": MemorySink(key_cols=["window_start", "page"]),
            "purchases": MemorySink(key_cols=["window_start"]),
            "event_stats": MemorySink(key_cols=["window_start", "event_type"]),
        }

    # bind the dashboard socket BEFORE starting queries: a bind failure
    # (port in use) must not leave streaming queries to die ungracefully
    server = None
    if args.serve_port is not None:
        from .webdash import DashboardServer

        server = DashboardServer(spark, args.sink_dir, port=args.serve_port)

    mgr = ClickstreamPipelines(spark, ckpt, trigger={"processingTime": f"{args.trigger_seconds} seconds"})
    mgr.start(events, sinks)
    try:
        if server is not None:
            server.start()
            print(f"dashboard serving on http://127.0.0.1:{server.port}/")
        print(f"started {len(mgr.queries)} queries; running {args.duration}s "
              f"({'kafka:' + args.kafka if args.kafka else 'rate source'})")
        deadline = time.time() + args.duration
        while time.time() < deadline and any(q.isActive for q in mgr.queries):
            time.sleep(1.0)
    finally:
        mgr.stop_all()
        if server is not None:
            server.stop()

    rows = sum(p.num_input_rows for p in mon.progress)
    rates = [p.processed_rows_per_second for p in mon.progress if p.processed_rows_per_second]
    peak = f"; peak {max(rates):.0f} rows/s" if rates else ""
    print(f"processed {rows} input rows across {len(mon.progress)} triggers{peak}")
    for name, sink in sinks.items():
        if isinstance(sink, MemorySink):
            sample = sorted(sink.result, key=lambda r: str(r))[:3]
            print(f"{name}: {len(sink.result)} result rows; sample: {sample}")
    detach_monitor(spark, mon)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
