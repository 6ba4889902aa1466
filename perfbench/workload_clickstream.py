"""``clickstream_live``: the reference pipeline, generator → Structured
Streaming → historical and real-time sinks.

Paced phase (open loop).  A generator thread writes one parquet file of
seeded events every ``INTERVAL_S`` seconds into a directory that a
file-stream source watches (the stand-in for Kafka without a broker),
and stamps each file's creation time.  ``ClickstreamPipelines.start``
runs ``page_views``, ``sessions``, ``purchases`` and ``event_stats`` on
a ``TRIGGER`` processing-time trigger.  The three update-mode queries write to
``CompositeSink(IdempotentParquetSink, MetricsSink)`` (the Postgres and
Redis roles); ``sessions`` writes to ``IdempotentParquetSink``.  An
event's latency runs from its file's creation to the return of the sink
call of the micro-batch that read the file, per query; the file-to-batch
mapping comes from each query's checkpoint (source log and offset log).

Throughput is the stream's processing rate: input rows per second of
micro-batch execution (``numInputRows`` over ``triggerExecution`` from
each query's progress events), summed over the data batches of the four
queries that read paced files.  It does not depend on the trigger
interval or the generator's rate, so it is not a restatement of the
latency.

Analyst phase (closed loop).  After the stream stops, one client runs
the analyst's registry queries over the history once, in a seeded
order, each collecting its rows, which are checked against the query's
DuckDB oracle; their latencies feed the ``plans`` and ``sources`` layer
metrics.

Each file covers one minute of event time, and files start an hour of
event time apart, in order: more than the sessions' 30-minute gap plus
their 10-minute watermark delay.  So every window and every session
closes, and its state is evicted, once the stream has read a later
file; the ``sessions`` sink writes the previous batch's sessions in
every batch; and no event is ever behind a watermark.  That makes the
streaming result checkable: every update-mode sink's final rows equal
the same pipeline run as a batch over every file written, and the
emitted sessions are exactly the batch run's sessions that had closed
before the query's last batch (at least one), each emitted once.
"""

from __future__ import annotations

import calendar
import datetime as dt
import glob
import json
import os
import random
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import analyst
import datagen
from common import Outcome, digest, percentile, timing_summary
from spans import add_self_times, attribute_jobs, make_progress_listener, read_event_log

INTERVAL_S = 0.5
EVENTS_PER_S = 2000
EVENTS_PER_FILE = int(EVENTS_PER_S * INTERVAL_S)
WARMUP_FILES = 2
# a fixed trigger longer than a batch: on the default (back-to-back)
# trigger, or on one shorter than a batch, the four queries saturate the
# cores and latency depends on how their batches happen to interleave,
# which moved the median by 3x between seeds
TRIGGER_S = 6
TRIGGER = f"{TRIGGER_S} seconds"
# the generator starts this long after a trigger boundary (Spark fires
# processing-time triggers at multiples of the interval since the
# epoch), so every run sees files at the same points of the cycle
PHASE_S = 0.1
N_USERS = 1500
SIM_ORIGIN = dt.datetime(2024, 3, 1)
FILE_SPAN_US = 60 * 1_000_000  # event time covered by one file
FILE_GAP_US = 3600 * 1_000_000  # event time from one file's start to the next's
QUERY_KEYS = {
    "page_views": (["window_start", "window_end"], "view_count"),
    "purchases": (["window_start", "window_end"], "purchase_count"),
    "event_stats": (["window_start", "window_end", "event_type"], "visit_count"),
}
FINISH_TIMEOUT_S = 60


class TimedSink:
    """foreachBatch target wrapping an engine sink: one span per call,
    and the wall time each batch's call returned."""

    def __init__(self, tracer, label: str, query: str, sink):
        self.tracer, self.label, self.query, self.sink = tracer, label, query, sink
        self.returned: "dict[int, float]" = {}
        self.failures = 0

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span(f"sink:{self.query}:{self.label}", "sinks", op=batch_id,
                              query=self.query, sink=self.label, batch=batch_id):
            try:
                self.sink(df, batch_id)
            except Exception:
                self.failures += 1
                raise
        self.returned[batch_id] = time.time()


def _file_events(seed: int, index: int, n: int, first_id: int):
    rng = np.random.default_rng([seed, index])
    t0 = int(np.datetime64(SIM_ORIGIN, "us").astype(np.int64)) + index * FILE_GAP_US
    return datagen.event_rows(rng, n, N_USERS, first_id, t0, t0 + FILE_SPAN_US)


class Generator(threading.Thread):
    """Open-loop writer: file ``i`` is due at ``start + i * INTERVAL_S``
    whatever the engine is doing, and ``start`` is ``PHASE_S`` after a
    trigger boundary.  Each file is written beside the watched directory
    and renamed in, so the source never sees a partial file."""

    def __init__(self, seed: int, src: str, staging: str, first_index: int, count: int):
        super().__init__(name="event-generator", daemon=True)
        self.seed, self.src, self.staging = seed, src, staging
        self.first_index, self.count = first_index, count
        self.created: "dict[str, float]" = {}
        self.late: "list[float]" = []
        self.error: "Exception | None" = None

    def write_file(self, index: int) -> str:
        table = _file_events(self.seed, index, EVENTS_PER_FILE, index * EVENTS_PER_FILE)
        name = f"events-{index:05d}.parquet"
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        dest = os.path.join(self.src, name)
        os.rename(tmp, dest)
        self.created[dest] = time.time()
        return dest

    def run(self) -> None:
        time.sleep(TRIGGER_S - time.time() % TRIGGER_S + PHASE_S)
        start = time.perf_counter()
        try:
            for k in range(self.count):
                due = start + k * INTERVAL_S
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self.late.append(max(0.0, time.perf_counter() - due))
                self.write_file(self.first_index + k)
        except Exception as exc:  # re-raised by the workload after join
            self.error = exc


def _file_batches(ckpt: str) -> "dict[str, int]":
    """file path → id of the micro-batch that read it.  The file
    source's log records each file under the source's own log offset
    (plain and compacted entries); the query's offset log records which
    source offset each batch read up to.  No-data batches advance the
    batch id but not the source offset, so the two differ."""
    seen = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    seen[entry["path"].replace("file://", "").replace("file:", "")] = entry["batchId"]
    read_up_to = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        name = os.path.basename(path)
        if not name.isdigit():
            continue
        with open(path) as fh:
            last = fh.read().strip().splitlines()[-1]
        read_up_to.append((int(name), json.loads(last)["logOffset"]))
    read_up_to.sort()
    out = {}
    for f, offset in seen.items():
        out[f] = next((b for b, upto in read_up_to if upto >= offset), None)
    return out


def _start(ctx, src: str, root: str, trigger: dict, tag: str):
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        ClickstreamPipelines,
        read_file_stream,
    )
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.sinks import (
        CompositeSink,
        IdempotentParquetSink,
        MetricsSink,
    )

    tracer = ctx.tracer
    schema = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "events.parquet")).schema
    sinks, timed = {}, {}
    for q, (keys, count_col) in QUERY_KEYS.items():
        timed[q] = TimedSink(tracer, "composite", q, CompositeSink(
            TimedSink(tracer, "idempotent_parquet", q, IdempotentParquetSink(f"{root}/out/{q}")),
            TimedSink(tracer, "metrics", q, MetricsSink(keys[-1], count_col)),
        ))
        sinks[q] = timed[q]
    timed["sessions"] = TimedSink(tracer, "idempotent_parquet", "sessions",
                                  IdempotentParquetSink(f"{root}/out/sessions"))
    sinks["sessions"] = timed["sessions"]
    pipes = ClickstreamPipelines(ctx.spark, f"{root}/ckpt", trigger=trigger)
    with tracer.span(f"start:{tag}", "stream"):
        pipes.start(read_file_stream(ctx.spark, src, schema), sinks)
    return pipes, timed


def _wait_processed(pipes, timed, root: str, files: "list[str]", deadline: float) -> "dict[str, dict[str, int]]":
    """Poll until every query's sink returned for the batch that read
    each file, or the deadline passes.  Returns query → file → batch."""
    while True:
        mapping = {q: _file_batches(f"{root}/ckpt/{q}") for q in timed}
        done = all(
            f in mapping[q] and mapping[q][f] in timed[q].returned
            for q in timed for f in files
        )
        if done or time.perf_counter() > deadline:
            return mapping
        for q in pipes.queries:
            if q.exception() is not None:
                return mapping
        time.sleep(0.1)


def _stop_when_idle(pipes, deadline: float) -> None:
    """Stop the queries between triggers: stopping one mid-batch
    interrupts its sink's write (a no-data batch can still be running
    after the last file's batch returned)."""
    while time.perf_counter() < deadline and any(
        q.status["isTriggerActive"] for q in pipes.queries if q.isActive
    ):
        time.sleep(0.05)
    pipes.stop_all()


def _final_rows(spark, path: str, keys: "list[str]"):
    """The latest row per key across an IdempotentParquetSink's batches."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not glob.glob(f"{path}/batch_id=*"):
        return []
    df = spark.read.parquet(path)
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return [r.asDict() for r in df.withColumn("_r", F.row_number().over(w))
            .filter("_r = 1").drop("_r", "batch_id").collect()]


def _canon(rows: "list[dict]") -> "list[tuple]":
    def cell(v):
        return round(v, 6) if isinstance(v, float) else v
    return sorted((tuple(sorted((k, cell(v)) for k, v in r.items())) for r in rows), key=repr)


def _file_index(path: str) -> int:
    return int(os.path.basename(path).split("-")[1].split(".")[0])


def _check_sinks(ctx, out: Outcome, src_files: "list[str]", root: str, tag: str,
                 mapping: "dict[str, dict[str, int]]", timed: dict) -> None:
    from pyspark.sql import functions as F

    from clickstreaming_end_to_end_data_engineering_project_spark.streaming.pipelines import (
        ClickstreamPipelines,
    )

    spark = ctx.spark
    batch = spark.read.parquet(*src_files)

    def update_mode(q: str) -> bool:
        transform = ClickstreamPipelines._PIPELINES[q][0]
        want = [r.asDict() for r in transform(batch).collect()]
        return _canon(_final_rows(spark, f"{root}/out/{q}", QUERY_KEYS[q][0])) == _canon(want)

    def sessions() -> "tuple[bool, dict]":
        # append mode: a file's sessions are due once a batch before the
        # query's last one read a later file, since the last batch's
        # watermark has then passed their end plus the gap
        transform = ClickstreamPipelines._PIPELINES["sessions"][0]
        origin_s = calendar.timegm(SIM_ORIGIN.timetuple())
        file_of = F.floor((F.unix_timestamp("session_start") - origin_s) / (FILE_GAP_US // 1_000_000))
        want = {}
        for r in transform(batch).withColumn("_file", file_of).collect():
            row = r.asDict()
            index = row.pop("_file")
            want[_canon([row])[0]] = index
        got = _canon([r.asDict() for r in spark.read.parquet(f"{root}/out/sessions").drop("batch_id").collect()]) \
            if glob.glob(f"{root}/out/sessions/batch_id=*") else []
        last = max(timed["sessions"].returned, default=-1)
        later = max((_file_index(f) for f, b in mapping["sessions"].items() if b is not None and b < last),
                    default=-1)
        due = {row for row, index in want.items() if index < later}
        emitted = set(got)
        ok = bool(due) and len(emitted) == len(got) and emitted <= set(want) and due <= emitted
        return ok, {"emitted": len(got), "due": len(due), "batch_run": len(want)}

    # the comparisons are independent Spark jobs: run them side by side
    with ThreadPoolExecutor(max_workers=len(QUERY_KEYS) + 1) as pool:
        updates = {q: pool.submit(update_mode, q) for q in QUERY_KEYS}
        pending_sessions = pool.submit(sessions)
        for q, result in updates.items():
            out.check(f"{tag}:{q}", result.result())
        ok, out.info["sessions"] = pending_sessions.result()
    out.check(f"{tag}:sessions", ok)


def _processing_rate(listener, batches: "set[tuple[str, int]]", deadline: float) -> "tuple[float, int]":
    """Input rows per second of micro-batch execution over ``batches``
    ((query name, batch id) pairs), from the progress events, which the
    listener receives asynchronously.  Returns the rate and how many of
    the batches had an event."""
    while True:
        records = {(r["name"], r["batch"]): r for r in list(listener.records)}
        if all(b in records for b in batches) or time.perf_counter() > deadline:
            break
        time.sleep(0.1)
    seen = [records[b] for b in batches if b in records]
    busy_s = sum(r["duration_ms"].get("triggerExecution", 0) for r in seen) / 1e3
    return (sum(r["rows"] for r in seen) / busy_s if busy_s else 0.0), len(seen)


def run(ctx) -> Outcome:
    out = Outcome()
    tracer, spark = ctx.tracer, ctx.spark
    paced_root = f"{ctx.work_dir}/paced"
    src, staging = f"{paced_root}/src", f"{paced_root}/staging"
    for d in (src, staging):
        os.makedirs(d)
    n_paced = max(int(ctx.seconds / INTERVAL_S), 1)

    listener = make_progress_listener()
    spark.streams.addListener(listener)
    # warm-up: a few files, written before the queries start so that
    # their first (compiling) micro-batch reads them all; untimed
    warm = Generator(ctx.seed, src, staging, 0, WARMUP_FILES)
    t = time.perf_counter()
    with tracer.span("warmup", "session"):
        for k in range(WARMUP_FILES):
            warm.write_file(k)
        pipes, timed = _start(ctx, src, paced_root, {"processingTime": TRIGGER}, "paced")
        _wait_processed(pipes, timed, paced_root, list(warm.created),
                        time.perf_counter() + FINISH_TIMEOUT_S)
    warmup_s = time.perf_counter() - t
    out.e2e["setup_s"] = ctx.setup_done()
    phases = {"warmup": warmup_s}

    # paced phase
    gen = Generator(ctx.seed, src, staging, WARMUP_FILES, n_paced)
    t_paced = time.time()
    t = time.perf_counter()
    gen.start()
    gen.join()
    if gen.error is not None:
        raise gen.error
    mapping = _wait_processed(pipes, timed, paced_root, list(gen.created),
                              time.perf_counter() + FINISH_TIMEOUT_S)
    _stop_when_idle(pipes, time.perf_counter() + FINISH_TIMEOUT_S)
    latencies = []
    for f, created in gen.created.items():
        for q in timed:
            out.attempted += 1
            batch = mapping[q].get(f)
            if batch is None or batch not in timed[q].returned:
                out.failed += 1
                continue
            latencies.append(timed[q].returned[batch] - created)
    paced_batches = {(q, mapping[q][f]) for q in timed for f in gen.created
                     if mapping[q].get(f) is not None}
    rate, rate_batches = _processing_rate(listener, paced_batches, time.perf_counter() + 10)
    out.check("paced:progress_events", rate_batches == len(paced_batches))
    paced_records = [r for r in listener.records if r["name"] in timed and r["start"] >= t_paced]

    spark.streams.removeListener(listener)
    phases["paced"] = time.perf_counter() - t

    # the analyst's closed loop over the history: one round, seeded order
    t = time.perf_counter()
    chosen = analyst.specs()
    order = random.Random(ctx.seed).sample(chosen, len(chosen))
    query_lat = analyst.run_round(ctx, out, order, 1_000_000)
    query_summary = timing_summary(query_lat)
    phases["analyst"] = time.perf_counter() - t

    t = time.perf_counter()
    with tracer.span("check", "bench"):
        _check_sinks(ctx, out, sorted(warm.created) + sorted(gen.created), paced_root, "paced",
                     mapping, timed)
    phases["check"] = time.perf_counter() - t

    summary = timing_summary(latencies)
    out.e2e.update(op_s=summary["p50"], op_tail_s=summary["tail"], work_per_s=rate)
    sink_failures = sum(ts.failures for ts in timed.values())
    out.info.update(
        workload="clickstream_live", samples=summary["n"], tail_percentile=summary["tail_pct"],
        paced_files=n_paced, events_per_file=EVENTS_PER_FILE, interval_s=INTERVAL_S, trigger=TRIGGER,
        paced_started=t_paced, paced_data_batches=len(paced_batches),
        session_start_s=ctx.session_start_s, warmup_s=warmup_s, phases_s=phases,
        gen_late_p99_s=percentile(gen.late, 99), gen_events=n_paced * EVENTS_PER_FILE,
        sink_failures=sink_failures, query_p50_s=query_summary["p50"],
        query_samples=query_summary["n"], queries=[s.name for s in order],
        inputs_digest=digest(_file_events(ctx.seed, WARMUP_FILES, EVENTS_PER_FILE, 0).to_pylist()[:50]),
        op="event latency, file creation to sink return, per query (median)",
        op_tail="event latency, tail percentile",
        work="input rows per second of micro-batch execution, paced data batches of all queries",
    )
    ctx.stream_state = {"paced_records": paced_records, "paced_batches": paced_batches,
                        "query_names": {str(q.id): q.name for q in pipes.queries}}
    return out


def layer_metrics(ctx, out: Outcome) -> None:
    tracer, st, lay = ctx.tracer, ctx.stream_state, out.layer
    jobs = read_event_log(f"{ctx.work_dir}/eventlog")
    out.info["jobs_attributed"] = attribute_jobs(tracer, jobs)
    paced = st["paced_records"]
    with_rows = [r for r in paced if r["rows"] > 0]
    n = max(len(with_rows), 1)

    def mean_ms(key: str) -> float:
        return sum(r["duration_ms"].get(key, 0) for r in with_rows) / n / 1e3

    analyst.plan_metrics(tracer, lay)
    lay["session.start_s"] = ctx.session_start_s
    lay["session.warmup_s"] = out.info["warmup_s"]
    lay["stream.batches"] = len(with_rows)
    lay["stream.trigger_s"] = mean_ms("triggerExecution")
    lay["stream.add_batch_s"] = mean_ms("addBatch")
    lay["stream.query_planning_s"] = mean_ms("queryPlanning")
    lay["stream.wal_commit_s"] = mean_ms("walCommit")
    lay["stream.commit_offsets_s"] = mean_ms("commitOffsets")
    lay["stream.latest_offset_s"] = mean_ms("latestOffset")
    lay["stream.state_rows"] = max((r["state_rows"] for r in paced), default=0)
    lay["stream.state_memory_bytes"] = max((r["state_memory_bytes"] for r in paced), default=0)
    lay["stream.state_commit_s"] = sum(r["state_commit_ms"] for r in with_rows) / n / 1e3
    lay["stream.rows_dropped_by_watermark"] = sum(r["dropped_by_watermark"] for r in paced)
    # per-batch counts cover the data batches that read paced files:
    # whether a no-data batch runs before the queries stop depends on
    # timing, so counting those would not repeat between runs
    paced_batches, names = st["paced_batches"], st["query_names"]
    per_batch = defaultdict(int)
    stream_jobs = []
    for job in jobs:
        props = job["props"]
        if "streaming.sql.batchId" not in props:
            continue
        key = (names.get(props.get("sql.streaming.queryId")), int(props["streaming.sql.batchId"]))
        if key in paced_batches:
            per_batch[key] += 1
            stream_jobs.append(job)
    lay["stream.jobs_per_batch"] = sum(per_batch.values()) / max(len(per_batch), 1)

    sink_spans = [s for s in tracer.spans if s.layer == "sinks"]
    for label in ("idempotent_parquet", "metrics", "composite"):
        spans = [s for s in sink_spans if s.attrs.get("sink") == label]
        lay[f"sinks.call_s.{label}"] = sum(s.duration for s in spans) / max(len(spans), 1)
    outer = [s for s in sink_spans if s.parent is None
             and (s.attrs.get("query"), s.attrs.get("batch")) in paced_batches]
    lay["sinks.jobs_per_call"] = sum(
        sum(x.counts.get("jobs", 0) for x in tracer.spans if x is s or x.parent == s.sid)
        for s in outer) / max(len(outer), 1)
    lay["sinks.bytes_written"] = sum(s.counts.get("output_bytes", 0) for s in sink_spans)
    lay["sinks.failures"] = out.info["sink_failures"]
    nb = max(len(per_batch), 1)
    lay["spark.executor_run_s"] = sum(j["run_s"] for j in stream_jobs) / nb
    lay["spark.executor_cpu_s"] = sum(j["cpu_s"] for j in stream_jobs) / nb
    lay["spark.gc_s"] = sum(j["gc_s"] for j in stream_jobs) / nb
    lay["spark.scheduler_delay_s"] = sum(j["scheduler_delay_s"] for j in stream_jobs) / nb
    lay["gen.late_p99_s"] = out.info["gen_late_p99_s"]
    lay["gen.events"] = out.info["gen_events"]
    add_self_times(tracer, lay, nb)
