#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload clickstream_live --seed 1 --seconds 12 --trace 0

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (plus the same workload measured with tracing on, so the tracing
overhead can be read against an untraced run).  The line before it
holds the run's metadata.  See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "clickstreaming_end_to_end_data_engineering_project_spark"

WORKLOADS = {
    "clickstream_live": "workload_clickstream",
    "corpus_daily": "workload_corpus",
}

# (name, unit) — every workload reports every one of these; the
# per-workload meaning of the op_* and work_per_s metrics is in
# README.md (op_s is a median on clickstream_live, a mean on
# corpus_daily)
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_s", "s"),
    ("op_tail_s", "s"),
    ("work_per_s", "1/s"),
]

LAYOUTS = ("bm25", "lsh", "ivf", "pq", "ivfpq")
SINKS = ("idempotent_parquet", "metrics", "composite")
SELF_LAYERS = ("bench", "session", "sources", "plans", "dedup", "index",
               "maintenance", "stream", "sinks")

PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"),
     ("sources.input_bytes", "bytes"), ("sources.input_rows", "count"),
     ("plans.build_s", "s"), ("plans.jobs", "count"), ("plans.stages", "count"),
     ("plans.tasks", "count"), ("plans.scheduler_delay_s", "s"),
     ("plans.shuffle_bytes", "bytes"), ("plans.executor_cpu_s", "s"),
     ("plans.spill_bytes", "bytes"),
     ("dedup.new_pairs_s", "s"), ("dedup.self_pairs_s", "s"), ("dedup.jobs", "count"),
     ("dedup.shuffle_bytes", "bytes"), ("dedup.pairs_out", "count")]
    + [(f"index.append_s.{k}", "s") for k in LAYOUTS]
    + [("index.jobs_per_append", "count"), ("index.write_amp", "ratio")]
    + [(f"index.probe_s.{k}", "s") for k in LAYOUTS]
    + [("index.jobs_per_probe", "count")]
    + [(f"index.segments.{k}", "count") for k in LAYOUTS]
    + [(f"index.recall_at_10.{k}", "ratio") for k in LAYOUTS + ("ivf_filtered",)]
    + [("maintenance.compact_s", "s"), ("maintenance.compactions", "count"),
       ("maintenance.forget_s", "s"), ("maintenance.forget_bytes_rewritten", "bytes"),
       ("stream.batches", "count"), ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
       ("stream.query_planning_s", "s"), ("stream.wal_commit_s", "s"),
       ("stream.commit_offsets_s", "s"), ("stream.latest_offset_s", "s"),
       ("stream.jobs_per_batch", "count"), ("stream.state_rows", "count"),
       ("stream.state_memory_bytes", "bytes"), ("stream.state_commit_s", "s"),
       ("stream.rows_dropped_by_watermark", "count")]
    + [(f"sinks.call_s.{k}", "s") for k in SINKS]
    + [("sinks.jobs_per_call", "count"), ("sinks.bytes_written", "bytes"),
       ("sinks.failures", "count"),
       ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
       ("spark.scheduler_delay_s", "s"),
       ("gen.late_p99_s", "s"), ("gen.events", "count")]
    + [(f"self_s.{k}", "s") for k in SELF_LAYERS]
    + [("traced.op_s", "s"), ("traced.op_tail_s", "s"), ("traced.work_per_s", "1/s")]
)


@dataclass
class Context:
    """What a workload gets: the session, the tracer, its inputs and
    its time budget.  ``excluded_s`` accumulates the benchmark's own
    work done during set-up (oracle queries, input staging), which
    ``setup_s`` leaves out."""

    spark: object
    tracer: object
    seed: int
    seconds: float
    sf: float
    data_dir: str
    work_dir: str
    session_start_s: float
    cache_root: str
    engine_digest: str
    excluded_s: float = 0.0

    def setup_done(self) -> float:
        """Seconds from process start to now, minus excluded work."""
        return time.perf_counter() - PROCESS_START - self.excluded_s


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="scale factor of the generated tables (the self-test uses a tiny one)")
    return p.parse_args(argv)


def _configure_env(run_dir: str, trace: bool) -> int:
    """Keep every file Spark and Python write inside ``run_dir`` and pin
    the engine to local[nproc].  Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # a small heap fills to its cap in every run, which keeps the peak
    # resident set from depending on when the collector chose to grow it
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = f"file://{log_dir}"
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}" for k, v in confs.items())
        + " pyspark-shell"
    )
    return int(os.environ["SPARK_GRAFT_CPUS"])


def _stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _result_line(outcome, trace: bool) -> dict:
    names = PER_LAYER if trace else END_TO_END
    source = outcome.layer if trace else outcome.e2e
    metrics = {}
    for name, unit in names:
        value = source.get(name, 0.0)
        metrics[name] = {"value": float(value), "unit": unit}
    return {
        "correct": outcome.failed == 0 and all(outcome.checks.values()),
        "attempted": max(int(outcome.attempted), 1),
        "failed": int(outcome.failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        importlib.import_module(ENGINE)
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import common
    import datagen

    work_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = _configure_env(run_dir, bool(args.trace))
    t = time.perf_counter()
    data_dir = datagen.ensure_tables(os.path.join(work_root, "data"), args.sf)
    gen_s = time.perf_counter() - t
    engine_digest = common.source_digest(os.path.join(ROOT, ENGINE))
    module = importlib.import_module(WORKLOADS[args.workload])
    load_start = list(os.getloadavg())
    try:
        with common.RssSampler() as rss:
            from spans import Tracer

            session = importlib.import_module(f"{ENGINE}.session")
            t = time.perf_counter()
            spark = session.get_spark(f"perfbench-{args.workload}", cpus=str(cpus))
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Context(
                spark=spark, tracer=Tracer(spark, bool(args.trace)), seed=args.seed,
                seconds=args.seconds, sf=args.sf, data_dir=data_dir, work_dir=run_dir,
                session_start_s=time.perf_counter() - t,
                cache_root=work_root, engine_digest=engine_digest, excluded_s=gen_s,
            )
            java = spark.sparkContext._jvm.System.getProperty("java.version")
            try:
                outcome = module.run(ctx)
            finally:
                spark.stop()
                _stop_jvm()
        outcome.e2e["peak_rss_mb"] = rss.peak_mb
        if args.trace:
            spans_file = os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl")
            try:
                module.layer_metrics(ctx, outcome)
            finally:
                ctx.tracer.dump(spans_file)
            outcome.info["spans_file"] = spans_file
            for name, _ in END_TO_END[2:]:
                outcome.layer[f"traced.{name}"] = outcome.e2e.get(name, 0.0)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    meta = common.run_metadata(ROOT, args.seed, cpus, java, engine_digest)
    meta["load_avg_start"] = load_start
    meta["load_avg_end"] = list(os.getloadavg())
    meta["data_gen_s"] = gen_s
    meta.update(outcome.info)
    meta["checks_failed"] = sorted(k for k, ok in outcome.checks.items() if not ok)
    print(json.dumps({"perfbench_meta": meta}, default=str))
    print(json.dumps(_result_line(outcome, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
