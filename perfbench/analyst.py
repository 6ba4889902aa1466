"""The batch analyst's path, run as the analyst phase of
``clickstream_live``.

One client runs registry queries at the benchmark's scale factor from
the clickstream, funnel and TPC-H families.  None of them calls into
``operators.dedup``, ``operators.similarity`` or
``operators.retrieval``.  Each query runs once, collecting its rows
(which evaluates every output column), and the rows are compared with
the query's DuckDB oracle over the same parquet files.  There is no
separate warm-up pass: the phase runs after the stream, in a warm JVM.
"""

from __future__ import annotations

import time

from oracle import OracleDB, same_rows

QUERIES = [
    "page_view_counts",  # clickstream windows
    "conversion_funnel",  # funnel
    "q3_shipping_priority",  # TPC-H
]


def specs() -> list:
    from clickstreaming_end_to_end_data_engineering_project_spark.plans.registry import all_specs

    by_name = all_specs()
    return [by_name[n] for n in QUERIES]


def run_round(ctx, out, order: list, first_op: int) -> "list[float]":
    """Run each query of ``order`` once, collecting its rows, and check
    them against the query's oracle (not part of the latency); returns
    the latencies."""
    latencies = []
    oracle = OracleDB(ctx.data_dir, f"{ctx.cache_root}/oracle")
    for i, spec in enumerate(order):
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"query:{spec.name}", "plans", op=first_op + i, query=spec.name):
                with ctx.tracer.span(f"build:{spec.name}", "plans", build=True):
                    df = spec.fn(ctx.spark, ctx.data_dir)
                got = df.toPandas()
        except Exception as exc:  # one failed query must not end the run
            out.failed += 1
            out.info.setdefault("query_errors", []).append(f"{spec.name}: {exc!r}"[:300])
            continue
        latencies.append(time.perf_counter() - t0)
        with ctx.tracer.span("oracle", "bench"):
            ok, detail = same_rows(got, oracle.query(spec.oracle))
        out.check(f"oracle:{spec.name}", ok)
        if not ok:
            out.info.setdefault("oracle_mismatch", {})[spec.name] = detail
    oracle.close()
    return latencies


def plan_metrics(tracer, lay: dict) -> None:
    """Per-query means of the event-log figures of the timed queries
    (jobs must already be attributed)."""
    queries = [s for s in tracer.spans if s.name.startswith("query:")]
    builds = [s for s in tracer.spans if s.name.startswith("build:") and s.attrs.get("build")]
    n = max(len(queries), 1)

    def per_query(key: str) -> float:
        return sum(s.counts.get(key, 0.0) + _child_counts(tracer, s, key) for s in queries) / n

    lay["sources.input_bytes"] = per_query("input_bytes")
    lay["sources.input_rows"] = per_query("input_rows")
    lay["plans.build_s"] = sum(s.duration for s in builds) / max(len(builds), 1)
    lay["plans.jobs"] = per_query("jobs")
    lay["plans.stages"] = per_query("stages")
    lay["plans.tasks"] = per_query("tasks")
    lay["plans.scheduler_delay_s"] = per_query("scheduler_delay_s")
    lay["plans.shuffle_bytes"] = per_query("shuffle_write_bytes")
    lay["plans.executor_cpu_s"] = per_query("cpu_s")
    lay["plans.spill_bytes"] = per_query("spill_bytes")


def _child_counts(tracer, span, key: str) -> float:
    return sum(s.counts.get(key, 0.0) for s in tracer.spans if s.parent == span.sid)
