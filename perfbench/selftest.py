#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

For every workload: an untraced run on two seeds and a traced run on
one, each at a tiny scale factor for one second.  Checks that

- the last stdout line has exactly the keys correct/attempted/failed/
  metrics, and every end-to-end (untraced) or per-layer (traced) metric
  is printed by name with its unit;
- the run's correctness checks passed;
- changing the seed changes the workload's inputs (their digest) but
  not the set of metric names;
- the traced run attributed Spark jobs to the layers the workload
  exercises.

It also checks that the benchmark fails without printing a result when
only ``BENCHMARK.json`` and ``perfbench/`` are present (no engine).
Takes a few minutes; exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

TINY_SF = "0.02"
# traced metrics that must be non-zero on each workload: proof that the
# layer's spans were opened and its Spark jobs attributed to them
MUST_MOVE = {
    "clickstream_live": ["stream.batches", "stream.jobs_per_batch", "sinks.jobs_per_call",
                         "sinks.call_s.composite", "gen.events", "plans.jobs", "plans.tasks",
                         "sources.input_rows", "plans.build_s"],
    "corpus_daily": ["dedup.jobs", "dedup.new_pairs_s", "index.jobs_per_append",
                     "index.jobs_per_probe", "maintenance.forget_s"],
}


def _run(args: "list[str]", cwd: str = ROOT) -> "tuple[int, list[str], str]":
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines(), proc.stderr


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def _result(workload: str, seed: int, trace: int) -> "tuple[dict, dict]":
    code, lines, err = _run(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                             "--trace", str(trace), "--sf", TINY_SF])
    _check(code == 0 and len(lines) >= 2, f"{workload} seed={seed} trace={trace} exits 0"
           + ("" if code == 0 else f"\n{err[-2000:]}"))
    result, meta = json.loads(lines[-1]), json.loads(lines[-2])["perfbench_meta"]
    _check(set(result) == {"correct", "attempted", "failed", "metrics"}, "result keys")
    want = dict(PER_LAYER if trace else END_TO_END)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    _check(got == want, f"{len(want)} metrics printed with their units")
    _check(all(isinstance(v["value"], float) for v in result["metrics"].values()), "values are numbers")
    _check(result["correct"] and result["failed"] == 0,
           f"correctness checks pass (failed: {meta.get('checks_failed')})")
    return result, meta


def main() -> int:
    for workload in WORKLOADS:
        a, meta_a = _result(workload, 1, 0)
        b, meta_b = _result(workload, 2, 0)
        _check(meta_a["inputs_digest"] != meta_b["inputs_digest"], f"{workload}: seed changes the inputs")
        _check(set(a["metrics"]) == set(b["metrics"]), f"{workload}: seed keeps the metric names")
        traced, _ = _result(workload, 1, 1)
        zero = [m for m in MUST_MOVE[workload] if not traced["metrics"][m]["value"] > 0]
        _check(not zero, f"{workload}: traced layers recorded ({', '.join(zero) or 'all non-zero'})")

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, lines, _ = _run(["--workload", "corpus_daily", "--seed", "1", "--seconds", "1",
                               "--trace", "0"], cwd=bare)
        _check(code != 0 and not any(line.startswith("{") for line in lines),
               "without the engine: non-zero exit, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
