#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end
metric's median and quartile spread, or run one seed traced twice and
list the per-layer counts that did not repeat, with the traced runs'
end-to-end numbers (set them against an untraced set's medians for the
tracing overhead).

    python3 perfbench/stability.py --workload corpus_daily --seeds 1-10 --seconds 12
    python3 perfbench/stability.py --workload corpus_daily --seeds 3 --traced-twice

Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> "list[int]":
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> "tuple[dict, dict, float]":
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"seed {seed} failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench_meta"], wall


def spread(values: "list[float]") -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--traced-twice", action="store_true")
    args = p.parse_args()
    seeds = _seeds(args.seeds)
    if args.traced_twice:
        a, _, _ = run_once(args.workload, seeds[0], args.seconds, 1)
        b, _, _ = run_once(args.workload, seeds[0], args.seconds, 1)
        counts = [n for n, m in a["metrics"].items() if m["unit"] == "count"]
        unstable = [(n, a["metrics"][n]["value"], b["metrics"][n]["value"]) for n in counts
                    if a["metrics"][n]["value"] != b["metrics"][n]["value"]]
        traced = {n: [a["metrics"][n]["value"], b["metrics"][n]["value"]]
                  for n in a["metrics"] if n.startswith("traced.")}
        print(json.dumps({"workload": args.workload, "seed": seeds[0],
                          "stable_counts": [n for n in counts if n not in {u[0] for u in unstable}],
                          "unstable_counts": unstable, "traced_end_to_end": traced}))
        return 0
    rows, walls = [], []
    for seed in seeds:
        res, meta, wall = run_once(args.workload, seed, args.seconds, 0)
        rows.append(res)
        walls.append(wall)
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                          "failed": res["failed"], "checks_failed": meta.get("checks_failed"),
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
    summary = {"workload": args.workload, "runs": len(rows), "wall_s_median": statistics.median(walls)}
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        summary[name] = {"median": statistics.median(vals),
                         "spread": spread(vals) if len(vals) >= 2 else None}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
