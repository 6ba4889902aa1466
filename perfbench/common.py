"""Helpers shared by the workloads: percentiles, the peak-RSS sampler,
run metadata, and the per-run result record."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

_BYTES_PER_MB = 1024 * 1024


def median(values: "list[float]") -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int) -> float:
    """The highest percentile (capped at 95) with at least ten samples
    beyond it; 50 when fewer than twenty samples support anything
    higher."""
    if n <= 0:
        return 50.0
    return max(50.0, min(95.0, math.floor(100.0 * (1.0 - 10.0 / n))))


def percentile(values: "list[float]", pct: float) -> float:
    """Linear-interpolated percentile of ``values``."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timing_summary(values: "list[float]") -> "dict[str, float]":
    """Median plus the highest supported tail percentile, with the
    sample count and which percentile the tail is."""
    pct = tail_percentile(len(values))
    return {
        "p50": median(values),
        "tail": percentile(values, pct),
        "tail_pct": pct,
        "n": len(values),
    }


def digest(*parts) -> str:
    """Short stable hash of the seed-dependent inputs, so two runs can
    show whether they saw the same inputs."""
    h = hashlib.sha256()
    for part in parts:
        h.update(part if isinstance(part, bytes) else repr(part).encode())
    return h.hexdigest()[:16]


def source_digest(package_dir: str) -> str:
    """Short hash of every ``.py`` file under ``package_dir`` (paths and
    contents): the identity of the engine code a cached artefact was
    built with."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(package_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, package_dir).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _children(pid: int) -> "list[int]":
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants: the
    Python driver, the JVM it launched, and the JVM's Python workers."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_bytes(pid)
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's resident set every ``interval`` seconds
    on a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / _BYTES_PER_MB


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_metadata(root: str, seed: int, cpus: int, java: str, engine: str) -> "dict[str, object]":
    import pyspark

    return {
        "seed": seed,
        "git_commit": _git_commit(root),
        "engine_digest": engine,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "local_cores": cpus,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


@dataclass
class Outcome:
    """What one workload run measured.  ``e2e`` holds the end-to-end
    metrics; ``layer`` the per-layer ones (filled only when tracing);
    ``info`` is free-form metadata printed beside the result."""

    attempted: int = 0
    failed: int = 0
    checks: "dict[str, bool]" = field(default_factory=dict)
    e2e: "dict[str, float]" = field(default_factory=dict)
    layer: "dict[str, float]" = field(default_factory=dict)
    info: "dict[str, object]" = field(default_factory=dict)

    def check(self, name: str, ok: bool) -> None:
        """Record one correctness check; a failed check is a failed
        operation."""
        self.checks[name] = bool(ok)
        self.attempted += 1
        if not ok:
            self.failed += 1


class Clock:
    """Wall-clock deadline for a run's measured phase."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.deadline = self.start + seconds

    def expired(self) -> bool:
        return time.perf_counter() >= self.deadline

    def elapsed(self) -> float:
        return time.perf_counter() - self.start
