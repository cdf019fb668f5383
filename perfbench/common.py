"""Shared helpers for the benchmark: the percentile rule, latency
summaries, the host canary and the paths and environment the engine
process runs with."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
# everything a run writes goes under this directory of the checkout
WORK_DIR = REPO_ROOT / ".perfbench_work"
SPEC_FILE = REPO_ROOT / "BENCHMARK.json"

# percentiles tried for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_MIN_BEYOND samples
    beyond it (nearest rank), or None when n is too small for any."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values) -> tuple[float, str]:
    """(value, label) of the tail: the highest ladder percentile with at
    least ten samples beyond it; with too few samples for any, the
    maximum, labelled "max"."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p:g}"


def summarize(values) -> dict:
    """Median, tail (with its label) and sample count of a latency list."""
    if not values:
        return {"n": 0}
    t, label = tail(values)
    return {"n": len(values), "p50": statistics.median(values),
            "tail": t, "tail_pct": label}


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the `kind` ("end_to_end" or "per_layer") metrics
    declared in BENCHMARK.json, in declaration order."""
    spec = json.loads(SPEC_FILE.read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def median_or_zero(values) -> float:
    return statistics.median(values) if values else 0.0


def canary() -> dict:
    """Host-health probe taken with every run: first-touch memset of
    100 MB (page-fault rate, the co-tenant interference channel) and a
    warm in-cache sgemm (CPU sanity), the same probe bench.py records."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.empty(100_000_000, np.uint8)
    a.fill(1)
    memset_ms = (time.perf_counter() - t0) * 1000
    del a
    x = np.ones((20000, 200), np.float32)
    qm = np.ones((200, 8), np.float32)
    x @ qm
    t0 = time.perf_counter()
    for _ in range(10):
        x @ qm
    gemm_ms = (time.perf_counter() - t0) * 100
    return {"memset_100mb_ms": round(memset_ms, 2),
            "warm_gemm_ms": round(gemm_ms, 3)}


def host_cpus() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def engine_env(work: Path) -> dict:
    """Environment of the engine process: Spark sized to this host, the
    repo root importable by Spark's Python workers, and every temporary
    file (Spark local dirs, Python and JVM temp files) inside `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "NEEDLE_SPARK_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(REPO_ROOT), env.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env
