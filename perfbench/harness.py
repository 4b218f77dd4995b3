"""Helpers shared by the workloads: statistics, correctness tallies,
memory and storage probes, and the Spark session's lifetime."""

from __future__ import annotations

import os
import subprocess
import time

RECALL_FLOOR = 0.70  # test/sql/diskann_streaming.test:40-50 of the reference
ALLOWED_ENV = ("SPARK_GRAFT_CPUS",)


def forbidden_env(environ) -> list[str]:
    """`SPARK_GRAFT_*` variables that would steer a measurement. Only the
    core count may be set; every other knob must stay at its default."""
    return sorted(k for k in environ
                  if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_ENV)


# -- statistics ------------------------------------------------------

def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, min_beyond: int = 10,
                    candidates=(0.99, 0.9, 0.75, 0.5)):
    """The highest percentile in `candidates` with at least `min_beyond`
    samples strictly above it → (q, value), or None when even the
    lowest candidate has too few samples beyond it."""
    for q in candidates:
        v = quantile(values, q)
        if sum(1 for x in values if x > v) >= min_beyond:
            return q, v
    return None


def recall_at_k(got: dict, truth: list, k: int) -> float:
    """Mean recall@k over queries 0..len(truth)-1. `got` maps a query
    index to the ids returned for it; `truth[i]` is the set of ids an
    exact top-k may hold for query i (it can exceed k when rows tie at
    the k-th place). Each query scores min(k, |hits|) / k."""
    if not truth:
        raise ValueError("recall over no queries")
    total = 0
    for i, allowed in enumerate(truth):
        total += min(k, len(set(got.get(i, ())) & allowed))
    return total / (k * len(truth))


def topk_shape_error(got: dict, n_queries: int, k: int,
                     exact: bool) -> str | None:
    """Why a top-k result is malformed, or None. `got` maps a query index
    to the ids returned for it. Every query must be answered, by distinct
    ids, with exactly `k` of them, or, when not `exact`, with 1 to `k`:
    a partial-probe IVF scan may legitimately return fewer than k rows
    for a query whose probed cells hold fewer than k."""
    if sorted(got) != list(range(n_queries)):
        return f"answered {len(got)} of {n_queries} queries"
    for q, ids in got.items():
        if len(set(ids)) != len(ids):
            return f"query {q} repeats an id"
        if len(ids) > k or (exact and len(ids) < k):
            return f"query {q} got {len(ids)} rows, want {k}"
    return None


class Tally:
    """Operations attempted and failed. A failed operation raised, or
    returned a wrong row count or schema, or held recall below the
    floor; one operation counts at most once however many of its checks
    fail."""

    def __init__(self):
        self.attempted = 0
        self._failed: set[int] = set()
        self.notes: list[str] = []

    def begin(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, what: str) -> None:
        self._failed.add(op)
        if len(self.notes) < 20:
            self.notes.append(what)

    def check(self, op: int, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(op, what)
        return ok

    @property
    def failed(self) -> int:
        return len(self._failed)


# -- memory and storage ----------------------------------------------

def reset_peak_rss() -> bool:
    """Reset this process's resident-set high-water mark (Linux
    /proc/self/clear_refs), so the peak read later covers only what
    runs after this call. False where the kernel does not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


# -- the Spark session -----------------------------------------------

def start_session(cpus: int):
    """→ (spark, seconds to start it) through the package's own session
    factory, with its defaults."""
    t0 = time.perf_counter()
    from duckdb_ann_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit. The JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
