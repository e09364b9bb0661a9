"""Measurement helpers: percentiles, spans, prefix self times, the
Spark status REST API, streaming progress and the host canary.

Only the Spark runtime's own reports and the benchmark's clock are
used, so no package code has to change to be measured.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1] (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    frac = pos - lo
    if frac == 0:
        return xs[lo]
    return xs[lo] * (1 - frac) + xs[lo + 1] * frac


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def prefix_self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative prefixes of a lazy pipeline, each materialized on its
    own: a stage's self time is its prefix minus the one before."""
    out, prev = {}, 0.0
    for name, secs in prefixes:
        out[name] = secs - prev
        prev = secs
    return out


class Tracer:
    """In-memory spans: name, start, end, parent and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _epoch(stamp: str) -> float:
    """REST time stamp ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


STAGE_SUMS = {
    # REST stage field -> (metric, scale to seconds or 1)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteTime": ("shuffle_write_s", 1e-9),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("task_failures", 1),
}


class SparkRest:
    """Spark's status REST API on the driver's UI port (loopback)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.load(r)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self.get("jobs")}

    def settle(self, timeout_s: float = 5.0) -> None:
        """Wait until the status store has no running job."""
        end = time.time() + timeout_s
        while time.time() < end:
            if not any(j["status"] == "RUNNING" for j in self.get("jobs")):
                return
            time.sleep(0.05)

    def op_metrics(self, known_jobs: set[int], t0: float, t1: float) -> dict:
        """Runtime totals of the jobs submitted since known_jobs."""
        self.settle()
        jobs = [j for j in self.get("jobs") if j["jobId"] not in known_jobs]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("stages") if s["stageId"] in stage_ids]
        ran = [s for s in stages if s.get("submissionTime") and s.get("completionTime")]
        out = {name: 0.0 for name, _ in STAGE_SUMS.values()}
        for s in ran:
            for field, (name, scale) in STAGE_SUMS.items():
                out[name] += s.get(field, 0) * scale
        out["jobs"] = len(jobs)
        out["stages"] = len(ran)
        busy = covered(
            [(_epoch(s["submissionTime"]), _epoch(s["completionTime"])) for s in ran],
            t0,
            t1,
        )
        out["driver_s"] = (t1 - t0) - busy
        return out

    def cached_bytes(self) -> int:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("storage/rdd"))


def progress_listener():
    """A StreamingQueryListener that keeps every progress report and
    the run ids of terminated queries. A query restarted on the same
    checkpoint keeps its id, so one start is told apart by runId."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "run": str(p.runId),
                "batch": p.batchId,
                "durationMs": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated.append(str(event.runId))

        def wait_terminated(self, count: int, timeout_s: float = 10.0) -> None:
            end = time.time() + timeout_s
            while time.time() < end:
                with self.lock:
                    if len(self.terminated) >= count:
                        return
                time.sleep(0.02)

        def for_runs(self, runs: list[str]) -> list[dict]:
            with self.lock:
                return [p for p in self.progress if p["run"] in runs]

    return ProgressLog()


def canary_s() -> float:
    """Fixed seeded numpy matmul: identifies a throttled pass."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((320, 320))
    t0 = time.perf_counter()
    for _ in range(40):
        a = a @ a
        a /= np.abs(a).max()
    return time.perf_counter() - t0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: str) -> int:
    import os

    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(d, f)).st_size
    return total
