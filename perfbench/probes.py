"""Read-only probes from outside the engine: Spark's per-micro-batch
progress, the host's /proc counters, and order statistics."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Keeps every StreamingQueryProgress (as its JSON dict) by run id.

    Listener events arrive asynchronously on Spark's listener bus, in
    order; once a run's terminated event is in, all its progress is."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def runs_since(self, mark: int, timeout: float = 60.0) -> list[str]:
        """Run ids started since `mark`, once each has terminated."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                runs = self.started[mark:]
                if all(r in self.terminated for r in runs):
                    return runs
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no terminated event for {runs}")
                self._cv.wait(left)

    def batches(self, runs: list[str]) -> list[dict]:
        with self._cv:
            return [p for r in runs for p in self.progress.get(r, [])]


def steal_cs() -> int:
    """Host steal time over all cpus (centiseconds), /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def io_stall_us() -> int:
    """Cumulative time all tasks stalled on IO (us), /proc/pressure/io."""
    try:
        with open("/proc/pressure/io") as f:
            for line in f:
                if line.startswith("full"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return 0


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            pp = _ppid(int(d))
            if pp is not None:
                children.setdefault(pp, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, [])
        out.extend(kids)
        todo.extend(kids)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus every process under it (the Python
    worker daemon and its workers)."""
    kb = vm_hwm_kb(jvm_pid) + sum(vm_hwm_kb(p) for p in descendants(jvm_pid))
    return kb / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)])
