"""Drives the engine through its public entry points only.

* `Engine` starts and stops sessions with `session.get_spark` and owns
  the progress listener and the driver JVM's lifetime.
* `drain` runs one `cli.main([... "--stream" ...], spark=...)` export,
  drained with availableNow, and reads what happened from outside:
  Spark's progress, the checkpoint's file-source log (which file went
  into which micro-batch) and the sink's `_commits/*.json` manifests.
* `live` runs an open loop: a generator thread lands one time-slice
  file per interval into the directory a `start_fanout` query watches
  under a processingTime trigger.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from probes import ProgressListener, descendants
from spans import Tracer

SESSION_GAP = "30 minutes"
FILES_PER_TRIGGER = 4
# processingTime triggers fire on wall-clock multiples of this interval
# (streaming.pipeline's live trigger); the open loop starts at a fixed
# phase of that grid so runs see the same schedule.
TRIGGER_S = 2.0
TRIGGER_PHASE_S = 0.1


def base_name(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]


def commit_manifests(sink_root: str) -> dict[int, dict]:
    d = os.path.join(sink_root, "_commits")
    out = {}
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                m = json.load(fh)
            out[m["epoch_id"]] = m
    return out


def source_log(ckpt_query_dir: str) -> dict[str, int]:
    """file basename -> micro-batch id, from the checkpoint's file
    source log (`sources/0/<batch>` and its `.compact` files)."""
    d = os.path.join(ckpt_query_dir, "sources", "0")
    out: dict[str, int] = {}
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[base_name(e["path"])] = int(e["batchId"])
    return out


@dataclass
class Result:
    """One drain or one live run."""

    tag: str
    sink: str
    run_id: str = ""
    wall_s: float = 0.0
    rows: int = 0
    batches: list[dict] = field(default_factory=list)
    latencies_ms: list[float] = field(default_factory=list)
    files_per_batch: list[int] = field(default_factory=list)
    lag_files_max: int = 0
    error: str | None = None
    ok: bool = True
    late_ms: list[float] = field(default_factory=list)
    rows_per_s: float = 0.0
    offered_rows_per_s: float = 0.0

    @property
    def attempted(self) -> int:
        return len(self.batches) + (1 if self.error else 0)


class Engine:
    def __init__(self, work: str, tracer: Tracer, extra_conf: dict):
        self.work = work
        self.tracer = tracer
        self.extra_conf = extra_conf
        self.spark = None
        self.listener: ProgressListener | None = None
        self.jvm_pid: int | None = None
        self._n = 0

    # -- lifecycle ------------------------------------------------------

    def start(self, master: str) -> None:
        from stellar_etl_spark.config import EngineConfig
        from stellar_etl_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                EngineConfig(master=master, extra_conf=self.extra_conf),
                app_name="perfbench",
            )
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.streams.removeListener(self.listener)
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait for the JVM and
        every process under it to end."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        kids = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except Exception:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def _dirs(self, tag: str) -> tuple[str, str]:
        self._n += 1
        self.tracer.run_id = f"{self._n:03d}-{tag}"
        d = os.path.join(self.work, self.tracer.run_id)
        return os.path.join(d, "sink"), os.path.join(d, "ckpt")

    # -- closed loop: one availableNow drain through the CLI ------------

    def drain(self, table: str, inp: str, tag: str) -> Result:
        from stellar_etl_spark import cli

        sink, ckpt = self._dirs(tag)
        res = Result(tag=tag, sink=sink, run_id=self.tracer.run_id)
        mark = self.listener.mark()
        t_due = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("cli.main", root=True):
                cli.main(
                    [
                        f"export-{table}", "--stream",
                        "--input", inp, "--out", sink, "--checkpoint", ckpt,
                        "--session-gap", SESSION_GAP,
                        "--files-per-trigger", str(FILES_PER_TRIGGER),
                    ],
                    spark=self.spark,
                )
        except Exception as e:  # a failed query: counted, not fatal
            res.error = repr(e)[:500]
        res.wall_s = time.perf_counter() - t0
        res.batches = self.listener.batches(self.listener.runs_since(mark))
        res.rows = sum(b["numInputRows"] for b in res.batches)
        res.rows_per_s = res.rows / res.wall_s
        by_file = source_log(os.path.join(ckpt, table))
        commits = commit_manifests(sink)
        # every file of a drain is due when the drain starts
        res.latencies_ms = [
            (commits[b]["committed_at"] - t_due) * 1000.0
            for b in by_file.values() if b in commits
        ]
        per_batch: dict[int, int] = {}
        for b in by_file.values():
            per_batch[b] = per_batch.get(b, 0) + 1
        res.files_per_batch = list(per_batch.values())
        res.lag_files_max = len(by_file)
        return res

    # -- warm-up / availableNow fan-out ---------------------------------

    def fanout_drain(self, inp: str, tag: str) -> Result:
        from stellar_etl_spark.streaming.pipeline import start_fanout
        from stellar_etl_spark.streaming.source import read_transcript_stream

        sink, ckpt = self._dirs(tag)
        res = Result(tag=tag, sink=sink, run_id=self.tracer.run_id)
        mark = self.listener.mark()
        t0 = time.perf_counter()
        try:
            q = start_fanout(
                read_transcript_stream(self.spark, inp,
                                       max_files_per_trigger=FILES_PER_TRIGGER),
                sink, ckpt, live_transforms(), available_now=True,
                query_name="turns_drain",
            )
            q.awaitTermination()
        except Exception as e:
            res.error = repr(e)[:500]
        res.wall_s = time.perf_counter() - t0
        res.batches = self.listener.batches(self.listener.runs_since(mark))
        res.rows = sum(b["numInputRows"] for b in res.batches)
        return res

    # -- open loop: files land on a schedule ----------------------------

    def live(self, files: list[str], rows_per_file: list[int], interval_s: float,
             tag: str, tail_timeout_s: float = 60.0) -> Result:
        from stellar_etl_spark.streaming.pipeline import start_fanout
        from stellar_etl_spark.streaming.source import read_transcript_stream

        sink, ckpt = self._dirs(tag)
        base = os.path.dirname(sink)
        watched = os.path.join(base, "landed")
        staging = os.path.join(base, "staging")
        os.makedirs(watched)
        os.makedirs(staging)
        res = Result(tag=tag, sink=sink, run_id=self.tracer.run_id)
        mark = self.listener.mark()
        names = [base_name(f) for f in files]

        gen_error: list[str] = []
        t_first = 0.0  # set once the query runs
        due: list[float] = [0.0] * len(files)
        landed: list[float] = [0.0] * len(files)

        def generate() -> None:
            try:
                for i, src in enumerate(files):
                    tmp = os.path.join(staging, names[i])
                    shutil.copyfile(src, tmp)
                    os.utime(tmp, (due[i], due[i]))
                    delay = due[i] - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    os.rename(tmp, os.path.join(watched, names[i]))
                    landed[i] = time.time()
            except OSError as e:
                gen_error.append(f"generator: {e!r}")

        gen = threading.Thread(target=generate, name="perfbench-generator")
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.start_fanout", root=True):
            try:
                q = start_fanout(
                    read_transcript_stream(self.spark, watched, max_files_per_trigger=None),
                    sink, ckpt, live_transforms(), available_now=False,
                    query_name="turns_live",
                )
                # the first file is due at the next grid point, once the
                # query runs
                t_first = (time.time() // TRIGGER_S + 1) * TRIGGER_S + TRIGGER_PHASE_S
                due[:] = [t_first + i * interval_s for i in range(len(files))]
                gen.start()
                gen.join()
                deadline = time.monotonic() + tail_timeout_s
                while time.monotonic() < deadline and q.isActive:
                    if len(_committed_files(sink)) >= len(files):
                        break
                    time.sleep(0.05)
                q.stop()
                if q.exception() is not None:
                    res.error = str(q.exception())[:500]
                elif gen_error:
                    res.error = gen_error[0]
            except Exception as e:
                res.error = repr(e)[:500]
            finally:
                if gen.is_alive():
                    gen.join()
        res.wall_s = time.perf_counter() - t0
        res.batches = [
            b for b in self.listener.batches(self.listener.runs_since(mark))
            if b["numInputRows"] > 0
        ]
        committed = _committed_files(sink)
        idx = {n: i for i, n in enumerate(names)}
        res.latencies_ms = [
            (t - due[idx[n]]) * 1000.0 for n, t in committed.items() if n in idx
        ]
        res.late_ms = [(landed[i] - due[i]) * 1000.0 for i in range(len(files))]
        res.rows = sum(rows_per_file[idx[n]] for n in committed if n in idx)
        last_commit = max(committed.values(), default=t_first)
        res.rows_per_s = res.rows / max(last_commit - t_first, 1e-9)
        res.offered_rows_per_s = sum(rows_per_file) / (len(files) * interval_s)
        res.lag_files_max = max(
            (
                sum(1 for j, n in enumerate(names)
                    if landed[j] <= landed[i] and committed.get(n, float("inf")) > landed[i])
                for i in range(len(files))
            ),
            default=0,
        )
        per_epoch = [len(m["lineage"].get("input_files", []))
                     for m in commit_manifests(sink).values()]
        res.files_per_batch = [n for n in per_epoch if n > 0]
        if len(committed) != len(files) and res.error is None:
            res.error = f"{len(committed)} of {len(files)} landed files committed"
        return res


def _committed_files(sink_root: str) -> dict[str, float]:
    """landed file basename -> commit time of the epoch whose lineage
    lists it."""
    out = {}
    for m in commit_manifests(sink_root).values():
        for f in m["lineage"].get("input_files", []):
            out[base_name(f)] = m["committed_at"]
    return out


def live_transforms() -> dict:
    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.operators.enrich import enrich_turns

    cfg = EngineConfig()
    return {"turns": lambda df: enrich_turns(df, cfg)}
