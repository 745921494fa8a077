#!/usr/bin/env python
"""Child processes the driver JVM forks, per streaming micro-batch.

Without libhadoop, Hadoop's local file system forks a shell command
(``chmod``, ``readlink``, ...) for some file operations, each a few ms
on the driver's critical path. This tool starts a ``session.get_spark``
session, turns on JFR's ``jdk.ProcessStart`` event in its JVM
(``jcmd <pid> JFR.start``), drains a small ``export-sessions --stream``
and an enrich_turns ``start_fanout``, and prints each micro-batch's
forks grouped by the path they touch: the sink's epoch directory and
its ``_temporary``, other ``.crc`` files, the checkpoint's
``offsets/commits/sources`` logs, state-store deltas, and anything
else (a session's first ``getconf``, the shipped package's
``chmod``). A fork is charged to the micro-batch whose trigger (start
+ ``triggerExecution``) spans it.

``--stock-fs`` runs the same drains on stock Hadoop's LocalFileSystem,
the file system of a session where the engine's own is not available.

The input is ``CONVS`` conversations in ``FILES`` files (one per
micro-batch) on a ``MASTER`` session; the per-micro-batch counts in
the docs are for these values.

Usage: python tools/forks.py [--stock-fs]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from datetime import datetime, timedelta, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONVS, FILES, MASTER = 400, 3, "local[2]"

# first match wins
GROUPS = [
    ("state deltas", re.compile(r"/state\b")),
    ("offsets/commits/sources", re.compile(r"/(offsets|commits|sources)\b")),
    ("sink epoch/_temporary", re.compile(r"/epoch=\d+")),
    (".crc", re.compile(r"\.crc\b")),
]


def group(command: str) -> str:
    return next((name for name, rx in GROUPS if rx.search(command)), "other")


def _ts(iso: str) -> datetime:
    """An ISO-8601 instant with its zone, in UTC. JFR prints nanoseconds
    and the recording JVM's local offset, Spark millis and ``Z``."""
    m = re.fullmatch(r"([^.]+?)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)", iso)
    frac = (m.group(2) or "")[:6].ljust(6, "0")
    return datetime.fromisoformat(f"{m.group(1)}.{frac}{m.group(3)}").astimezone(timezone.utc)


def process_starts(jfr_file: str) -> list[tuple[datetime, str]]:
    out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    return sorted((_ts(e["values"]["startTime"]), e["values"]["command"]) for e in events)


def _span(batch: dict) -> tuple[datetime, datetime]:
    start = _ts(batch["timestamp"])
    return start, start + timedelta(milliseconds=batch["durationMs"]["triggerExecution"])


def report(name: str, batches: list[dict], forks: list[tuple[datetime, str]]) -> None:
    """Print the forks inside each of `batches` (progress dicts)."""
    print(f"== {name}: {len(batches)} micro-batches")
    total = Counter()
    for b in batches:
        start, end = _span(b)
        n = Counter(group(cmd) for t, cmd in forks if start <= t <= end)
        total += n
        parts = ", ".join(f"{g} {c}" for g, c in sorted(n.items())) or "-"
        print(f"  batch {b['batchId']:>3}: {sum(n.values()):>3} forks  ({parts})")
    per = sum(total.values()) / max(len(batches), 1)
    print(f"  per micro-batch: {per:.1f}  "
          + ", ".join(f"{g} {c / max(len(batches), 1):.1f}" for g, c in sorted(total.items())))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--stock-fs", action="store_true",
                    help="stock Hadoop LocalFileSystem instead of the engine's")
    args = ap.parse_args(argv)

    from pyspark.sql.streaming import StreamingQueryListener

    from stellar_etl_spark import cli
    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.operators.enrich import enrich_turns
    from stellar_etl_spark.session import FS_IMPL_CONF, get_spark
    from stellar_etl_spark.sources.generator import write_transcripts
    from stellar_etl_spark.streaming.pipeline import start_fanout
    from stellar_etl_spark.streaming.source import read_transcript_stream

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.seen: list[dict] = []

        def onQueryStarted(self, event): pass
        def onQueryIdle(self, event): pass
        def onQueryTerminated(self, event): pass

        def onQueryProgress(self, event):
            self.seen.append(json.loads(event.progress.json))

    work = tempfile.mkdtemp(prefix="forks-")
    inp = os.path.join(work, "in")
    write_transcripts(inp, n_convs=CONVS, n_files=FILES)
    extra = {FS_IMPL_CONF: "org.apache.hadoop.fs.LocalFileSystem"} if args.stock_fs else {}
    spark = get_spark(EngineConfig(master=MASTER, extra_conf=extra), app_name="forks")
    listener = Progress()
    spark.streams.addListener(listener)
    pid = str(spark.sparkContext._gateway.proc.pid)
    jfr_file = os.path.join(work, "forks.jfr")
    subprocess.run(["jcmd", pid, "JFR.start", "name=forks"], check=True, capture_output=True)
    try:
        cli.main(["export-sessions", "--stream", "--input", inp,
                  "--out", os.path.join(work, "sessions"),
                  "--checkpoint", os.path.join(work, "ckpt-sessions"),
                  "--files-per-trigger", "1"], spark=spark)
        cfg = EngineConfig()
        q = start_fanout(read_transcript_stream(spark, inp, max_files_per_trigger=1),
                         os.path.join(work, "turns"), os.path.join(work, "ckpt-turns"),
                         {"turns": lambda df: enrich_turns(df, cfg)}, query_name="turns")
        q.awaitTermination()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        subprocess.run(["jcmd", pid, "JFR.dump", "name=forks", f"filename={jfr_file}"],
                       check=True, capture_output=True)
        subprocess.run(["jcmd", pid, "JFR.stop", "name=forks"], capture_output=True)
    forks = process_starts(jfr_file)
    spans = [_span(b) for b in listener.seen]
    outside = sum(not any(s <= t <= e for s, e in spans) for t, _ in forks)
    # a session's own start-up forks a few; many more here means the
    # two clocks do not line up
    print(f"{len(forks)} forks in all (jdk.ProcessStart), {outside} outside every micro-batch")
    for name in ("sessions", "turns"):
        report(name, [b for b in listener.seen if b["name"] == name], forks)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
