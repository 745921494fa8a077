"""Streaming benchmark for stellar_etl_spark.

    python3 perfbench/run.py --workload sessions_drain --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts a fresh engine with
`session.get_spark` (the engine's shipped defaults: 32 shuffle/state
partitions, AQE) at local[<cpus>], sets it up three times (a new
session and a one-file warm-up drain), runs the timed workload for
--seconds, checks every output against the batch operators, and prints
each metric by name with its unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; `attempted`/`failed`
count micro-batches. `--trace 0` reports the end-to-end metrics;
`--trace 1` reports the per-layer metrics (see perfbench/README.md).

Workloads (why each exists is in BENCHMARK.json):
  sessions_drain  closed loop: `export-sessions --stream` drained with
                  availableNow over 8 in-order time-slice files, one
                  drain per SESSIONS_DRAIN_S of --seconds
  turns_live      open loop: one file lands every LIVE_INTERVAL_S into
                  the dir a `start_fanout` enrich_turns query watches

Inputs come from `sources.generator.write_transcripts` with --seed and
are generated once per (workload, seed) under .bench_work/inputs,
outside every timed region, while the first session starts the JVM.
Everything the run writes stays under .bench_work/ in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("sessions_drain", "turns_live")
SETUPS = 3
DRIVER_MEM = "2g"
# sessions_drain: 8 files at 4 per trigger = 2 data micro-batches plus
# the no-data batch that closes the last sessions. 4000 conversations
# give over 100 k rows on every seed, so `generate` never doubles them.
SESSIONS_INPUT = {"n_convs": 4000, "rows_per_file": 12500, "n_keep": 8}
# One drain per 10 s of --seconds: a drain takes 8-12 s. Draining until
# --seconds had passed ran a second, warmer drain only when the host was
# fast, which made rows_per_s and the latencies bimodal across runs.
SESSIONS_DRAIN_S = 10
# turns_live: 1000 rows per file, one file every 200 ms (~5 k rows/s
# offered), so 50 files land in 10 s: enough for a p90 with five
# samples above it, and five 2 s micro-batches. At one file every
# 120 ms a slow spell of the host pushed micro-batches past the 2 s
# trigger, and the backlog doubled batch_ms_p50 for the whole run.
LIVE_INTERVAL_S = 0.2
LIVE_ROWS_PER_FILE = 1000
LIVE_WARMUP_FILES = 4  # one micro-batch
LIVE_CONVS_PER_FILE = 40  # ~1300 rows on average

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "commit_latency_ms_p50": "ms",
    "commit_latency_ms_p90": "ms",
    "peak_rss_mb": "MB",
}
# Printed beside the end-to-end metrics, not gated: a micro-batch's
# duration is not what a user sees, and its effect shows in
# commit_latency_ms_p50 and rows_per_s. Over ten runs its spread on
# turns_live reached 0.34, past any bound the benchmark may set.
PRINTED_ONLY = {"batch_ms_p50": "ms"}


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> dict:
    """Keep every file the JVM, the Python workers and the engine's
    zip shipping write under the run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM spark-submit starts, the launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size driver heap, as a deployed driver has, so GC
        # sizing does not drift between runs. It is touched up front,
        # so it adds the same to peak RSS on every run: how much of it
        # GC happened to touch would otherwise swing peak_rss_mb by
        # 25% between runs. What peak_rss_mb tracks is memory outside
        # the heap (metaspace, code, threads, buffers, Python workers).
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }


def generate(base: str, seed: int, n_convs: int, rows_per_file: int, n_keep: int) -> list[str]:
    """The first `n_keep` time-slice files of a `write_transcripts` set
    cut into files of `rows_per_file` rows, made once per (seed, size).

    The generator's total row count varies with the seed (the 1% hot
    conversations carry 10-100x turns), so the file count is derived
    from it: every kept file holds `rows_per_file` rows (to within
    1/n_files), and the kept set has the same size on every seed."""
    from stellar_etl_spark.sources.generator import generate_transcripts, write_transcripts

    path = os.path.join(base, f"s{seed}-c{n_convs}-r{rows_per_file}-k{n_keep}")
    marker = os.path.join(path, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        while True:  # doubling keeps the result a function of the arguments
            total = generate_transcripts(n_convs, seed=seed).num_rows
            if total >= rows_per_file * n_keep:
                break
            n_convs *= 2
        n_files = total // rows_per_file
        full = path + ".all"
        shutil.rmtree(full, ignore_errors=True)
        write_transcripts(full, n_convs=n_convs, n_files=n_files, seed=seed)
        os.makedirs(path)
        for i in range(n_keep):
            name = f"part-{i:05d}.parquet"
            os.rename(os.path.join(full, name), os.path.join(path, name))
        shutil.rmtree(full)
        open(marker, "w").close()
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


class Inputs:
    """The directories a run reads: `main` (sessions_drain) or `slices`
    (turns_live), and `warmup`."""

    def __init__(self, work: str, workload: str, seed: int, seconds: float):
        base = os.path.join(work, "inputs", workload)
        if workload == "sessions_drain":
            files = generate(base, seed, **SESSIONS_INPUT)
            self.main = os.path.dirname(files[0])
            # the first file of the timed input: one data micro-batch
            # and the no-data batch, as few as a drain can have
            self.warmup = self.main + "-warmup"
            if not os.path.isdir(self.warmup):
                os.makedirs(self.warmup + ".tmp", exist_ok=True)
                for f in files[:1]:
                    shutil.copy2(f, os.path.join(self.warmup + ".tmp", os.path.basename(f)))
                os.rename(self.warmup + ".tmp", self.warmup)
        else:
            import pyarrow.parquet as pq

            n = max(10, round(seconds / LIVE_INTERVAL_S))
            self.slices = generate(
                base, seed, n_convs=LIVE_CONVS_PER_FILE * n,
                rows_per_file=LIVE_ROWS_PER_FILE, n_keep=n,
            )
            self.slice_rows = [pq.read_metadata(f).num_rows for f in self.slices]
            # availableNow batches of files the size of the landed ones
            self.warmup = os.path.dirname(generate(
                base, seed + 1, n_convs=LIVE_CONVS_PER_FILE * LIVE_WARMUP_FILES,
                rows_per_file=LIVE_ROWS_PER_FILE, n_keep=LIVE_WARMUP_FILES,
            )[0])


def start_while_generating(eng, master: str, make_inputs) -> tuple["Inputs", float]:
    """The first session, which starts the JVM, while the inputs are
    generated: (inputs, seconds `get_spark` took)."""
    out: dict = {}

    def start() -> None:
        t0 = time.perf_counter()
        try:
            eng.start(master)
        except Exception as e:  # re-raised on the main thread
            out["error"] = e
        out["get_spark_s"] = time.perf_counter() - t0

    th = threading.Thread(target=start, name="perfbench-first-session")
    th.start()
    try:
        inputs = make_inputs()
    finally:
        th.join()
    if "error" in out:
        raise out["error"]
    return inputs, out["get_spark_s"]


def setup(eng, inputs: Inputs, workload: str, master: str, first_get_spark_s: float,
          tracer) -> list[dict]:
    """SETUPS times: a fresh session (`get_spark`, which ships the
    package) and a warm-up drain of the workload's own path. The first
    session is already up: it started the JVM, in `first_get_spark_s`.
    Only the last set-up runs under `tracer`, so a traced run has an
    untraced and a traced set-up in the same warm JVM to compare."""
    from spans import NullTracer

    out = []
    for i in range(SETUPS):
        last = i == SETUPS - 1
        eng.tracer = tracer if last else NullTracer()
        with eng.tracer.patched():
            out.append(_setup_once(eng, inputs, workload, master, i, first_get_spark_s))
        print(f"perfbench: setup {i}: get_spark {out[-1]['get_spark_s']:.2f} s, "
              f"warm-up {out[-1]['warmup_s']:.2f} s", file=sys.stderr)
    eng.tracer = tracer
    return out


def _setup_once(eng, inputs: Inputs, workload: str, master: str, i: int,
                first_get_spark_s: float) -> dict:
    from probes import median

    if i == 0:
        t1 = time.perf_counter()
        t0 = t1 - first_get_spark_s
    else:
        eng.stop()
        t0 = time.perf_counter()
        eng.start(master)
        t1 = time.perf_counter()
    if workload == "sessions_drain":
        warm = eng.drain("sessions", inputs.warmup, "warmup")
    else:
        warm = eng.fanout_drain(inputs.warmup, "warmup")
    t2 = time.perf_counter()
    if warm.error:
        raise RuntimeError(f"warm-up failed: {warm.error}")
    return {"total_s": t2 - t0, "get_spark_s": t1 - t0, "warmup_s": t2 - t1,
            "batch_ms": median(_te([warm]))}


def timed(eng, inputs: Inputs, workload: str, seconds: float) -> list:
    """The timed region: back-to-back drains, one per SESSIONS_DRAIN_S
    of --seconds (at least one), or one open-loop run of --seconds."""
    from checks import SessionsOracle, check_turns
    from engine import SESSION_GAP

    if workload == "sessions_drain":
        t0 = time.perf_counter()
        results = [eng.drain("sessions", inputs.main, "sessions")
                   for _ in range(max(1, round(seconds / SESSIONS_DRAIN_S)))]
        print(f"perfbench: {len(results)} drains in {time.perf_counter() - t0:.2f} s: "
              f"{[round(r.wall_s, 2) for r in results]} s, micro-batches {_te(results)} ms",
              file=sys.stderr)
        t1 = time.perf_counter()
        oracle = SessionsOracle(eng.spark, inputs.main, SESSION_GAP)
        for r in results:
            r.ok = r.error is None and oracle.check(eng.spark, r.sink)
        print(f"perfbench: checks {time.perf_counter() - t1:.2f} s", file=sys.stderr)
        return results
    n = max(5, round(seconds / LIVE_INTERVAL_S))
    r = eng.live(inputs.slices[:n], inputs.slice_rows[:n], LIVE_INTERVAL_S, "live")
    print(f"perfbench: live run {r.wall_s:.2f} s, micro-batches {_te([r])} ms",
          file=sys.stderr)
    landed = os.path.join(os.path.dirname(r.sink), "landed")
    t1 = time.perf_counter()
    r.ok = r.error is None and r.rows > 0 and check_turns(eng.spark, r.sink, landed)
    print(f"perfbench: checks {time.perf_counter() - t1:.2f} s", file=sys.stderr)
    return [r]


def _te(results) -> list[float]:
    return [b["durationMs"]["triggerExecution"] for r in results for b in r.batches]


def end_to_end(setups, results, rss_mb: float) -> dict:
    from probes import median, pct

    lat = [x for r in results for x in r.latencies_ms]
    return {
        "setup_s": median(s["total_s"] for s in setups),
        "rows_per_s": median(r.rows_per_s for r in results),
        "batch_ms_p50": median(_te(results)),
        "commit_latency_ms_p50": median(lat),
        "commit_latency_ms_p90": pct(lat, 90),
        "peak_rss_mb": rss_mb,
    }


def run(args, work: str, run_dir: str, extra_conf: dict) -> int:
    from engine import Engine
    from probes import io_stall_us, peak_rss_mb, steal_cs
    from spans import NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    eng = Engine(run_dir, NullTracer(), extra_conf)
    master = f"local[{len(os.sched_getaffinity(0))}]"
    try:
        inputs, first_s = start_while_generating(
            eng, master, lambda: Inputs(work, args.workload, args.seed, args.seconds)
        )
        setups = setup(eng, inputs, args.workload, master, first_s, tracer)
        if args.trace:
            from layers import PER_LAYER, traced_run

            metrics, results = traced_run(eng, inputs, args, setups, timed)
            units = {k: v[0] for k, v in PER_LAYER.items()}
        else:
            st0, io0 = steal_cs(), io_stall_us()
            results = timed(eng, inputs, args.workload, args.seconds)
            st1, io1 = steal_cs(), io_stall_us()
            metrics = end_to_end(setups, results, peak_rss_mb(eng.jvm_pid))
            print(f"env.steal_s {(st1 - st0) / 100.0:.2f} s")
            print(f"env.io_stall_s {(io1 - io0) / 1e6:.3f} s")
            units = END_TO_END
            n_files = sum(len(r.latencies_ms) for r in results)
            samples = {
                "setup_s": f"{len(setups)} set-ups",
                "rows_per_s": f"{len(results)} timed runs",
                "batch_ms_p50": f"{len(_te(results))} micro-batches",
                "commit_latency_ms_p50": f"{n_files} files",
                "commit_latency_ms_p90": f"{n_files} files",
                "peak_rss_mb": "1 sample",
            }
            for k, unit in {**units, **PRINTED_ONLY}.items():
                print(f"{k} {metrics[k]:.4f} {unit} (n={samples[k]})")
    finally:
        t1 = time.perf_counter()
        eng.shutdown()
        print(f"perfbench: shutdown {time.perf_counter() - t1:.2f} s", file=sys.stderr)
        if args.trace:
            tracer.dump(os.path.join(work, f"spans-{args.workload}-s{args.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(r.attempted for r in results)
    failed = sum(r.attempted for r in results if not r.ok)
    correct = all(r.ok for r in results)
    for r in results:
        if not r.ok:
            print(f"FAILED {r.tag}: {r.error or 'output differs from the batch operator'}",
                  file=sys.stderr)
    print(f"failed_share {failed / max(attempted, 1):.4f} ratio "
          f"({failed} of {attempted} micro-batches)")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import stellar_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    extra_conf = prepare_env(run_dir)
    return run(args, work, run_dir, extra_conf)


if __name__ == "__main__":
    sys.exit(main())
