#!/usr/bin/env python
"""Scaling-efficiency evidence for BASELINE.md §3 (N vs 4N executors).

No real cluster exists in this sandbox, so the two-cluster-size
criterion is evidenced by running the SAME job on the SAME input at two
local parallelism levels (local[8] = N, local[32] = 4N), per the
driver's protocol. Each level runs in its own subprocess (fresh JVM),
**CPU-pinned to exactly `cpus` cores via taskset**: without pinning,
local[8]'s Python UDF workers and JVM GC/IO threads silently spread
onto the other 24 host cores, flattering the N level and understating
efficiency (measured: pinned 8-core enrich 15.8 s vs 12.8 s unpinned —
a free ~20%). Shuffle local dirs go on tmpfs (/dev/shm): this VM's
virtio disk has multi-second hypervisor-side stall bursts (87-150 s
walls on a 5 s shuffle, /proc/pressure/io full>0) that have nothing to
do with the engine; a real executor has local NVMe.

Measurement protocol (shared-host noise + JIT warmup both distort
single-shot timings badly — measured: first-run session_window agg can
be 10x its steady state while JIT compiles, and this sandbox is a
multi-tenant box):
  1. one full UNTIMED warmup pass (JIT, codegen caches, Python worker
     pool, shuffle-file allocation);
  2. REPS timed passes; report each, plus the median (steady state)
     and best; efficiency is computed from medians.

Job under test: the engine's core pipeline over a generated ~10M-turn
transcript set — the enrichment projection, session windows,
tumbling tool rollup, and the user->assistant pair match — all forced
end-to-end via the noop sink. That covers the shapes that dominate at
100 TB: a codegen projection, shuffles (session agg, rollup, pair-match
window sort), and windowed aggregation.

Usage:
    python bench_scaling.py             # orchestrates both levels, prints JSON
    python bench_scaling.py --child 8   # internal: one timed run at local[8]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

INPUT_DIR = os.environ.get("SPARK_GRAFT_SCALE_INPUT", "/tmp/spark_graft_scale_input")
N_CONVS = int(os.environ.get("SPARK_GRAFT_SCALE_CONVS", "1000000"))
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "5"))
LEVELS = (8, 32)


def ensure_input() -> int:
    """Generate the deterministic input once (seed=42); reuse across runs."""
    marker = os.path.join(INPUT_DIR, f".complete-{N_CONVS}")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read())
    # remove stale data AND stale .complete-* markers (glob("*") misses
    # dotfiles — a stale marker over an empty dir breaks the child read)
    if os.path.isdir(INPUT_DIR):
        import shutil

        shutil.rmtree(INPUT_DIR)
    os.makedirs(INPUT_DIR, exist_ok=True)
    from stellar_etl_spark.sources.generator import write_transcripts

    n = write_transcripts(INPUT_DIR, n_convs=N_CONVS, n_files=64)
    with open(marker, "w") as f:
        f.write(str(n))
    return n


def child(cpus: int) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.operators import pairs, rollups, sessions
    from stellar_etl_spark.operators.enrich import enrich_turns

    cfg = EngineConfig(session_gap="30 minutes")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scale-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # keep reduce-stage parallelism == 2*cores: AQE coalescing targets
        # bytes-per-partition, which at bench scale shrinks reducers below
        # core count and caps scaling (measured: 16 of 32 cores busy)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # tmpfs shuffle dirs: immune to this VM's virtio-disk stall
        # bursts (see module docstring); bench shuffles are a few GB
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        # Xms=Xmx-ish: heap growth from the 1g default to tens of GB
        # causes full-GC walls in the first timed reps at local[32]
        .config("spark.driver.extraJavaOptions", "-Xms16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)

    df = spark.read.parquet(INPUT_DIR).withColumn("ts", F.col("ts").cast("timestamp"))
    n = df.count()

    from concurrent.futures import ThreadPoolExecutor

    def pipeline() -> None:
        # the four outputs run CONCURRENTLY, as in production: one
        # micro-batch fans out to N tables (foreachBatch multi-table
        # pattern, streaming/sink.py). Sequential jobs leave cores idle
        # at every stage barrier/tail; concurrent jobs let the scheduler
        # backfill (measured: 23 -> ~30 of 32 cores busy).
        jobs = [
            lambda: enrich_turns(df, cfg),
            lambda: sessions.sessionize(df, cfg),
            lambda: rollups.tool_rate(df),
            lambda: pairs.match_pairs(df, cfg),
        ]
        with ThreadPoolExecutor(4) as ex:
            futs = [
                ex.submit(lambda f=f: f().write.format("noop").mode("overwrite").save())
                for f in jobs
            ]
            for fu in futs:
                fu.result()

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    clk = os.sysconf("SC_CLK_TCK")

    def jvm_cpu_sec() -> float:
        with open(f"/proc/{jvm_pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / clk  # utime + stime

    def host_stat():
        # (busy_jiffies, steal_jiffies, total_jiffies) across all cpus
        with open("/proc/stat") as f:
            t = list(map(int, f.readline().split()[1:]))
        total = sum(t)
        idle = t[3] + t[4]
        steal = t[7] if len(t) > 7 else 0
        return total - idle, steal, total

    pipeline()  # untimed warmup: JIT, codegen cache, python worker pool
    pipeline()  # second warmup: C2 compilation of the sort/window hot
    # paths finishes later at high core counts (tasks are shorter, so
    # invocation thresholds take more wall-reps to cross)

    walls, utils, host_busy, host_steal = [], [], [], []
    for _ in range(REPS):
        h0, s0, j0 = host_stat()
        c0, t0 = jvm_cpu_sec(), time.perf_counter()
        pipeline()
        wall = time.perf_counter() - t0
        h1, s1, j1 = host_stat()
        walls.append(round(wall, 3))
        # JVM cores actually used during the rep (python UDF workers not
        # counted, so enrich phases undercount) — starvation shows as
        # low utilization, contention/extra-work as high
        utils.append(round((jvm_cpu_sec() - c0) / wall, 1))
        # whole-host telemetry: busy cores (all tenants on this shared
        # box) and hypervisor steal — identifies interference-poisoned
        # reps; the best-of-REPS protocol excludes them
        host_busy.append(round(32 * (h1 - h0) / (j1 - j0), 1))
        host_steal.append(round(32 * (s1 - s0) / (j1 - j0), 1))

    med = statistics.median(walls)
    print(json.dumps({
        "cpus": cpus, "rows": n, "walls_sec": walls, "jvm_cores_used": utils,
        "host_busy_cores": host_busy, "host_steal_cores": host_steal,
        "median_wall_sec": round(med, 3), "best_wall_sec": min(walls),
        "turns_per_sec_median": round(n * 4 / med, 1),
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
        return

    n = ensure_input()
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    results = {}
    for cpus in LEVELS:
        # hard-pin the whole process tree (JVM + python workers) to
        # exactly `cpus` cores — the honest N-executor simulation
        out = subprocess.run(
            ["taskset", "-c", f"0-{cpus - 1}",
             sys.executable, os.path.abspath(__file__), "--child", str(cpus)],
            capture_output=True, text=True, timeout=3600,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            print(json.dumps({"error": f"child {cpus} failed",
                              "stderr": out.stderr[-2000:]}))
            return
        results[cpus] = json.loads(lines[-1])

    lo, hi = LEVELS
    # Two estimators, both reported every run (earlier rounds printed
    # only best-of while the docstring said medians — fixed):
    #   * median-of-reps — the steady-state estimator, robust to the
    #     multi-second host storm walls this box injects into long reps;
    #   * best-of-reps — the noise-floor estimator, biased AGAINST the
    #     slower level when storms are asymmetric (a longer rep has
    #     proportionally more burst exposure, see SCALING_r04 caveats).
    eff_med = (
        results[lo]["median_wall_sec"] / results[hi]["median_wall_sec"]
    ) / (hi / lo)
    eff_best = (
        results[lo]["best_wall_sec"] / results[hi]["best_wall_sec"]
    ) / (hi / lo)
    print(json.dumps({
        "metric": "scaling_efficiency_N_to_4N",
        "value": round(eff_med, 3),
        "estimator": "median-of-reps (steady state); best-of in value_best",
        "value_best": round(eff_best, 3),
        "unit": "ratio",
        "input_rows": n,
        "levels": results,
        "protocol": f"median/best of {REPS} warm runs per level, fresh JVM per level, taskset-pinned process tree, tmpfs shuffle dirs, per-rep /proc/stat steal telemetry",
        "input": INPUT_DIR,
    }))


if __name__ == "__main__":
    main()
