"""The traced run and the per-layer metrics it reports.

PER_LAYER maps each metric to (unit, better, the end-to-end metric it
should move, the workload it should move it on). A metric of a layer
a workload does not run reads 0 on that workload: the state store does
no work under turns_live, and the matcher, the generator, lineage and
the single-core baseline exist only where noted.

In the traced run the last set-up and the timed workload run with
spans. Per-layer metrics come from those (spans plus
StreamingQueryProgress), and `trace.overhead_ms` is the traced last
set-up's median warm-up micro-batch time minus the untraced set-up's
before it (both a new session in the same warm JVM, on the same
input). On turns_live it then drains its warm-up input
(4 files) once through `export-pairs --stream`, to measure the matcher
layer (a matcher micro-batch costs ~8 s at local[4] whatever its
size). On sessions_drain it drains its warm-up input (the first file
of the timed one) once more through `export-sessions --stream`, in a
new session at local[1]: `scaling.speedup_4v1` is that drain's wall
time over the median warm-up drain of the warm set-ups (a new session
at local[<cpus>] in the same JVM, on the same input). Both outputs are
checked; neither is gated. Each traced run thus does one extra drain,
so neither takes much longer than the other.
"""

from __future__ import annotations

import os

from probes import io_stall_us, median, steal_cs

ALL = "sessions_drain, turns_live"
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    # session, deploy
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "deploy.ship_package_s": ("s", "lower", "setup_s", ALL),
    "setup.warmup_s": ("s", "lower", "setup_s", ALL),
    # streaming.source
    "source.files_per_batch": ("count", "higher", "rows_per_s", ALL),
    "source.rows_per_batch": ("count", "higher", "rows_per_s", ALL),
    "source.offset_ms": ("ms", "lower", "commit_latency_ms_p50", "turns_live"),
    "source.lag_files_max": ("count", "lower", "commit_latency_ms_p90", "turns_live"),
    # streaming.pipeline
    "pipeline.trigger_ms": ("ms", "lower", "commit_latency_ms_p50", ALL),
    "pipeline.planning_ms": ("ms", "lower", "commit_latency_ms_p50", "turns_live"),
    "pipeline.wal_ms": ("ms", "lower", "commit_latency_ms_p50", "turns_live"),
    "pipeline.add_batch_ms": ("ms", "lower", "commit_latency_ms_p50", "turns_live"),
    "pipeline.batches": ("count", "lower", "commit_latency_ms_p50", "turns_live"),
    # operators.sessions + the state store
    "state.commit_ms": ("ms", "lower", "rows_per_s", "sessions_drain"),
    "state.update_ms": ("ms", "lower", "rows_per_s", "sessions_drain"),
    "state.removal_ms": ("ms", "lower", "rows_per_s", "sessions_drain"),
    "state.rows_max": ("count", "lower", "peak_rss_mb", "sessions_drain"),
    "state.bytes_max": ("bytes", "lower", "peak_rss_mb", "sessions_drain"),
    "state.instances": ("count", "lower", "peak_rss_mb", "sessions_drain"),
    "state.rows_dropped_late": ("count", "lower", "correct", "sessions_drain"),
    # streaming.matcher (turns_live traced run only)
    "matcher.update_ms": ("ms", "lower", "rows_per_s", "turns_live"),
    "matcher.commit_ms": ("ms", "lower", "rows_per_s", "turns_live"),
    "matcher.matched_share": ("ratio", "higher", "correct", "turns_live"),
    # streaming.sink
    "sink.write_epoch_ms": ("ms", "lower", "commit_latency_ms_p50", ALL),
    "sink.lineage_ms": ("ms", "lower", "commit_latency_ms_p50", "turns_live"),
    "sink.rows_written": ("count", "higher", "rows_per_s", ALL),
    "sink.bytes_written": ("bytes", "lower", "rows_per_s", ALL),
    "sink.commit_ratio": ("ratio", "higher", "rows_per_s", ALL),
    # open-loop validity (turns_live only)
    "gen.late_ms_max": ("ms", "lower", "commit_latency_ms_p90", "turns_live"),
    "gen.offered_rows_per_s": ("rows/s", "higher", "rows_per_s", "turns_live"),
    # host telemetry over the timed region
    "env.steal_s": ("s", "lower", "rows_per_s", ALL),
    "env.io_stall_s": ("s", "lower", "rows_per_s", ALL),
    # diagnostics
    "scaling.speedup_4v1": ("ratio", "higher", "rows_per_s", "sessions_drain"),
    "trace.overhead_ms": ("ms", "lower", "commit_latency_ms_p50", ALL),
}


def _sink_rows_bytes(sink_root: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = size = 0
    for dirpath, _, files in os.walk(os.path.join(sink_root, "data")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return rows, size


def _ms(b: dict, *keys: str) -> float:
    return float(sum(b["durationMs"].get(k, 0) for k in keys))


def _state_sum(b: dict, key: str) -> float:
    return float(sum(s.get(key, 0) for s in b.get("stateOperators", [])))


def _state_max(batches: list[dict], key: str) -> float:
    return float(max((s.get(key, 0) for b in batches for s in b.get("stateOperators", [])),
                     default=0))


def traced_run(eng, inputs, args, setups, timed):
    """Returns (per-layer metrics, every checked result)."""
    from checks import PairsOracle, SessionsOracle
    from engine import SESSION_GAP

    tracer = eng.tracer
    st0, io0 = steal_cs(), io_stall_us()
    with tracer.patched():
        traced = timed(eng, inputs, args.workload, args.seconds)
    st1, io1 = steal_cs(), io_stall_us()
    results = list(traced)

    m = dict.fromkeys(PER_LAYER, 0.0)
    gets = tracer.named("session.get_spark")
    get_ids = {s.span_id for s in gets}
    m["session.get_spark_s"] = median(tracer.self_ms(s) for s in gets) / 1000.0
    m["deploy.ship_package_s"] = median(
        s.end - s.start for s in tracer.named("deploy.ship_package") if s.parent in get_ids
    )
    m["setup.warmup_s"] = median(s["warmup_s"] for s in setups)

    batches = [b for r in traced for b in r.batches]
    data = [b for b in batches if b["numInputRows"] > 0]
    m["source.files_per_batch"] = median(n for r in traced for n in r.files_per_batch)
    m["source.rows_per_batch"] = median(b["numInputRows"] for b in data)
    m["source.offset_ms"] = median(_ms(b, "latestOffset", "getBatch") for b in batches)
    m["source.lag_files_max"] = float(max(r.lag_files_max for r in traced))
    m["pipeline.trigger_ms"] = median(_ms(b, "triggerExecution") for b in batches)
    m["pipeline.planning_ms"] = median(_ms(b, "queryPlanning") for b in batches)
    m["pipeline.wal_ms"] = median(_ms(b, "walCommit", "commitOffsets") for b in batches)
    m["pipeline.add_batch_ms"] = median(_ms(b, "addBatch") for b in batches)
    m["pipeline.batches"] = float(len(batches))

    stateful = [b for b in batches if b.get("stateOperators")]
    if stateful:
        m["state.commit_ms"] = median(_state_sum(b, "commitTimeMs") for b in stateful)
        m["state.update_ms"] = median(_state_sum(b, "allUpdatesTimeMs") for b in stateful)
        m["state.removal_ms"] = median(_state_sum(b, "allRemovalsTimeMs") for b in stateful)
        m["state.rows_max"] = _state_max(stateful, "numRowsTotal")
        m["state.bytes_max"] = _state_max(stateful, "memoryUsedBytes")
        m["state.instances"] = _state_max(stateful, "numStateStoreInstances")
        m["state.rows_dropped_late"] = sum(
            _state_sum(b, "numRowsDroppedByWatermark") for b in stateful
        )

    run_ids = {r.run_id for r in traced}
    writes = tracer.named("sink.write_epoch", run_ids)
    m["sink.write_epoch_ms"] = median(tracer.self_ms(s) for s in writes)
    m["sink.lineage_ms"] = median(
        (s.end - s.start) * 1000.0 for s in tracer.named("sink.lineage_of", run_ids)
    )
    rows_bytes = [_sink_rows_bytes(r.sink) for r in traced]
    m["sink.rows_written"] = float(sum(n for n, _ in rows_bytes))
    m["sink.bytes_written"] = float(sum(b for _, b in rows_bytes))
    committed = sum(len(os.listdir(os.path.join(r.sink, "_commits"))) for r in traced)
    m["sink.commit_ratio"] = committed / max(len(writes), 1)

    m["gen.late_ms_max"] = max((x for r in traced for x in r.late_ms), default=0.0)
    m["gen.offered_rows_per_s"] = max(r.offered_rows_per_s for r in traced)
    m["env.steal_s"] = (st1 - st0) / 100.0
    m["env.io_stall_s"] = (io1 - io0) / 1e6

    m["trace.overhead_ms"] = setups[-1]["batch_ms"] - setups[-2]["batch_ms"]

    if args.workload == "turns_live":
        with tracer.patched():
            pairs = eng.drain("pairs", inputs.warmup, "pairs")
        ok, share = PairsOracle(eng.spark, inputs.warmup).check(eng.spark, pairs.sink)
        pairs.ok = pairs.error is None and ok
        results.append(pairs)
        m["matcher.update_ms"] = median(_state_sum(b, "allUpdatesTimeMs") for b in pairs.batches)
        m["matcher.commit_ms"] = median(_state_sum(b, "commitTimeMs") for b in pairs.batches)
        m["matcher.matched_share"] = share
    else:
        oracle = SessionsOracle(eng.spark, inputs.warmup, SESSION_GAP)
        eng.stop()
        eng.start("local[1]")
        single = eng.drain("sessions", inputs.warmup, "sessions-1core")
        single.ok = single.error is None and oracle.check(eng.spark, single.sink)
        results.append(single)
        m["scaling.speedup_4v1"] = single.wall_s / median(
            s["warmup_s"] for s in setups[1:]
        )

    for k in PER_LAYER:
        print(f"{k} {m[k]:.4f} {PER_LAYER[k][0]}")
    return m, results
