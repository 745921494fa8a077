"""Per-window snapshot stream — the live-orderbook analog (A7/ST7).

Reference analog: ``exportOrderbookBatch`` / ``UpdateOrderbook``
(/root/reference/internal/input/orderbooks.go:160-237) maintain a
materialized graph of all live offers, advance it ledger by ledger,
and emit the current state every ledger. Here: a non-windowed stateful
streaming aggregation keyed by (conv_id, role) holding the latest turn
per key, run in **update** output mode — every micro-batch emits the
keys whose state changed, i.e. the per-window snapshot delta.

State design: one (turn_idx, text, tool, ts, count) struct per live
key — the state IS the materialized table, bounded by key cardinality
(exactly like the reference's orderbook graph, and unlike its unbounded
seen-maps, orderbooks.go:26-33).

Key retirement: the default agg form keeps state for every key ever
seen — fine when key cardinality is the dimension table, the
reference's unbounded-seen-map anti-pattern when keys are
conversations at 10^9 scale. ``snapshot_ttl(df, cfg, ttl_s)`` is the
TTL form (``applyInPandasWithState`` + EventTimeTimeout): a key idle
for ttl_s of EVENT time after its last change emits a tombstone delta
(``retired=true``) and leaves the state store — session-scoped
eviction, the session-gap analog of closing a ledger. State is then
bounded by the number of keys ACTIVE within one TTL window, not keys
ever seen. ``read_final_snapshot`` folds
tombstones like any delta: a retired key vanishes from the snapshot
unless it re-appeared later (which recreates it fresh, n_changes
restarting — exactly a new session).

Either form runs as an update-mode query (``pipeline.start_query``)
whose deltas, stamped with their epoch by
``sink.epoch_stamped_writer``, land in the EpochCommitSink
exactly-once; ``read_final_snapshot`` folds them back (latest epoch wins per key),
and tests prove the folded result equals the batch operator
``operators/state.compact_last_state`` on the drained input — the
snapshot==compaction determinism gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.streaming.sink import EpochCommitSink
from stellar_etl_spark.streaming.source import epoch_us

SNAPSHOT_TABLE = "snapshot"


def snapshot_agg(df: DataFrame) -> DataFrame:
    """Latest-turn-per-(conv_id, role) aggregation — identical ordering
    key (turn_idx) and output schema as the batch compactor
    (operators/state.compact_last_state), so stream==batch is testable.
    Works on batch and streaming inputs."""
    latest = F.max_by(
        F.struct("turn_idx", "text", "tool", "ts"), F.col("turn_idx")
    ).alias("latest")
    return (
        df.groupBy("conv_id", "role")
        .agg(latest, F.count(F.lit(1)).cast("long").alias("n_changes"))
        .select(
            "conv_id",
            "role",
            F.col("latest.turn_idx").alias("last_turn_idx"),
            F.col("latest.text").alias("last_text"),
            F.col("latest.tool").alias("last_tool"),
            F.col("latest.ts").alias("last_ts"),
            "n_changes",
        )
    )


TTL_OUTPUT_SCHEMA = (
    "conv_id string, role string, last_turn_idx int, last_text string, "
    "last_tool string, last_ts timestamp, n_changes long, retired boolean"
)
TTL_STATE_SCHEMA = (
    "turn_idx int, text string, tool string, ts_us long, n_changes long"
)


def _ttl_snapshot_fn(ttl_s: int):
    """Build the per-key stateful function: latest-turn state with
    event-time TTL retirement.

    Emission uses a prebuilt 1-row template filled via .iat — a fresh
    per-key pd.DataFrame({...}) construction measured ~720 µs vs ~115 µs
    for template-copy, and the final timer pass emits one row for EVERY
    retiring key, so construction dominates the drain's wall."""
    import numpy as np
    import pandas as pd

    tmpl = pd.DataFrame(
        {
            "conv_id": [""],
            "role": [""],
            "last_turn_idx": np.array([0], dtype="int32"),
            "last_text": [""],
            "last_tool": [None],
            "last_ts": np.array([0], dtype="datetime64[us]"),
            "n_changes": np.array([0], dtype="int64"),
            "retired": [False],
        }
    )

    def emit(conv_id, role, turn_idx, text, tool, ts_us, n, retired):
        d = tmpl.copy()
        d.iat[0, 0] = conv_id
        d.iat[0, 1] = role
        d.iat[0, 2] = turn_idx
        d.iat[0, 3] = text
        d.iat[0, 4] = tool
        d.iat[0, 5] = np.datetime64(ts_us, "us")
        d.iat[0, 6] = n
        d.iat[0, 7] = retired
        return d

    def fn(key, pdf_iter, state):
        conv_id, role = key
        if state.hasTimedOut:
            turn_idx, text, tool, ts_us, n = state.get
            state.remove()
            yield emit(conv_id, role, turn_idx, text, tool, ts_us, n, True)
            return

        turn_idx, text, tool, ts_us, n = (None, None, None, None, 0)
        if state.exists:
            turn_idx, text, tool, ts_us, n = state.get
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            us = epoch_us(pdf["ts"])
            n += len(pdf)
            i = pdf["turn_idx"].idxmax()
            if turn_idx is None or int(pdf["turn_idx"][i]) > turn_idx:
                turn_idx = int(pdf["turn_idx"][i])
                text = pdf["text"][i]
                tool = pdf["tool"][i] if pd.notna(pdf["tool"][i]) else None
                ts_us = int(us[i])
        state.update((turn_idx, text, tool, ts_us, n))
        # retire after ttl_s of event-time inactivity (must sit above
        # the current watermark or Spark rejects the timestamp)
        want_ms = ts_us // 1000 + ttl_s * 1000
        state.setTimeoutTimestamp(max(want_ms, state.getCurrentWatermarkMs() + 1))
        yield emit(conv_id, role, turn_idx, text, tool, ts_us, n, False)

    return fn


def snapshot_ttl(df: DataFrame, cfg: EngineConfig, ttl_s: int) -> DataFrame:
    """TTL-retiring snapshot stream: same per-key latest-turn semantics
    as snapshot_agg, plus tombstone deltas for retired keys."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark("ts", cfg.watermark_delay)
        .groupBy("conv_id", "role")
        .applyInPandasWithState(
            _ttl_snapshot_fn(ttl_s),
            TTL_OUTPUT_SCHEMA,
            TTL_STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def read_final_snapshot(spark: SparkSession, sink_root: str) -> DataFrame:
    """Fold the committed snapshot deltas: per key, the row from the
    latest epoch that touched it — the current materialized state."""
    folded = EpochCommitSink(sink_root).read_latest(
        spark, SNAPSHOT_TABLE, ["conv_id", "role"]
    )
    if "retired" in folded.columns:
        # a key whose latest delta is a tombstone is gone from the
        # materialized state; drop the marker so the folded schema
        # matches the batch compactor's
        folded = folded.filter(~F.col("retired")).drop("retired")
    return folded
