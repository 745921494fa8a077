"""Session windows — the ledger-close boundary analog.

The reference's unit of emission is the ledger close: everything is
stamped ``closed_at`` and batched on 64-ledger checkpoints
(/root/reference/internal/utils/main.go:827-846, README.md:293). Our
analog is a gap-based session window per conv_id
(``F.session_window(ts, gap)``): a session closes when no turn arrives
within the gap; in streaming, the watermark finalizes it.

Per-session aggregates mirror extractCounts
(/root/reference/internal/transform/ledger.go:133-166): total turn
count, per-role counts (successful/failed analog), distinct tools
(operation-count analog).

Two implementations, proven equal in tests:
  * ``sessionize``          — native session_window (streaming-capable)
  * ``sessionize_islands``  — gaps-and-islands with window functions
    (batch; mirrors the oracle SQL exactly, so the native path is
    transitively oracle-checked)

Scale: session_window is a streaming stateful agg keyed by
(conv_id); state per key is one (start,end,counts) tuple, evicted at
watermark — unlike the reference's unbounded seen-maps
(internal/input/orderbooks.go:26-33), state is bounded by design.
The batch path is a single shuffle on conv_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stellar_etl_spark.config import DEFAULT, EngineConfig

def _aggs(streamed: bool = False):
    # streaming disallows exact count_distinct; size(collect_set(...))
    # is exact and streaming-legal. Its state per session grows with
    # the distinct count, which the tool vocabulary (~10) bounds.
    distinct_tools = (
        F.size(F.collect_set("tool")).cast("long")
        if streamed
        else F.count_distinct(F.col("tool"))
    )
    return [
        F.count(F.lit(1)).cast("long").alias("turn_count"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).cast("long").alias("user_turns"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).cast("long").alias("assistant_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).cast("long").alias("tool_turns"),
        distinct_tools.alias("distinct_tools"),
        F.min("turn_idx").alias("first_turn_idx"),
        F.max("turn_idx").alias("last_turn_idx"),
    ]


def sessionize(
    df: DataFrame,
    cfg: EngineConfig = DEFAULT,
    watermark: bool = False,
) -> DataFrame:
    """transcripts -> sessions via native session_window.

    session_start = first turn ts, session_end = last turn ts + gap
    (Spark's merged-window definition).

    PUSHDOWN HAZARD (verified on Spark 4.1): do NOT filter this
    operator's output on ``session_end`` inside the same plan —
    Catalyst treats the predicate as referencing the pre-merge grouping
    attribute and rewrites ``session_end <= X`` into a per-row
    ``ts + gap <= X`` filter BELOW the session merge. That rewrite is
    sound for tumbling/sliding windows (end is per-row derivable) but
    UNSOUND for session windows: it truncates any in-progress session
    straddling ``X - gap``, silently emitting a shorter session with an
    earlier end. Use :func:`closed_sessions` for as-of filtering (its
    window-function lineage blocks the rewrite), or filter after a
    materialization boundary (e.g. on re-read of the sessions table).

    distinct_tools is count_distinct in batch and size(collect_set)
    under ``watermark`` (see :func:`_aggs`): the same values."""
    src = df.withWatermark("ts", cfg.watermark_delay) if watermark else df
    return (
        src.groupBy(F.session_window("ts", cfg.session_gap), "conv_id")
        .agg(*_aggs(streamed=watermark))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "turn_count",
            "user_turns",
            "assistant_turns",
            "tool_turns",
            "distinct_tools",
            "first_turn_idx",
            "last_turn_idx",
        )
    )


def sessionize_islands(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Batch gaps-and-islands equivalent (lag + cumulative sum of
    new-session flags). Same output schema and values as sessionize();
    this form is 1:1 with the DuckDB oracle SQL."""
    gap = F.expr(f"INTERVAL {cfg.session_gap}")
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    flagged = df.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("double")
            - F.lag(F.col("ts").cast("double")).over(w)
            > F.lit(_gap_seconds(cfg.session_gap)),
            1,
        )
        .otherwise(0),
    ).withColumn("session_ord", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        flagged.groupBy("conv_id", "session_ord")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + gap).alias("session_end"),
            *_aggs(),
        )
        .drop("session_ord")
        .select(
            "conv_id",
            "session_start",
            "session_end",
            "turn_count",
            "user_turns",
            "assistant_turns",
            "tool_turns",
            "distinct_tools",
            "first_turn_idx",
            "last_turn_idx",
        )
    )


def closed_sessions(df: DataFrame, cfg: EngineConfig, as_of) -> DataFrame:
    """Sessions fully closed as of ``as_of`` — the bounded-range export
    gate (S4 analog: the reference exports only ledgers at/behind the
    checkpoint boundary, internal/utils/main.go:827-846; here, only
    sessions the watermark has finalized).

    Implemented over the islands form on purpose: its ``session_end``
    is a plain aggregate output (``max(ts) + gap``), which Catalyst
    cannot push below the aggregation — unlike the native
    ``session_window`` path, where the same filter is unsoundly
    rewritten to a pre-merge row filter (see sessionize docstring).
    Same one-shuffle cost."""
    return sessionize_islands(df, cfg).filter(F.col("session_end") <= F.lit(as_of))


def _gap_seconds(gap: str) -> float:
    qty, unit = gap.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit.lower()]
    return float(qty) * mult


def session_oracle_sql(gap_sql: str = "INTERVAL 8 HOUR") -> str:
    """DuckDB SQL body (expects the transcripts CTE in scope)."""
    return f"""
    , flagged AS (
        SELECT *,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                    > {gap_sql} THEN 1 ELSE 0 END AS new_session
        FROM transcripts
    ), islands AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_ord
        FROM flagged
    )
    SELECT conv_id,
           MIN(ts) AS session_start,
           MAX(ts) + {gap_sql} AS session_end,
           COUNT(*) AS turn_count,
           CAST(SUM(CASE WHEN role='user' THEN 1 ELSE 0 END) AS BIGINT) AS user_turns,
           CAST(SUM(CASE WHEN role='assistant' THEN 1 ELSE 0 END) AS BIGINT) AS assistant_turns,
           CAST(SUM(CASE WHEN role='tool' THEN 1 ELSE 0 END) AS BIGINT) AS tool_turns,
           COUNT(DISTINCT tool) AS distinct_tools,
           MIN(turn_idx) AS first_turn_idx,
           MAX(turn_idx) AS last_turn_idx
    FROM islands
    GROUP BY conv_id, session_ord
    """
