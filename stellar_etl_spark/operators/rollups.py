"""Tumbling / sliding turn-rate rollups — the export_X family analog.

Each reference export command produces one output table per run
(export_ledgers, export_operations, ...; dispatch at
/root/reference/cmd/export_ledger_entry_changes.go:90-109). Our rollup
family produces one rate table per (window kind, dimension):

  tool_rate_1m / role_rate_1m        tumbling F.window(ts, 1 minute)
  tool_rate_5m_sliding               sliding  F.window(ts, 5m, 1m)

Counts: turns (rows) and convs (distinct conv_id). In streaming,
count_distinct is replaced by approx_count_distinct or a two-level
agg; batch keeps the exact count for oracle parity.

Scale: tumbling aggs are map-side-combinable (partial agg before the
shuffle — Spark does this automatically for hash aggregates); the
sliding window replicates each row length/slide times *logically*
without materializing copies (Spark expands windows in the generator
node). Distinct counts force a second shuffle; at 100 TB prefer
approx_count_distinct (HLL, mergeable) — exposed via distinct="approx".

The window lengths are module constants: the DuckDB oracles
(``rate_oracle_sql``, ``sliding_oracle_sql``, ``PEAK_ORACLE_SQL``) are
written for exactly these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TUMBLING = "1 minute"
SLIDING_LENGTH = "5 minutes"
SLIDING_SLIDE = "1 minute"
PEAK_COARSE = "10 minutes"


def _distinct_convs(mode: str):
    # "exact"  count_distinct — batch only (streaming-illegal)
    # "set"    size(collect_set) — exact AND streaming-legal; state per
    #          (window, dim) group grows with the distinct conv count,
    #          so it is the oracle-parity mode, not the 100 TB default
    # "approx" HLL++ — constant state, mergeable; the scale default for
    #          unbounded per-group cardinality
    if mode == "exact":
        return F.count_distinct("conv_id")
    if mode == "set":
        return F.size(F.collect_set("conv_id"))
    if mode == "approx":
        return F.approx_count_distinct("conv_id")
    raise ValueError(f"unknown distinct mode {mode!r}")


def _rate(df: DataFrame, dim: str, window_col, distinct: str, drop_null_dim: bool) -> DataFrame:
    src = df.filter(F.col(dim).isNotNull()) if drop_null_dim else df
    convs = _distinct_convs(distinct).cast("long").alias("convs")
    return (
        src.groupBy(window_col.alias("w"), dim)
        .agg(F.count(F.lit(1)).cast("long").alias("turns"), convs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            dim,
            "turns",
            "convs",
        )
    )


def tool_rate(df: DataFrame, distinct: str = "exact") -> DataFrame:
    """Per-tool turn rate, tumbling windows; tool turns only."""
    return _rate(df, "tool", F.window("ts", TUMBLING), distinct, drop_null_dim=True)


def role_rate(df: DataFrame, distinct: str = "exact") -> DataFrame:
    """Per-role turn rate, tumbling windows."""
    return _rate(df, "role", F.window("ts", TUMBLING), distinct, drop_null_dim=False)


def tool_rate_sliding(df: DataFrame, distinct: str = "exact") -> DataFrame:
    """Per-tool rate over sliding windows."""
    return _rate(
        df,
        "tool",
        F.window("ts", SLIDING_LENGTH, SLIDING_SLIDE),
        distinct,
        drop_null_dim=True,
    )


def rate_oracle_sql(dim: str, minutes: int = 1, where: str = "") -> str:
    """Tumbling-window oracle: epoch-aligned buckets identical to
    Spark's F.window (origin 1970-01-01)."""
    return f"""
    SELECT
      to_timestamp(floor(epoch(ts) / {minutes * 60}) * {minutes * 60})::TIMESTAMP AS window_start,
      to_timestamp(floor(epoch(ts) / {minutes * 60}) * {minutes * 60} + {minutes * 60})::TIMESTAMP AS window_end,
      {dim},
      COUNT(*) AS turns,
      COUNT(DISTINCT conv_id) AS convs
    FROM transcripts
    {where}
    GROUP BY 1, 2, 3
    """


def sliding_oracle_sql(dim: str, length_min: int = 5, slide_min: int = 1, where: str = "") -> str:
    """Sliding-window oracle: each row contributes to length/slide
    windows, generated via an unnested offset series."""
    k = length_min // slide_min
    return f"""
    SELECT
      to_timestamp(floor(epoch(ts) / {slide_min * 60}) * {slide_min * 60}
                   - off.k * {slide_min * 60})::TIMESTAMP AS window_start,
      to_timestamp(floor(epoch(ts) / {slide_min * 60}) * {slide_min * 60}
                   - off.k * {slide_min * 60} + {length_min * 60})::TIMESTAMP AS window_end,
      {dim},
      COUNT(*) AS turns,
      COUNT(DISTINCT conv_id) AS convs
    FROM transcripts
    CROSS JOIN (SELECT UNNEST(range({k})) AS k) off
    {where}
    GROUP BY 1, 2, 3
    """


# --- chained windowed aggregation (window-on-window) -------------------------

def tool_rate_peak(df: DataFrame) -> DataFrame:
    """Two-level windowed aggregation: per-tool 1-minute turn counts,
    re-aggregated into 10-minute peak/total/active-minute rollups —
    the ops-dashboard shape ('worst minute in each 10-minute block').

    The SAME code path runs batch and streaming: the second groupBy
    keys on F.window(F.window_time(w), ...), which in streaming is the
    chained time-window aggregation Spark supports natively from 3.4
    (two stateful aggs in one query, each finalized by the same
    watermark) — before that, window-on-window needed a foreachBatch
    detour or an external re-read. No distinct counts here on purpose:
    simple SUM/MAX/COUNT partials keep both levels map-side
    combinable and streaming-legal in append mode.

    Scale notes: level 1 reduces the stream to (minute × tool)
    cardinality before any second shuffle; level 2 aggregates that
    tiny keyspace. State per level is one row per open (window, tool)
    — the watermark closes both."""
    fine = (
        df.filter(F.col("tool").isNotNull())
        .groupBy(F.window("ts", TUMBLING).alias("w"), "tool")
        .agg(F.count(F.lit(1)).cast("long").alias("turns"))
    )
    return (
        fine.groupBy(
            F.window(F.window_time("w"), PEAK_COARSE).alias("cw"), "tool"
        )
        .agg(
            F.max("turns").cast("long").alias("peak_1m_turns"),
            F.sum("turns").cast("long").alias("total_turns"),
            F.count(F.lit(1)).cast("long").alias("active_minutes"),
        )
        .select(
            F.col("cw.start").alias("window_start"),
            F.col("cw.end").alias("window_end"),
            "tool",
            "peak_1m_turns",
            "total_turns",
            "active_minutes",
        )
    )


PEAK_ORACLE_SQL = """
    , fine AS (
      SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) AS m, tool,
             COUNT(*) AS turns
      FROM transcripts WHERE tool IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT
      to_timestamp((m // 10) * 600)::TIMESTAMP AS window_start,
      to_timestamp((m // 10) * 600 + 600)::TIMESTAMP AS window_end,
      tool,
      CAST(MAX(turns) AS BIGINT) AS peak_1m_turns,
      CAST(SUM(turns) AS BIGINT) AS total_turns,
      CAST(COUNT(*) AS BIGINT) AS active_minutes
    FROM fine GROUP BY 1, 2, 3
"""
