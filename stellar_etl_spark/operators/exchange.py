"""Pairwise-exchange table — the history_trades analog (SURVEY M6).

Reference analog: ``TransformTrade``
(/root/reference/internal/transform/trade.go:21-162) turns one
operation into N trade rows, each stamped with its ``claimOrder``
position (trade.go:41-42), joined to the counterparty offer, priced by
a reverse as-of scan for the latest matching ledger-entry change
(``findTradeSellPrice`` -> ``findLatestOperationChange``,
trade.go:264-304), and identified by a TOID-packed
``HistoryOperationID`` (internal/input/trades.go:69).

Transcript graft: a tool turn "claims" against its initiating user
turn (the offer). Multiple consecutive tool turns claiming the same
user turn get ``claim_order`` 0..n-1 — the claimOrder analog. The
"price" is the as-of lookup of the most recent strictly-earlier
assistant turn's amount (the numeric payload embedded in ``text``),
exactly the reverse-scan shape of findLatestOperationChange. The
canonical ``market_key`` sorts the (tool, previous tool) pair — the
canonical asset-pair ordering of DimMarket
(offer_normalized.go:103-106, L5 in SURVEY §2.6).

``exchange_id`` packs (conv, user_turn, claim) exactly like the TOID
(toid/main.go:66-84): conv_num<<32 | user_turn_idx<<12 | claim_order.
Field widths mirror the TOID's (ledger 31 bits, tx 20 bits, op 12
bits, toid/main.go:37-49): conv_num gets the wide 31-bit field (the
ledger analog), user_turn_idx is capped at TURN_BITS=20 (<=1,048,575
turns/conversation — the tx-per-ledger bound) and claim_order at 12
bits (<=4,095 claims per user turn — the op-per-tx bound). Out-of-range
values raise (ids.pack_py contract) instead of silently bleeding into
the adjacent field.

Scale notes: everything is window functions over
(conv_id ORDER BY turn_idx) — one shuffle on conv_id, growing frames
only (shrinking frames are recomputed per row, measured in round 1),
then a narrow projection. No joins: the as-of lookups ride the same
sort, which is how this stays one exchange at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stellar_etl_spark import ids

CLAIM_BITS = 12
CONV_SHIFT = ids.TURN_BITS + CLAIM_BITS  # 32 — the TOID ledger shift
CONV_BITS = 63 - CONV_SHIFT  # 31 usable bits; keeps exchange_id positive


def _range_checked(col: Column, bits: int, name: str) -> Column:
    """Range guard for one packed field — the Column form of
    ids.pack_py's ValueError (toid/main.go silently truncates; we
    fail loudly, SURVEY §1.3). A NULL field fails too (a conv_id
    without a numeric suffix has no conv_num)."""
    ok = (col >= 0) & (col < (1 << bits))
    return F.when(ok, col).otherwise(
        F.raise_error(
            F.coalesce(
                F.concat(
                    F.lit(f"{name} exceeds {bits}-bit field capacity: "),
                    col.cast("string"),
                ),
                F.lit(f"{name} is NULL"),
            )
        )
    )


def exchanges(df: DataFrame) -> DataFrame:
    """transcripts -> pairwise exchange rows (one per tool turn that
    has an initiating user turn)."""
    # F.get: NULL-tolerant out-of-bounds (matches DuckDB list indexing;
    # generator transcripts embed fewer text fields than events-derived)
    # try_cast: non-numeric payloads (external re-ingested JSONL) yield
    # NULL instead of an ANSI cast error — mirrored by TRY_CAST in the
    # oracle so both dialects agree beyond the generator's contract
    amount = F.get(F.split(F.col("text"), r"\|"), 5).try_cast("long")
    wprev = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = (
        df.withColumn("amount", amount)
        .withColumn(
            "user_turn_idx",
            F.last(
                F.when(F.col("role") == "user", F.col("turn_idx")), ignorenulls=True
            ).over(wprev),
        )
        .withColumn(
            "asof_assistant_amount",
            F.last(
                F.when(F.col("role") == "assistant", F.col("amount")), ignorenulls=True
            ).over(wprev),
        )
        .withColumn(
            "prev_tool",
            F.last(
                F.when(F.col("role") == "tool", F.col("tool")), ignorenulls=True
            ).over(wprev),
        )
    )
    claims = base.filter(
        (F.col("role") == "tool") & F.col("user_turn_idx").isNotNull()
    )
    wc = Window.partitionBy("conv_id", "user_turn_idx").orderBy("turn_idx")
    claims = claims.withColumn(
        "claim_order", (F.row_number().over(wc) - 1).cast("long")
    )
    conv_num = _range_checked(
        ids.conv_num_from_suffix("conv_id"), CONV_BITS, "conv_num"
    )
    user_idx = _range_checked(
        F.col("user_turn_idx").cast("long"), ids.TURN_BITS, "user_turn_idx"
    )
    claim = _range_checked(F.col("claim_order"), CLAIM_BITS, "claim_order")
    exchange_id = (
        conv_num * F.lit(1 << CONV_SHIFT)
        + user_idx * F.lit(1 << CLAIM_BITS)
        + claim
    ).cast("long")
    market_key = F.when(
        F.col("prev_tool").isNotNull(),
        F.concat_ws(
            "|",
            F.least("tool", "prev_tool"),
            F.greatest("tool", "prev_tool"),
        ),
    ).otherwise(F.col("tool"))
    return claims.select(
        exchange_id.alias("exchange_id"),
        "conv_id",
        F.col("user_turn_idx").cast("long").alias("user_turn_idx"),
        F.col("turn_idx").cast("long").alias("tool_turn_idx"),
        "claim_order",
        "tool",
        "amount",
        "asof_assistant_amount",
        market_key.alias("market_key"),
        "ts",
    )


EXCHANGES_ORACLE_SQL = f"""
    , b AS (
      SELECT conv_id, turn_idx, role, tool, ts,
             TRY_CAST(string_split(text, '|')[6] AS BIGINT) AS amount,
             MAX(CASE WHEN role = 'user' THEN turn_idx END) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS user_turn_idx,
             LAST_VALUE(CASE WHEN role = 'assistant'
                             THEN TRY_CAST(string_split(text, '|')[6] AS BIGINT) END IGNORE NULLS) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_assistant_amount,
             LAST_VALUE(CASE WHEN role = 'tool' THEN tool END IGNORE NULLS) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_tool
      FROM transcripts
    ), claims AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, user_turn_idx
                                     ORDER BY turn_idx) - 1 AS BIGINT) AS claim_order
      FROM b
      WHERE role = 'tool' AND user_turn_idx IS NOT NULL
    )
    SELECT CAST(SUBSTR(conv_id, 2) AS BIGINT) * {1 << CONV_SHIFT}
             + CAST(user_turn_idx AS BIGINT) * {1 << CLAIM_BITS}
             + claim_order AS exchange_id,
           conv_id,
           CAST(user_turn_idx AS BIGINT) AS user_turn_idx,
           CAST(turn_idx AS BIGINT) AS tool_turn_idx,
           claim_order,
           tool,
           amount,
           asof_assistant_amount,
           CASE WHEN prev_tool IS NOT NULL
                THEN LEAST(tool, prev_tool) || '|' || GREATEST(tool, prev_tool)
                ELSE tool END AS market_key,
           ts
    FROM claims
"""
