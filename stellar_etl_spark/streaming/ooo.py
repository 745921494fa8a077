"""Watermark-ordered replay — delivery-order-invariant forms of the
sequential CEP processors (VERDICT r04 "Next round" #5).

The ordered processors (streaming/matcher.py, transitions.py,
bursts.py) are forward-only: a row with turn_idx at or below the
replay high-water mark is dropped. That is the right idempotence rule
for in-order delivery, but it makes them delivery-order SENSITIVE — a
reversed or shuffled file-delivery order silently drops most of the
input. This module restores order-invariance with the one tool Spark's
model provides for it, the watermark: rows buffer per conversation in
state (sorted by turn_idx), and whenever the watermark passes a prefix
of them — meaning no row that could precede that prefix can still
arrive, because Spark late-drops events below the watermark — the
prefix replays through the processor's sequential fold in exact
turn_idx order. The fold's carry (pending user turn / last tool / open
error run) rides between replays; the conversation closes when the
watermark passes its last buffered event (EventTimeTimeout — the
matcher's eviction machinery as ordered-replay finalization).

Exactness: the emitted rows equal the ordered processor's output on
ANY delivery permutation of the same input, provided (1) event time is
monotone in turn_idx within each conversation — the corpus invariant
the DQ monitor audits as ts_regression — and (2) (conv_id, turn_idx)
is unique — the invariant the DQ monitor audits as dup_turn_idx. The
replay keeps one row per turn_idx (the (idx, ts)-least), so a
duplicated index drops a row the batch operator keeps; the parity
tests assert the corpus has none. A monotonicity violation only
DELAYS finalization (the prefix rule stops at the first row the
watermark has not passed, in idx order); it never replays out of
order. Under the parity construction (PARITY_DELAY larger than the
corpus span, closer sentinels pushing the final watermark) nothing
finalizes mid-stream and the single terminal replay is exact
without (1), though it still needs (2).

State: only the not-yet-final rows of each conversation — bounded by
what a conversation produces within one watermark delay, the standard
bound of every watermarked stateful operator (c.f. session windows).
The ordered processors keep their O(1) state and stay the right choice
for in-order sources; these forms are the ingestion-disorder tier.

Reference analog: the reference assumes its captive-core feed delivers
ledgers in sequence (/root/reference/internal/input/ledgers.go) and has
no disorder story; this module is the Spark-native answer (buffer to
the watermark horizon, replay in order).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stellar_etl_spark.config import DEFAULT, EngineConfig
from stellar_etl_spark.operators.journeys import MIN_BURST
from stellar_etl_spark.streaming.matcher import OUTPUT_SCHEMA as PAIRS_OUTPUT_SCHEMA
from stellar_etl_spark.streaming.bursts import BURST_OUTPUT_SCHEMA
from stellar_etl_spark.streaming.transitions import START, TRANS_OUTPUT_SCHEMA

# One buffered row = (turn_idx, role, tool, is_err, ts_us); is_err is
# precomputed JVM-side so the error-burst fold never buffers text.
OOO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("idxs", T.ArrayType(T.IntegerType())),
        T.StructField("roles", T.ArrayType(T.StringType())),
        T.StructField("tools", T.ArrayType(T.StringType())),
        T.StructField("errs", T.ArrayType(T.BooleanType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("carry_json", T.StringType()),
    ]
)

# fold(conv_id, rows, carry, closing) -> (out_rows, carry)
Fold = Callable[[str, list, dict, bool], tuple[list, dict]]


def _pack(rows: list, carry: dict) -> tuple:
    return (
        [int(r[0]) for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [bool(r[3]) for r in rows],
        [int(r[4]) for r in rows],
        json.dumps(carry),
    )


def make_ooo_fn(fold: Fold, frame: Callable[[list], pd.DataFrame]):
    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        if state.hasTimedOut:
            idxs, roles, tools, errs, ts_us, carry_json = state.get
            carry = json.loads(carry_json)
            rows = list(zip(idxs, roles, tools, errs, ts_us))
            wm = state.getCurrentWatermarkMs()
            # final prefix in idx order: stop at the first row the
            # watermark has not strictly passed (a future arrival with
            # ts == wm is still legal)
            k = 0
            while k < len(rows) and rows[k][4] // 1000 < wm:
                k += 1
            prefix, rest = rows[:k], rows[k:]
            out, carry = fold(conv_id, prefix, carry, not rest)
            if rest:
                state.update(_pack(rest, carry))
                state.setTimeoutTimestamp(max(rest[0][4] // 1000, wm + 1))
            else:
                state.remove()
            if out:
                yield frame(out)
            return

        rows: list = []
        carry: dict = {}
        if state.exists:
            idxs, roles, tools, errs, ts_us, carry_json = state.get
            carry = json.loads(carry_json)
            rows = list(zip(idxs, roles, tools, errs, ts_us))

        for pdf in pdf_iter:
            if not len(pdf):
                continue
            ts = pdf["ts"]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            us = ts.astype("datetime64[us]").astype("int64")
            tools = pdf["tool"]
            roles = pdf["role"]
            for i in range(len(pdf)):
                tool = tools.iat[i]
                rows.append(
                    (
                        int(pdf["turn_idx"].iat[i]),
                        str(roles.iat[i]),
                        None if pd.isna(tool) else str(tool),
                        bool(pdf["is_err"].iat[i]),
                        int(us.iat[i]),
                    )
                )

        # deterministic order + per-idx dedupe (the ordered processors'
        # forward-only guard keeps exactly one row per idx; under
        # disorder "first arrival" is nondeterministic, so keep the
        # (idx, ts)-least row instead)
        rows.sort(key=lambda r: (r[0], r[4]))
        deduped: list = []
        for r in rows:
            if deduped and deduped[-1][0] == r[0]:
                continue
            deduped.append(r)
        if not deduped:  # pragma: no cover — defensive: nothing buffered
            if state.exists:
                state.remove()
            return

        state.update(_pack(deduped, carry))
        # wake when the watermark passes the oldest buffered event
        # (timeout must sit strictly above the current watermark)
        state.setTimeoutTimestamp(
            max(deduped[0][4] // 1000, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # pragma: no cover — keeps this a generator

    return _fn


# --- the three sequential folds (exact replicas of the ordered loops) ------

def matcher_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """streaming/matcher._match_fn's loop over an in-order final
    prefix: user waits, next turn matches, user-over-user and closing
    evict unmatched."""
    pi, pt = carry.get("pi"), carry.get("pt")
    out: list = []
    for idx, role, tool, _err, ts in rows:
        if role == "user":
            if pi is not None:
                out.append((conv_id, pi, None, None, None, None, True))
            pi, pt = int(idx), int(ts)
        elif pi is not None:
            # divide each term before subtracting: bit-identical to the
            # batch cast-to-double form (see matcher.py)
            lat = int(ts) / 1e6 - pt / 1e6
            out.append((conv_id, pi, int(idx), role, tool, lat, False))
            pi, pt = None, None
    if closing and pi is not None:
        out.append((conv_id, pi, None, None, None, None, True))
        pi = pt = None
    return out, ({} if pi is None else {"pi": pi, "pt": pt})


def _pairs_frame(rows: list) -> pd.DataFrame:
    cols = list(zip(*rows))
    return pd.DataFrame(
        {
            "conv_id": pd.array(cols[0], dtype="string"),
            "user_turn_idx": pd.array(cols[1], dtype="Int32"),
            "response_turn_idx": pd.array(cols[2], dtype="Int32"),
            "response_role": pd.array(cols[3], dtype="string"),
            "response_tool": pd.array(cols[4], dtype="string"),
            "latency_s": pd.array(cols[5], dtype="Float64"),
            "evicted_unmatched": pd.array(cols[6], dtype="boolean"),
        }
    )


def transitions_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """streaming/transitions._trans_fn's loop: adjacency bigrams over
    the tool-bearing subsequence, START-marked."""
    last = carry.get("lt")
    out: list = []
    for idx, _role, tool, _err, _ts in rows:
        if tool is None:
            continue
        out.append((conv_id, last if last is not None else START, tool, int(idx)))
        last = tool
    return out, ({} if last is None else {"lt": last})


def _trans_frame(rows: list) -> pd.DataFrame:
    cols = list(zip(*rows))
    return pd.DataFrame(
        {
            "conv_id": pd.array(cols[0], dtype="string"),
            "prev_tool": pd.array(cols[1], dtype="string"),
            "tool": pd.array(cols[2], dtype="string"),
            "turn_idx": pd.array(cols[3], dtype="Int32"),
        }
    )


def bursts_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """streaming/bursts._burst_fn's loop: error{>=MIN_BURST} runs close
    on a non-error turn or at conversation close."""
    si, rl = carry.get("si", 0), carry.get("rl", 0)
    su, lu = carry.get("su", 0), carry.get("lu", 0)
    out: list = []

    def burst():
        return (conv_id, int(si), int(si + rl - 1), int(rl), lu / 1e6 - su / 1e6)

    for idx, _role, _tool, err, ts in rows:
        if err:
            if rl == 0:
                si, su = int(idx), int(ts)
            rl += 1
            lu = int(ts)
        else:
            if rl >= MIN_BURST:
                out.append(burst())
            rl = 0
    if closing:
        if rl >= MIN_BURST:
            out.append(burst())
        rl = 0
    return out, ({} if rl == 0 else {"si": si, "rl": rl, "su": su, "lu": lu})


def _bursts_frame(rows: list) -> pd.DataFrame:
    cols = list(zip(*rows))
    return pd.DataFrame(
        {
            "conv_id": pd.array(cols[0], dtype="string"),
            "start_idx": pd.array(cols[1], dtype="Int32"),
            "end_idx": pd.array(cols[2], dtype="Int32"),
            "n_errors": pd.array(cols[3], dtype="Int64"),
            "span_s": pd.array(cols[4], dtype="Float64"),
        }
    )


# --- stream builders -------------------------------------------------------

def _prep(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    return (
        df.withWatermark("ts", cfg.watermark_delay)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            F.col("text").contains("|error|").alias("is_err"),
            "ts",
        )
        .groupBy("conv_id")
    )


def match_pairs_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant turn-pair matcher (see module doc)."""
    return _prep(df, cfg).applyInPandasWithState(
        make_ooo_fn(matcher_fold, _pairs_frame),
        PAIRS_OUTPUT_SCHEMA,
        OOO_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def tool_transitions_stream_ooo(
    df: DataFrame, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """Delivery-order-invariant bigram detector. Unlike the ordered
    form this one is watermark-driven, so the input must NOT be
    pre-filtered (a pushed-down filter below the watermark node would
    starve the replay timers — the snapshot_ttl lesson); null-tool
    rows are skipped inside the fold instead."""
    return _prep(df, cfg).applyInPandasWithState(
        make_ooo_fn(transitions_fold, _trans_frame),
        TRANS_OUTPUT_SCHEMA,
        OOO_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def error_bursts_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant quantified-CEP burst detector."""
    return _prep(df, cfg).applyInPandasWithState(
        make_ooo_fn(bursts_fold, _bursts_frame),
        BURST_OUTPUT_SCHEMA,
        OOO_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
