"""Watermark-ordered replay — the second CEP driver, which runs the
sequential patterns' folds delivery-order-invariantly (VERDICT r04
"Next round" #5).

The ordered driver (streaming/cep.py, behind streaming/matcher.py,
transitions.py, bursts.py) is forward-only: a row with turn_idx at or
below the replay high-water mark is dropped. That is the right
idempotence rule for in-order delivery, but it makes the ordered
processors delivery-order SENSITIVE — a reversed or shuffled
file-delivery order silently drops most of the input. This module
restores order-invariance with the one tool Spark's model provides
for it, the watermark: rows buffer per conversation in state (sorted
by turn_idx), and whenever the watermark passes a prefix
of them — meaning no row that could precede that prefix can still
arrive, because Spark late-drops events below the watermark — the
prefix replays through the pattern's one fold (the same fold the
ordered driver runs) in exact turn_idx order. The fold's carry
(pending user turn / last tool / open error run) rides between
replays; the conversation closes when the watermark passes its last
buffered event (EventTimeTimeout — the matcher's eviction machinery
as ordered-replay finalization).

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
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stellar_etl_spark.config import DEFAULT, EngineConfig
from stellar_etl_spark.streaming.bursts import BURSTS
from stellar_etl_spark.streaming.cep import Pattern, frame, project, rows_of
from stellar_etl_spark.streaming.matcher import PAIRS
from stellar_etl_spark.streaming.transitions import TRANSITIONS

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


def _pack(rows: list, carry: dict) -> tuple:
    return (
        [int(r[0]) for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [bool(r[3]) for r in rows],
        [int(r[4]) for r in rows],
        json.dumps(carry),
    )


def make_ooo_fn(pattern: Pattern):
    fold, schema = pattern.fold, pattern.schema

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
                yield frame(schema, out)
            return

        rows: list = []
        carry: dict = {}
        if state.exists:
            idxs, roles, tools, errs, ts_us, carry_json = state.get
            carry = json.loads(carry_json)
            rows = list(zip(idxs, roles, tools, errs, ts_us))

        for pdf in pdf_iter:
            rows.extend(rows_of(pdf))

        # deterministic order + per-idx dedupe (the ordered driver's
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


def _replay_stream(df: DataFrame, pattern: Pattern, cfg: EngineConfig) -> DataFrame:
    return project(df, cfg).applyInPandasWithState(
        make_ooo_fn(pattern),
        pattern.schema,
        OOO_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def match_pairs_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant turn-pair matcher (see module doc)."""
    return _replay_stream(df, PAIRS, cfg)


def tool_transitions_stream_ooo(
    df: DataFrame, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """Delivery-order-invariant bigram detector. Unlike the ordered
    form this one is watermark-driven, so the input must NOT be
    pre-filtered (a pushed-down filter below the watermark node would
    starve the replay timers — the snapshot_ttl lesson); null-tool
    rows are skipped inside the fold instead."""
    return _replay_stream(df, TRANSITIONS, cfg)


def error_bursts_stream_ooo(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Delivery-order-invariant quantified-CEP burst detector."""
    return _replay_stream(df, BURSTS, cfg)
