"""The sequential CEP patterns' shared machinery: one fold per pattern,
one row gate, one input projection, one output-frame builder, and the
two drivers that run every fold.

A pattern (streaming/matcher.py, transitions.py, bursts.py) is ONE fold

    fold(conv_id, rows, carry, closing) -> (out_rows, carry)

over one conversation's rows in turn_idx order. A row is
(turn_idx, role, tool, is_err, ts_us); `carry` is the JSON-able pattern
context that rides between calls (pending user turn, last tool, open
error run), `{}` when nothing is open; `closing` finalizes whatever the
carry still holds. Each pattern names its fold, its output schema and
`due`: the event time (µs) past which an open carry finalizes, or None
for a pattern that never finalizes on time (NoTimeout).

Both drivers run the fold under applyInPandasWithState keyed by
conv_id, and `gate` is the only code that orders or drops their rows.
It takes every row of a call, from all of its Arrow frames at once
(Spark hands a group that straddles an Arrow batch to one call as
several frames), sorts them by (turn_idx, ts), keeps the
(turn_idx, ts)-least row of each turn_idx, and keeps only rows above a
high-water mark. So both tiers keep the same row of a duplicated index.

  * ordered (`ordered_stream`): gates the call against the replay
    high-water mark `max_idx` (idempotence under epoch replay), folds
    the rest at once — a row's output is emitted in the micro-batch it
    arrives in — and on EventTimeTimeout folds nothing with
    closing=True. State is O(1) per conversation: (max_idx,
    carry_json), dropped when the carry is empty. Forward-only, so
    correct when each conversation's turns arrive in order; a turn
    delivered after a higher one of its conversation drops. The
    watermark applies exactly when the pattern has a `due`.
  * watermark-ordered replay (`replay_stream`): the delivery-order-
    invariant tier. Rows buffer per conversation in state, gated; when
    the watermark passes a prefix of them (no row that could precede
    it can still arrive: Spark late-drops events below the watermark)
    the prefix replays through the fold in turn_idx order, and the
    conversation closes when the watermark passes its last buffered
    event. State is the not-yet-final rows of each conversation, the
    bound of every watermarked stateful operator (one watermark delay
    of rows, as for session windows).

Replay exactness: the replay tier's rows equal the ordered tier's on
ANY delivery permutation of the same input, provided (1) event time is
monotone in turn_idx within each conversation — the corpus invariant
the DQ monitor audits as ts_regression — and (2) (conv_id, turn_idx)
is unique — the invariant it audits as dup_turn_idx: the gate keeps
one row per index, so a duplicated index drops a row the batch
operator keeps, and the parity tests assert the corpus has none. A
monotonicity violation only DELAYS finalization (the prefix rule stops
at the first row the watermark has not passed, in idx order); it never
replays out of order. Under the parity construction (PARITY_DELAY
larger than the corpus span, closer sentinels pushing the final
watermark) nothing finalizes mid-stream and the single terminal replay
is exact without (1), though it still needs (2).

Both tiers read the same projection: conv_id, turn_idx, role, tool,
is_err, ts, with is_err computed in the JVM, so neither the wide text
column nor lineage columns cross to Python (the per-invocation
transfer cost of *Accelerating Python UDFs in Vectorized Query
Execution*, CIDR 2022). A replay-tier input must not be pre-filtered:
a filter pushed below the watermark node would starve its timers, so
rows the pattern ignores (null-tool turns for transitions) are skipped
inside the fold.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stellar_etl_spark.config import DEFAULT, EngineConfig
from stellar_etl_spark.streaming.source import epoch_us

# fold(conv_id, rows, carry, closing) -> (out_rows, carry)
Fold = Callable[[str, list, dict, bool], tuple[list, dict]]


class Pattern(NamedTuple):
    """One sequential CEP pattern, as both drivers run it."""

    fold: Fold
    schema: T.StructType
    # carry -> event time (µs) past which an open carry finalizes;
    # None: the pattern has no timeout
    due: Callable[[dict], int] | None


# ordered-tier state: replay high-water mark + the fold's carry
ORDERED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("max_idx", T.IntegerType()),
        T.StructField("carry_json", T.StringType()),
    ]
)

# replay-tier state: the buffered rows, one array per row field
# (is_err precomputed JVM-side, so the burst fold never buffers text),
# + the fold's carry
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

# Spark type -> pandas dtype of the output frames. Explicit nullable
# dtypes: an object-dtype all-NA column would reach Arrow untyped.
_PD_DTYPES = {
    "string": "string",
    "integer": "Int32",
    "long": "Int64",
    "double": "Float64",
    "boolean": "boolean",
}


def frame(schema: T.StructType, rows: list) -> pd.DataFrame:
    """The one output-frame builder: `rows` (tuples in schema order) as
    a DataFrame whose dtypes follow `schema`."""
    cols = list(zip(*rows))
    return pd.DataFrame(
        {
            f.name: pd.array(col, dtype=_PD_DTYPES[f.dataType.typeName()])
            for f, col in zip(schema.fields, cols)
        }
    )


def rows_of(pdf: pd.DataFrame) -> list:
    """A projected batch as fold rows (turn_idx, role, tool, is_err, ts_us)
    of plain Python values, in arrival order."""
    if not len(pdf):
        return []
    tools = pdf["tool"]
    return list(
        zip(
            pdf["turn_idx"].tolist(),
            pdf["role"].tolist(),
            tools.astype(object).where(tools.notna(), None).tolist(),
            [bool(e) for e in pdf["is_err"].tolist()],
            epoch_us(pdf["ts"]).tolist(),
        )
    )


def gate(rows: list, above: int) -> list:
    """The one row gate of both drivers: `rows` sorted by (turn_idx,
    ts), one row per turn_idx (the (turn_idx, ts)-least), and only
    those with turn_idx > `above`."""
    rows.sort(key=lambda r: (r[0], r[4]))
    kept: list = []
    for r in rows:
        if r[0] > above:
            kept.append(r)
            above = r[0]
    return kept


def _call_rows(pdf_iter: Iterator[pd.DataFrame]) -> list:
    """Every row of one call, across all of its frames."""
    return [r for pdf in pdf_iter for r in rows_of(pdf)]


def make_ordered_fn(pattern: Pattern):
    fold, schema, due = pattern

    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        if state.hasTimedOut:
            _, carry_json = state.get
            state.remove()
            out, _ = fold(conv_id, [], json.loads(carry_json), True)
            if out:
                yield frame(schema, out)
            return

        max_idx, carry = -1, {}
        if state.exists:
            max_idx, carry_json = state.get
            carry = json.loads(carry_json)

        # rows at or below the high-water mark are replays: dropped
        rows = gate(_call_rows(pdf_iter), max_idx)
        if rows:
            max_idx = rows[-1][0]
        out, carry = fold(conv_id, rows, carry, False)

        if carry:
            state.update((max_idx, json.dumps(carry)))
            if due is not None:
                # finalize when the watermark passes the carry's event
                # time (timeout must sit strictly above the watermark)
                state.setTimeoutTimestamp(
                    max(due(carry) // 1000, state.getCurrentWatermarkMs() + 1)
                )
        elif state.exists:
            # nothing open -> drop state; offsets+state are checkpointed
            # together so replays re-enter with the matching state version
            state.remove()
        if out:
            yield frame(schema, out)

    return _fn


def _pack(rows: list, carry: dict) -> tuple:
    return (
        [int(r[0]) for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [bool(r[3]) for r in rows],
        [int(r[4]) for r in rows],
        json.dumps(carry),
    )


def _unpack(value: tuple) -> tuple[list, dict]:
    *cols, carry_json = value
    return list(zip(*cols)), json.loads(carry_json)


def make_replay_fn(pattern: Pattern):
    fold, schema = pattern.fold, pattern.schema

    def _fn(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        if state.hasTimedOut:
            rows, carry = _unpack(state.get)
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

        rows, carry = _unpack(state.get) if state.exists else ([], {})
        rows = gate(rows + _call_rows(pdf_iter), -1)
        if not rows:  # pragma: no cover — defensive: nothing buffered
            if state.exists:
                state.remove()
            return

        state.update(_pack(rows, carry))
        # wake when the watermark passes the oldest buffered event
        # (timeout must sit strictly above the current watermark)
        state.setTimeoutTimestamp(
            max(rows[0][4] // 1000, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # pragma: no cover — keeps this a generator

    return _fn


def _run(
    df: DataFrame,
    cfg: EngineConfig,
    fn,
    pattern: Pattern,
    state_schema: T.StructType,
    timed: bool,
) -> DataFrame:
    """The one input projection, grouped by conversation, through `fn`
    in append mode; `timed` sets the watermark and EventTimeTimeout."""
    if timed:
        df = df.withWatermark("ts", cfg.watermark_delay)
    return (
        df.select(
            "conv_id",
            "turn_idx",
            "role",
            "tool",
            F.col("text").contains("|error|").alias("is_err"),
            "ts",
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            pattern.schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout
            if timed
            else GroupStateTimeout.NoTimeout,
        )
    )


def ordered_stream(
    df: DataFrame, pattern: Pattern, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """`pattern` through the ordered driver over a streaming turn
    DataFrame (event time `ts`): append-mode output, watermark and
    EventTimeTimeout when the pattern has a `due`, else NoTimeout."""
    return _run(
        df, cfg, make_ordered_fn(pattern), pattern, ORDERED_STATE_SCHEMA,
        pattern.due is not None,
    )


def replay_stream(
    df: DataFrame, pattern: Pattern, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """`pattern` through the watermark-ordered replay driver: the
    delivery-order-invariant tier (module doc). The input must not be
    pre-filtered."""
    return _run(
        df, cfg, make_replay_fn(pattern), pattern, OOO_STATE_SCHEMA, True
    )
