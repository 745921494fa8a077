"""The sequential CEP patterns' shared machinery: one fold per pattern,
one input projection, one output-frame builder, and the ordered driver.

A pattern (streaming/matcher.py, transitions.py, bursts.py) is ONE fold

    fold(conv_id, rows, carry, closing) -> (out_rows, carry)

over one conversation's rows in turn_idx order. A row is
(turn_idx, role, tool, is_err, ts_us); `carry` is the JSON-able pattern
context that rides between calls (pending user turn, last tool, open
error run), `{}` when nothing is open; `closing` finalizes whatever the
carry still holds. Each pattern names its fold, its output schema and
`due`: the event time (µs) past which an open carry finalizes, or None
for a pattern that never finalizes on time (NoTimeout).

Two drivers run every fold under applyInPandasWithState keyed by
conv_id:

  * ordered (here): sorts each batch by turn_idx, drops rows at or
    below the replay high-water mark (idempotence under epoch replay),
    folds the rest at once — a row's output is emitted in the
    micro-batch it arrives in — and on EventTimeTimeout folds nothing
    with closing=True. State is O(1) per conversation: (max_idx,
    carry_json), dropped when the carry is empty.
  * watermark-ordered replay (streaming/ooo.py): buffers rows and
    replays the prefix the watermark has passed — the delivery-order-
    invariant tier.

Both tiers read the same projection (`project`): conv_id, turn_idx,
role, tool, is_err, ts, with is_err computed in the JVM, so neither
the wide text column nor lineage columns cross to Python (the
per-invocation transfer cost of *Accelerating Python UDFs in
Vectorized Query Execution*, CIDR 2022).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stellar_etl_spark.config import EngineConfig
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


def project(df: DataFrame, cfg: EngineConfig | None) -> GroupedData:
    """The one input projection of both tiers, grouped by conversation.
    `cfg` sets the watermark; None runs without one (a pattern with no
    timeout needs none)."""
    if cfg is not None:
        df = df.withWatermark("ts", cfg.watermark_delay)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.col("text").contains("|error|").alias("is_err"),
        "ts",
    ).groupBy("conv_id")


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

        rows: list = []
        for pdf in pdf_iter:
            for r in sorted(rows_of(pdf), key=lambda r: r[0]):
                if r[0] <= max_idx:
                    continue  # duplicate/replayed row: drop (idempotence)
                max_idx = r[0]
                rows.append(r)
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


def ordered_stream(
    df: DataFrame, pattern: Pattern, cfg: EngineConfig | None
) -> DataFrame:
    """Run `pattern` through the ordered driver: append-mode output,
    EventTimeTimeout when the pattern has a `due`, else NoTimeout."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if pattern.due is None
        else GroupStateTimeout.EventTimeTimeout
    )
    return project(df, cfg).applyInPandasWithState(
        make_ordered_fn(pattern),
        pattern.schema,
        ORDERED_STATE_SCHEMA,
        "append",
        timeout,
    )
