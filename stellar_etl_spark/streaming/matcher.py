"""Stateful user↔response matching — the stream-stream join (J1).

Reference analog: tx↔result positional zip inside one ledger
(/root/reference/internal/transform/ledger.go:133-166) plus the
ChangeCompactor's per-key state-across-batches pattern
(/root/reference/internal/input/changes.go:102-136). In a transcript
stream the "zip" becomes a per-conversation stateful join: a user turn
waits in state until its response arrives (possibly in a later
micro-batch) or the watermark evicts it.

Implementation: one fold (``matcher_fold``), the pattern ``PAIRS``, run
by either CEP driver (streaming/cep.py) — ``ordered_stream(df, PAIRS,
cfg)`` is applyInPandasWithState keyed by conv_id with
EventTimeTimeout. The carry is one pending user turn per conversation
(bounded, unlike the reference's unbounded seen-maps,
internal/input/orderbooks.go:26-33):

  * non-user turn while a user is pending  -> emit matched pair
  * user turn while a user is pending      -> emit previous unmatched
  * watermark passes pending.ts + delay    -> emit unmatched (evicted)

Matching semantics are identical to the batch operator
(operators/pairs.py::match_pairs); tests prove equality on the same
input for every pair resolvable before the final watermark.

Scale: state per key is O(1); keys shuffle-partitioned by conv_id;
hot conversations stream through one task but state stays constant —
the skew lever for this op is state-store partitioning, not salting
(salting would break per-key ordering).
"""

from __future__ import annotations

from pyspark.sql import types as T

from stellar_etl_spark.streaming.cep import Pattern

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("user_turn_idx", T.IntegerType()),
        T.StructField("response_turn_idx", T.IntegerType()),
        T.StructField("response_role", T.StringType()),
        T.StructField("response_tool", T.StringType()),
        T.StructField("latency_s", T.DoubleType()),
        T.StructField("evicted_unmatched", T.BooleanType()),
    ]
)


def matcher_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """User waits, the next turn matches it; user-over-user and closing
    evict the pending user unmatched. Carry: the pending user turn's
    idx and ts (``pi``/``pt``)."""
    pi, pt = carry.get("pi"), carry.get("pt")
    out: list = []
    for idx, role, tool, _err, ts in rows:
        if role == "user":
            if pi is not None:
                out.append((conv_id, pi, None, None, None, None, True))
            pi, pt = int(idx), int(ts)
        elif pi is not None:
            # divide each term before subtracting: bit-identical to
            # the batch form cast(ts as double) - cast(ts as double)
            # (subtract-then-divide rounds differently at µs
            # fractions and can flip the 6-dp oracle hash)
            lat = int(ts) / 1e6 - pt / 1e6
            out.append((conv_id, pi, int(idx), role, tool, lat, False))
            pi, pt = None, None
    if closing and pi is not None:
        out.append((conv_id, pi, None, None, None, None, True))
        pi = pt = None
    return out, ({} if pi is None else {"pi": pi, "pt": pt})


# evict as soon as the watermark passes the pending user turn
PAIRS = Pattern(matcher_fold, OUTPUT_SCHEMA, due=lambda carry: carry["pt"])
