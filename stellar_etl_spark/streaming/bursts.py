"""Streaming error-burst detection — the quantified CEP pattern.

The CEP family's third member: the matcher (streaming/matcher.py)
detects A->B pairs with eviction, the transition detector
(streaming/transitions.py) detects adjacency bigrams; this detects the
*quantified* pattern error{>=3} on consecutive turns — a run of error
turns is open while errors keep arriving, closes the moment a
non-error turn for the conversation arrives (emitting the burst if it
reached MIN_BURST), and a run still open when the watermark passes its
last error is flushed by EventTimeTimeout (the matcher's eviction
machinery, reused for pattern finalization). The pattern is one fold
(``bursts_fold``) run by either CEP driver (streaming/cep.py); its
carry is the open run (``si``/``rl``/``su``/``lu``), and is_err arrives
computed in the JVM by the shared projection.

The whole turn stream flows through (no error pre-filter): the
non-error turns ARE the pattern's closing events, and turn_idx
contiguity then needs no explicit gap check — semantics identical to
the batch gaps-and-islands form (operators/journeys.error_bursts),
whose SQL is the exact value oracle.

Scale notes: state is one small row (replay high-water mark + the
run's carry) per conversation with an OPEN run only (closed-run
conversations drop their state, matcher discipline); hot
conversations stream through one task with O(1) state. Reference
analog: the per-ledger consecutive-failure scans the reference runs
in-process (internal/input/changes.go:102-136 keeps last-value maps
per key), distributed, checkpointed, and finalized by watermark
instead of end-of-loop.
"""

from __future__ import annotations

from pyspark.sql import types as T

from stellar_etl_spark.operators.journeys import MIN_BURST
from stellar_etl_spark.streaming.cep import Pattern

BURST_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("start_idx", T.IntegerType()),
        T.StructField("end_idx", T.IntegerType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("span_s", T.DoubleType()),
    ]
)


def bursts_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """error{>=MIN_BURST} runs close on a non-error turn or at
    conversation close. Carry: the open run's start idx, length, and
    first/last error ts (``si``/``rl``/``su``/``lu``)."""
    si, rl = carry.get("si", 0), carry.get("rl", 0)
    su, lu = carry.get("su", 0), carry.get("lu", 0)
    out: list = []

    def burst():
        # divide each term before subtracting: bit-identical to the
        # batch cast(ts as double) - cast(ts as double) (see matcher)
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


# finalize an open run when the watermark passes its last error
BURSTS = Pattern(bursts_fold, BURST_OUTPUT_SCHEMA, due=lambda carry: carry["lu"])
