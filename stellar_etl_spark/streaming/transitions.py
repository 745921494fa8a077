"""Streaming first-order tool-transition detection — the CEP shape of
operators/journeys.tool_transitions: per conversation, each tool turn
emits the (previous tool -> tool) bigram the moment it arrives, with
'__start__' marking the first tool use. A per-conversation ValueState
(last tool + replay high-water mark) carries the pattern context
across micro-batches, so a bigram that straddles a batch boundary is
detected exactly like one inside a batch. The pattern is one fold
(``transitions_fold``) run by either CEP driver (streaming/cep.py);
its carry is the last tool (``lt``), and turns without a tool are
skipped inside the fold, so before ``ordered_stream(df, TRANSITIONS)``
a ``tool IS NOT NULL`` pre-filter is optional: it only trims what
crosses to Python.

This is the simplest instance of the engine's CEP pattern family: the
matcher (streaming/matcher.py) detects user->response pairs with
eviction semantics; this detects adjacency patterns over a filtered
event stream. Downstream the emitted bigrams reduce per micro-batch to
mergeable partial counts (SUM) through the exactly-once epoch sink —
the same partial-aggregate discipline as the streamed quantile
histogram and CMS.

Scale notes (100 TB): state is one (int, string) row per conversation
seen — for bounded state under unbounded conversation churn, arm the
same EventTimeTimeout the matcher uses (evicting last_tool only
forgets context for a conversation idle past the watermark; its next
tool turn re-enters as '__start__', the standard CEP session-reset
trade). The pattern has no ``due``, so the ordered form runs NoTimeout
and without a watermark: the parity drain's input is bounded and the
batch oracle has no reset semantics.

Reference analog: the in-process previous-value loops the reference
runs per ledger entry (/root/reference/internal/input/changes.go:102-136
keeps last-change maps keyed by ledger key), distributed and
checkpointed.
"""

from __future__ import annotations

from pyspark.sql import types as T

from stellar_etl_spark.streaming.cep import Pattern

TRANS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("prev_tool", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)

START = "__start__"


def transitions_fold(
    conv_id: str, rows: list, carry: dict, closing: bool
) -> tuple[list, dict]:
    """Adjacency bigrams over the tool-bearing subsequence, START-marked.
    Nothing is open at close: every bigram emits on arrival."""
    last = carry.get("lt")
    out: list = []
    for idx, _role, tool, _err, _ts in rows:
        if tool is None:
            continue
        out.append((conv_id, last if last is not None else START, tool, int(idx)))
        last = tool
    return out, ({} if last is None else {"lt": last})


TRANSITIONS = Pattern(transitions_fold, TRANS_OUTPUT_SCHEMA, due=None)
