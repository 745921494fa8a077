"""Streaming query assembly — the export_ledger_entry_changes analog.

`start_query` is the one place the engine starts a streaming query: it
owns the query name, the output mode, the foreachBatch writer, the
checkpoint and the trigger (an availableNow drain, or a live
processing-time trigger every LIVE_TRIGGER). Every query commits
through the exactly-once `EpochCommitSink` protocol (sink.py).

`start_fanout` is the common writer: one stream fans out to N output
tables inside a single foreachBatch (one checkpoint, one lineage trail,
all-or-nothing epoch commit), mirroring the reference's
one-consumer-loop/many-tables dispatch
(cmd/export_ledger_entry_changes.go:79-291) with the atomicity it
lacks. Lineage rides the table writes (sink.foreach_batch_writer), so
a fan-out of one table runs one Spark job per epoch. A watermarked
stateful aggregation (tumbling / sliding / session rollups, pair
matching) is a fan-out with one table and the identity transform,
written in append mode.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from stellar_etl_spark.streaming.sink import EpochCommitSink, foreach_batch_writer

# How often a live query polls its source when idle. Spark's
# processing-time executor starts the next micro-batch at once when a
# batch outlasts the interval, so under load batches already run back
# to back and size themselves to what landed meanwhile; the interval
# only bounds how long a file that lands on an idle stream waits. 250 ms
# keeps that wait short, while polling costs an idle query ~0.05 cores
# at local[4] (0 s, Spark's 10 ms polling delay, cost ~0.3 cores and
# was no faster).
LIVE_TRIGGER = "250 milliseconds"


def start_query(
    stream: DataFrame,
    writer: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Start `stream` with `writer` as its foreachBatch function. Caller
    awaits termination (availableNow) or stops the query (live)."""
    w = (
        stream.writeStream.queryName(query_name)
        .outputMode(output_mode)
        .foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=LIVE_TRIGGER)
    return w.start()


def start_fanout(
    stream: DataFrame,
    sink_root: str,
    checkpoint: str,
    transforms: Mapping[str, Callable[[DataFrame], DataFrame]],
    available_now: bool = True,
    query_name: str = "fanout",
) -> StreamingQuery:
    """Start the multi-table fan-out query. Caller awaits termination."""
    writer = foreach_batch_writer(EpochCommitSink(sink_root), transforms)
    return start_query(
        stream, writer, checkpoint, query_name, available_now=available_now
    )
