"""Output checks: each streamed table against the batch operator over
the same input."""

from __future__ import annotations

import contextlib
import datetime
import os

from pyspark.sql import functions as F

WATERMARK = datetime.timedelta(minutes=10)  # the CLI's --watermark default

SESSION_COLS = ["conv_id", "session_start", "session_end", "turn_count",
                "user_turns", "assistant_turns", "tool_turns", "distinct_tools",
                "first_turn_idx", "last_turn_idx"]
PAIR_COLS = ["conv_id", "user_turn_idx", "response_turn_idx", "response_role",
             "response_tool", "evicted_unmatched"]


@contextlib.contextmanager
def few_partitions(spark):
    """Run the batch operators of a check with one shuffle partition
    per core instead of the engine's 32: the results are the same, and
    the run ends sooner (the checks took 4-5 s of a run, not 5-6 s).
    The engine's setting is restored before the next query starts."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(len(os.sched_getaffinity(0))))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def final_watermark(spark, inp: str) -> datetime.datetime:
    """The watermark a drain of `inp` ends at: max event time, floored
    to ms, minus the delay."""
    from stellar_etl_spark.streaming.source import read_transcript_batch

    mx = read_transcript_batch(spark, inp).agg(F.max("ts")).first()[0]
    return mx.replace(microsecond=mx.microsecond // 1000 * 1000) - WATERMARK


class SessionsOracle:
    """`sessions.sessionize` over the batch read, keeping the sessions
    the final watermark has closed. The filter runs after collecting:
    an in-plan filter on session_end is pushed below the session merge
    (see the `sessionize` docstring)."""

    def __init__(self, spark, inp: str, gap: str):
        from stellar_etl_spark.config import EngineConfig
        from stellar_etl_spark.operators import sessions
        from stellar_etl_spark.streaming.source import read_transcript_batch

        cfg = EngineConfig(session_gap=gap)
        with few_partitions(spark):
            wm = final_watermark(spark, inp)
            batch = sessions.sessionize(read_transcript_batch(spark, inp), cfg)
            self.expected = [t for t in _rows(batch, SESSION_COLS) if t[2] <= wm]

    def check(self, spark, sink_root: str) -> bool:
        from stellar_etl_spark.streaming.sink import EpochCommitSink

        got = EpochCommitSink(sink_root).read_table(spark, "sessions")
        with few_partitions(spark):
            return bool(self.expected) and _rows(got, SESSION_COLS) == self.expected


class PairsOracle:
    """`pairs.match_pairs` over the batch read, without the user turns
    still pending at the final watermark (their eviction timer has not
    fired: it fires once the watermark is past the turn's event time)."""

    def __init__(self, spark, inp: str):
        from stellar_etl_spark.operators import pairs
        from stellar_etl_spark.streaming.source import read_transcript_batch

        src = read_transcript_batch(spark, inp)
        with few_partitions(spark):
            wm = final_watermark(spark, inp)
            batch = pairs.match_pairs(src).join(
                src.select("conv_id", F.col("turn_idx").alias("user_turn_idx"),
                           F.col("ts").alias("user_ts")),
                ["conv_id", "user_turn_idx"],
            )
            rows = _rows(batch, PAIR_COLS + ["latency_s", "user_ts"])
        self.expected = [
            r[:-2] + (None if r[-2] is None else round(r[-2], 6),)
            for r in rows
            if not (r[5] and r[-1] >= wm)
        ]

    def check(self, spark, sink_root: str) -> tuple[bool, float]:
        """(equal, matched pairs / emitted pairs)"""
        from stellar_etl_spark.streaming.sink import EpochCommitSink

        got = EpochCommitSink(sink_root).read_table(spark, "pairs")
        with few_partitions(spark):
            rows = [
                r[:-1] + (None if r[-1] is None else round(r[-1], 6),)
                for r in _rows(got, PAIR_COLS + ["latency_s"])
            ]
        matched = sum(1 for r in rows if not r[5])
        return (bool(rows) and sorted(rows) == sorted(self.expected),
                matched / max(len(rows), 1))


def check_turns(spark, sink_root: str, landed_dir: str) -> bool:
    """The live `turns` table equals `enrich_turns` over every landed
    file as a multiset: equal row counts, and no expected row missing
    from the table (a duplicated row makes the counts differ)."""
    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.operators.enrich import enrich_turns
    from stellar_etl_spark.streaming.sink import EpochCommitSink
    from stellar_etl_spark.streaming.source import read_transcript_batch

    exp = enrich_turns(read_transcript_batch(spark, landed_dir), EngineConfig())
    got = EpochCommitSink(sink_root).read_table(spark, "turns").select(*exp.columns)
    with few_partitions(spark):
        return got.count() == exp.count() and exp.exceptAll(got).limit(1).count() == 0
