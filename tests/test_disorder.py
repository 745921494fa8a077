"""Adversarial out-of-order ingestion for the stateful drains
(VERDICT r04 "Next round" #5): the same inputs delivered in REVERSED or
seeded-SHUFFLED file order (one slice per trigger) must produce
byte-identical results — for the sequential CEP processors via the
watermark-ordered replay tier (streaming/cep.py), and for the
DQ monitor and the LSH bucket state because their state designs are
delivery-order invariant by construction. The matcher's disorder drain
is also a driver query (``turn_pairs_disorder_streamed``,
__spark_entry__.py) gated by the DuckDB value oracle; these tests pin
the other drains against their batch Spark operators, plus one
kill/resume mid-disorder.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.streaming import parity
from stellar_etl_spark.streaming.cep import replay_stream
from stellar_etl_spark.streaming.matcher import PAIRS
from stellar_etl_spark.streaming.pipeline import start_query
from stellar_etl_spark.streaming.sink import EpochCommitSink, foreach_batch_writer
from stellar_etl_spark.streaming.source import read_transcript_stream

from tests.conftest import SF_UNIT, _rows, kill_resume


def test_matcher_disorder_reversed_equals_batch(spark):
    """Reversed delivery through the watermark-ordered matcher equals
    the batch matcher row-for-row (including evictions: with the
    parity delay nothing evicts mid-stream, so the single terminal
    replay must reproduce every unmatched row too)."""
    from stellar_etl_spark.operators.pairs import match_pairs
    from stellar_etl_spark.sources.transcripts import load_transcripts

    src_dir = parity.disorder_dir(spark, SF_UNIT, "reverse")
    # the ordered replay keeps one row per (conv_id, turn_idx)
    # (streaming/cep.py, exactness clause): a corpus with a duplicated
    # index would diverge from the batch operator, so fail on it here
    dups = (
        spark.read.parquet(src_dir)
        .groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dups.count() == 0, dups.limit(5).collect()

    got = parity.streamed_turn_pairs(
        spark,
        SF_UNIT,
        src_dir=src_dir,
        max_files_per_trigger=1,
        ooo=True,
    )
    exp = match_pairs(load_transcripts(spark, SF_UNIT), EngineConfig())
    cols = [
        "conv_id", "user_turn_idx", "response_turn_idx",
        "response_role", "response_tool", "evicted_unmatched",
    ]
    assert _rows(got, cols) == _rows(exp, cols)
    lat = ["conv_id", "user_turn_idx", "latency_s"]
    assert _rows(got.filter(~F.col("evicted_unmatched")), lat) == _rows(
        exp.filter(~F.col("evicted_unmatched")), lat
    )


def test_transitions_disorder_shuffled_equals_batch(spark):
    from stellar_etl_spark.operators.journeys import tool_transitions
    from stellar_etl_spark.sources.transcripts import load_transcripts

    got = parity.streamed_tool_transitions(
        spark,
        SF_UNIT,
        src_dir=parity.disorder_dir(spark, SF_UNIT, "shuffle"),
        ooo=True,
    )
    exp = tool_transitions(load_transcripts(spark, SF_UNIT))
    assert _rows(got) == _rows(exp.select(*got.columns))


def test_bursts_disorder_reversed_equals_batch(spark):
    from stellar_etl_spark.operators.journeys import error_bursts
    from stellar_etl_spark.sources.transcripts import load_transcripts

    got = parity.streamed_error_bursts(
        spark,
        SF_UNIT,
        src_dir=parity.disorder_dir(spark, SF_UNIT, "reverse"),
        ooo=True,
    )
    exp = error_bursts(load_transcripts(spark, SF_UNIT))
    assert _rows(got) == _rows(exp.select(*got.columns))


def test_dq_disorder_reversed_equals_batch(spark):
    """The DQ monitor's group-stats state is order-invariant by
    construction (idx-keyed count/min/max merge + terminal
    adjudication) — no replay wrapper needed."""
    from stellar_etl_spark.operators.dq import dq_violations, inject_dq_violations
    from stellar_etl_spark.sources.transcripts import load_transcripts

    got = parity.streamed_dq_violations(
        spark,
        SF_UNIT,
        src_dir=parity.disorder_dir(spark, SF_UNIT, "reverse"),
    )
    exp = dq_violations(inject_dq_violations(load_transcripts(spark, SF_UNIT)))
    assert _rows(got) == _rows(exp.select(*got.columns))


def test_minhash_disorder_reversed_equals_batch(spark):
    """LSH bucket-membership state is order-invariant: membership sets
    and the BAND_CAP poisoning rule depend on WHICH docs hit a bucket,
    not on arrival order."""
    from stellar_etl_spark.functions.corpus import load_corpus
    from stellar_etl_spark.functions.dedup import minhash_lsh_dedup

    got = parity.streamed_dedup_minhash(
        spark,
        SF_UNIT,
        src_dir=parity.disorder_doc_dir(spark, SF_UNIT, "reverse"),
    )
    exp = minhash_lsh_dedup(load_corpus(spark, SF_UNIT))
    assert _rows(got) == _rows(exp.select(*got.columns))


def test_matcher_disorder_kill_resume(spark, tmp_path):
    """Kill the watermark-ordered matcher mid-disorder (reversed
    delivery, one file per trigger), resume from the same checkpoint:
    the buffered per-conversation replay state survives the restart and
    the terminal replay still equals the batch matcher."""
    from stellar_etl_spark.deploy import ship_package
    from stellar_etl_spark.operators.pairs import match_pairs
    from stellar_etl_spark.sources.transcripts import load_transcripts

    ship_package(spark)
    stream = read_transcript_stream(
        spark, parity.disorder_dir(spark, SF_UNIT, "reverse"),
        max_files_per_trigger=1, with_lineage=False,
    )
    sink = EpochCommitSink(str(tmp_path / "sink"))
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    at_kill, after = kill_resume(
        replay_stream(stream, PAIRS, cfg),
        foreach_batch_writer(sink, {"pairs": lambda df: df}),
        sink, str(tmp_path / "ckpt"), "ooo_resume",
    )
    assert after > at_kill

    got = sink.read_table(spark, "pairs").filter(
        F.col("conv_id") != parity.CLOSER_CONV
    )
    exp = match_pairs(load_transcripts(spark, SF_UNIT), EngineConfig())
    cols = [
        "conv_id", "user_turn_idx", "response_turn_idx",
        "response_role", "response_tool", "evicted_unmatched",
    ]
    assert _rows(got, cols) == _rows(exp, cols)


def test_ooo_matcher_monotonicity_violation_still_exact(spark, tmp_path):
    """The documented exactness condition of the watermark-ordered
    replay is per-conversation ts monotone in turn_idx; a VIOLATION (a
    wild future-timestamp row at a low idx) must only DELAY
    finalization — the idx-order prefix rule stops at the non-final
    row — never corrupt replay order or drop data. Construction: idx 2
    carries a ts 7 minutes ahead of its neighbors while the watermark
    delay is 5 minutes, so after slice 0 the watermark (driven by the
    wild row) sits BETWEEN the normal rows' timestamps: idx 0/1 are
    watermark-final while idx 2 blocks the prefix, and slice 1's
    normal-ts rows arrive exactly at the watermark boundary (kept —
    Spark drops strictly-below only). The final fold must equal the
    batch matcher on the same rows."""
    from stellar_etl_spark.operators.pairs import match_pairs

    base_us = 1_700_000_000 * 1_000_000

    def turn(idx, role, ts_s):
        return ("m", idx, role, "ok", None, base_us + ts_s * 1_000_000)

    slices = [
        # idx 2's ts (420 s) is 7 min ahead of its neighbors
        [turn(0, "user", 0), turn(1, "assistant", 60),
         turn(2, "user", 420)],
        [turn(3, "assistant", 120), turn(4, "user", 180)],
        # closers: push the watermark past everything
        [("zzc", 0, "assistant", "closer", None,
          base_us + 100_000 * 1_000_000)],
        [("zzc", 1, "assistant", "closer", None,
          base_us + 100_001 * 1_000_000)],
    ]
    src_dir = parity.write_pinned(str(tmp_path / "src"), slices)

    stream = read_transcript_stream(
        spark, src_dir, max_files_per_trigger=1, with_lineage=False
    )
    sink = EpochCommitSink(str(tmp_path / "sink"))
    q = start_query(
        replay_stream(stream, PAIRS, EngineConfig(watermark_delay="5 minutes")),
        foreach_batch_writer(sink, {"pairs": lambda df: df}),
        str(tmp_path / "ckpt"), "ooo_monotonicity",
    )
    assert q.awaitTermination(540), "monotonicity-violation drain did not finish"

    got = sink.read_table(spark, "pairs").filter(F.col("conv_id") == "m")
    batch_in = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).filter(F.col("conv_id") == "m")
    exp = match_pairs(batch_in, EngineConfig())
    cols = [
        "conv_id", "user_turn_idx", "response_turn_idx",
        "response_role", "response_tool", "evicted_unmatched",
    ]
    assert _rows(got, cols) == _rows(exp, cols)
    # shape check: (0,1) and (2,3) paired, 4 evicted unmatched
    assert _rows(got, ["user_turn_idx", "response_turn_idx"]) == [
        (0, 1), (2, 3), (4, None)
    ]
