"""Streaming semantics: batch==streaming equality under one watermark,
stateful matcher parity, exactly-once resume, sink idempotence.

These are the engine's recast of the reference's golden determinism
gate (same input + watermark => identical rows, SURVEY §5) and the
"overlapping batches cause duplicate loads" invariant
(/root/reference/internal/input/changes.go:171-173), made structural.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import replace

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from stellar_etl_spark import session
from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.operators import pairs as batch_pairs
from stellar_etl_spark.operators import rollups, sessions
from stellar_etl_spark.sources.generator import write_transcripts
from stellar_etl_spark.streaming.cep import ordered_stream
from stellar_etl_spark.streaming.matcher import PAIRS
from stellar_etl_spark.streaming.pipeline import start_fanout, start_query
from stellar_etl_spark.streaming.sink import (
    EpochCommitSink,
    epoch_stamped_writer,
    foreach_batch_writer,
)
from stellar_etl_spark.streaming.source import (
    read_transcript_batch,
    read_transcript_stream,
)
from tests.conftest import SF_UNIT, _hard_kill, _rows, kill_resume

CFG = EngineConfig(session_gap="30 minutes", watermark_delay="10 minutes")


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("transcripts"))
    n = write_transcripts(d, n_convs=150, n_files=6, seed=42)
    assert n > 300
    return d


def _manifest(sink, epoch_id):
    with open(os.path.join(sink.root, "_commits", f"{epoch_id:020d}.json")) as f:
        return json.load(f)


def _final_watermark(spark, data_dir, delay_s=600):
    """The watermark Spark reaches after draining the input: max event
    time floored to ms, minus the delay (progress events are async, so
    the listener can't be trusted for the *final* value)."""
    import datetime

    max_ts = read_transcript_batch(spark, data_dir).agg(F.max("ts")).first()[0]
    ms = max_ts.replace(microsecond=(max_ts.microsecond // 1000) * 1000)
    return ms - datetime.timedelta(seconds=delay_s)


def _identity(df):
    return df


def _pinned_stream(spark, src_dir):
    """A write_pinned input, one file per micro-batch, without lineage."""
    return read_transcript_stream(spark, src_dir, max_files_per_trigger=1,
                                  with_lineage=False)


def test_stream_tool_rate_equals_batch(spark, data_dir, tmp_path):
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=2,
                                    with_lineage=False)
    agg = rollups.tool_rate(
        stream.withWatermark("ts", CFG.watermark_delay), distinct="approx"
    )
    q = start_fanout(agg, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                     {"tool_rate": _identity}, query_name="t_rate")
    assert q.awaitTermination(540), "stream did not finish within 540s"

    wm = _final_watermark(spark, data_dir)
    got = EpochCommitSink(str(tmp_path / "sink")).read_table(spark, "tool_rate")
    batch = rollups.tool_rate(read_transcript_batch(spark, data_dir), distinct="approx")
    expected = batch.filter(F.col("window_end") <= F.lit(wm))
    cols = ["window_start", "window_end", "tool", "turns"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert len(_rows(got, cols)) > 0


def test_stream_sessions_equal_batch(spark, data_dir, tmp_path):
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=3)
    agg = sessions.sessionize(stream, CFG, watermark=True)
    q = start_fanout(agg, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                     {"sessions": _identity}, query_name="t_sessions")
    assert q.awaitTermination(540), "stream did not finish within 540s"

    wm = _final_watermark(spark, data_dir)
    got = EpochCommitSink(str(tmp_path / "sink")).read_table(spark, "sessions")
    batch = sessions.sessionize(read_transcript_batch(spark, data_dir), CFG)
    cols = ["conv_id", "session_start", "session_end", "turn_count",
            "user_turns", "assistant_turns", "tool_turns"]
    # filter driver-side: an in-plan filter on session_end is unsoundly
    # pushed below the session merge (see sessionize docstring /
    # test_closed_sessions_filter_is_sound)
    expected = [t for t in _rows(batch, cols) if t[2] <= wm]
    assert _rows(got, cols) == expected
    assert len(expected) > 0

    # the safe as-of operator agrees with the driver-side filter
    closed = sessions.closed_sessions(read_transcript_batch(spark, data_dir), CFG, wm)
    assert _rows(closed, cols) == expected

    # the session aggregate drops the source's _source_file, so its
    # batches get no lineage pass (and, one table, no persist); the
    # per-table row maps come from the written files all the same
    sink = EpochCommitSink(str(tmp_path / "sink"))
    manifests = [_manifest(sink, e) for e in sink.committed_epochs()]
    assert manifests and all(m["lineage"] == {} for m in manifests)
    for m in manifests:
        t = m["tables"]["sessions"]
        assert sum(t["partitions"].values()) == t["rows"]


def test_matcher_stream_equals_batch(spark, data_dir, tmp_path):
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=2,
                                    with_lineage=False)
    matched = ordered_stream(stream, PAIRS, CFG)
    q = start_fanout(matched, str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                     {"turn_pairs": _identity}, query_name="t_pairs")
    assert q.awaitTermination(540), "stream did not finish within 540s"

    got = EpochCommitSink(str(tmp_path / "sink")).read_table(spark, "turn_pairs")
    batch = batch_pairs.match_pairs(read_transcript_batch(spark, data_dir), CFG)

    cols = ["conv_id", "user_turn_idx", "response_turn_idx", "response_role",
            "response_tool", "evicted_unmatched"]
    got_matched = _rows(got.filter(~F.col("evicted_unmatched")), cols)
    batch_matched = _rows(batch.filter(~F.col("evicted_unmatched")), cols)
    assert got_matched == batch_matched
    assert len(got_matched) > 100

    # latencies agree too (6dp)
    gl = _rows(got.filter(~F.col("evicted_unmatched"))
               .select("conv_id", "user_turn_idx", F.round("latency_s", 6).alias("l")))
    bl = _rows(batch.filter(~F.col("evicted_unmatched"))
               .select("conv_id", "user_turn_idx", F.round("latency_s", 6).alias("l")))
    assert gl == bl

    # streamed evictions are a subset of batch unmatched rows
    got_un = set(_rows(got.filter(F.col("evicted_unmatched")), ["conv_id", "user_turn_idx"]))
    batch_un = set(_rows(batch.filter(F.col("evicted_unmatched")), ["conv_id", "user_turn_idx"]))
    assert got_un <= batch_un


def test_exactly_once_resume(spark, data_dir, tmp_path):
    """Kill mid-stream, restart from checkpoint: no dupes, no gaps —
    the structural form of the reference's non-overlap invariant."""
    sink = EpochCommitSink(str(tmp_path / "sink"))
    at_kill, after = kill_resume(
        read_transcript_stream(spark, data_dir, max_files_per_trigger=1),
        foreach_batch_writer(sink, {"turns": _identity}),
        sink, str(tmp_path / "ckpt"), "exactly_once",
    )
    assert after > at_kill

    got = sink.read_table(spark, "turns").select("conv_id", "turn_idx")
    exp = read_transcript_batch(spark, data_dir).select("conv_id", "turn_idx")
    assert got.count() == exp.count()  # no dupes
    assert got.distinct().count() == exp.distinct().count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0

    # lineage captured per epoch; the per-table partition map sums to
    # the rows each epoch's data directory reads back
    manifests = [_manifest(sink, e) for e in sink.committed_epochs()]
    for m in manifests:
        turns = m["tables"]["turns"]
        n = spark.read.parquet(turns["path"]).count()
        assert sum(turns["partitions"].values()) == turns["rows"] == n
    files = [f for m in manifests for f in m["lineage"].get("input_files", [])]
    assert len(set(files)) == 6  # every input file accounted for exactly once
    assert len(files) == len(set(files))


def _source_files(data_dir):
    return sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))


def _drain_fanout(spark, data_dir, tmp_path, transforms, name, with_lineage=True):
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=2,
                                    with_lineage=with_lineage)
    q = start_fanout(stream, str(tmp_path / name / "sink"),
                     str(tmp_path / name / "ckpt"), transforms, query_name=name)
    assert q.awaitTermination(540), f"{name} did not finish within 540s"
    sink = EpochCommitSink(str(tmp_path / name / "sink"))
    return q, [_manifest(sink, e) for e in sink.committed_epochs()]


def _assert_exact_lineage(spark, data_dir, manifests):
    """Across epochs every input file is listed exactly once, and each
    epoch's `lineage.rows` is what its listed files hold."""
    files = [f for m in manifests for f in m["lineage"]["input_files"]]
    assert sorted(os.path.basename(f) for f in files) == _source_files(data_dir)
    for m in manifests:
        lin = m["lineage"]
        assert lin["rows"] == spark.read.parquet(*lin["input_files"]).count()


def test_lineage_adds_no_spark_job(spark, data_dir, tmp_path):
    """A one-table fan-out traces lineage inside its write: the drain
    runs as many Spark jobs per epoch as the same drain without
    `_source_file`."""
    tracker = spark.sparkContext.statusTracker()

    def jobs_per_epoch(with_lineage):
        q, manifests = _drain_fanout(spark, data_dir, tmp_path, {"turns": _identity},
                                     f"t_jobs_{with_lineage}", with_lineage)
        assert all(("input_files" in m["lineage"]) == with_lineage for m in manifests)
        return len(tracker.getJobIdsForGroup(str(q.runId))) / len(manifests)

    assert jobs_per_epoch(True) == jobs_per_epoch(False)


def test_fanout_pruned_plan_commits_exact_lineage(spark, data_dir, tmp_path):
    """A transform whose plan prunes the observed scan still commits
    every epoch with its exact input files."""
    _, manifests = _drain_fanout(spark, data_dir, tmp_path,
                                 {"none": lambda df: df.filter(F.lit(False))},
                                 "t_pruned")
    _assert_exact_lineage(spark, data_dir, manifests)
    assert all(m["tables"]["none"]["rows"] == 0 for m in manifests)


def test_multi_table_fanout_lineage(spark, data_dir, tmp_path):
    """Two tables read one persisted batch: lineage stays exact and
    each table's partition map matches the part files it wrote."""
    from stellar_etl_spark.operators.enrich import enrich_turns

    transforms = {
        "turns": lambda df: enrich_turns(df, CFG),
        "tooled": lambda df: df.filter(F.col("tool").isNotNull()),
    }
    _, manifests = _drain_fanout(spark, data_dir, tmp_path, transforms, "t_multi")
    _assert_exact_lineage(spark, data_dir, manifests)
    for m in manifests:
        assert m["tables"]["turns"]["rows"] == m["lineage"]["rows"]
        for t in m["tables"].values():
            by_file = (
                spark.read.parquet(t["path"])
                .groupBy(F.input_file_name().alias("f")).count().collect()
            )
            held: dict[str, int] = {}
            for r in by_file:
                pid = str(int(os.path.basename(r["f"]).split("-")[1]))
                held[pid] = held.get(pid, 0) + r["count"]
            assert {p: n for p, n in t["partitions"].items() if n} == held
            assert sum(t["partitions"].values()) == t["rows"]


def test_enrich_turns_quarantines_conv_id_without_numeric_suffix(spark, tmp_path):
    """A conv_id without a numeric suffix (the closer sentinels' among
    them) gets a NULL turn_id and its own quarantine error, in batch
    and in a stream, instead of failing its whole micro-batch on an
    ANSI cast. Its error ranks right after an empty conv_id's."""
    from stellar_etl_spark.operators.enrich import enrich_turns
    from stellar_etl_spark.streaming import parity

    t0 = 1_767_225_600_000_000  # 2026-01-01 in epoch µs
    slices = [
        [("c3", 0, "user", "hi there", None, t0),
         ("x-7-a", -1, "user", "no suffix", None, t0 + 1)],
        [("c3", 1, "assistant", "hello", None, t0 + 2),
         ("", 0, "user", "empty id", None, t0 + 3)],
    ]
    src = parity.write_pinned(str(tmp_path / "src"), slices, t0 + 3)
    sink = EpochCommitSink(str(tmp_path / "sink"))
    q = start_fanout(_pinned_stream(spark, src), sink.root, str(tmp_path / "ckpt"),
                     {"turns": enrich_turns},
                     query_name="t_no_suffix")
    assert q.awaitTermination(540), "stream did not finish within 540s"

    batch = enrich_turns(read_transcript_batch(spark, src))
    got = sink.read_table(spark, "turns")
    assert _rows(got) == _rows(batch)
    errors = {(r.conv_id, r.turn_idx): (r.turn_id, r.error) for r in got.collect()}
    no_suffix = "conv_id has no numeric suffix"
    assert errors == {
        ("c3", 0): (3 << 20, None),
        ("c3", 1): ((3 << 20) + 1, None),
        ("x-7-a", -1): (None, no_suffix),
        ("", 0): (None, "empty conv_id"),
        (parity.CLOSER_CONV, 0): (None, no_suffix),
        (parity.CLOSER_CONV, 1): (None, no_suffix),
    }


def _land(files, watched, staging):
    """Land `files` in the watched dir whole: copy to staging, then
    rename."""
    for f in files:
        tmp = os.path.join(staging, os.path.basename(f))
        shutil.copyfile(f, tmp)
        os.rename(tmp, os.path.join(watched, os.path.basename(f)))


def _await_committed(sink, q, files, timeout_s=120):
    want = {os.path.basename(f) for f in files}
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and q.isActive:
        got = {
            os.path.basename(f)
            for e in sink.committed_epochs()
            for f in _manifest(sink, e)["lineage"]["input_files"]
        }
        if want <= got:
            return
        time.sleep(0.05)
    raise AssertionError(f"{sorted(want)} not committed: {q.exception()}")


def test_live_fanout_resumes_and_idles(spark, data_dir, tmp_path, monkeypatch):
    """A live fan-out, resumed on a checkpoint that a query under a 2 s
    trigger started, commits every file of two landing waves in exactly
    one epoch, and commits nothing while its source stays idle."""
    from stellar_etl_spark.streaming import pipeline

    files = [os.path.join(data_dir, f) for f in _source_files(data_dir)]
    watched, staging = tmp_path / "landed", tmp_path / "staging"
    watched.mkdir()
    staging.mkdir()
    sink = EpochCommitSink(str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = read_transcript_stream(spark, str(watched), max_files_per_trigger=None)
        return start_fanout(stream, sink.root, ckpt, {"turns": _identity},
                            available_now=False, query_name="t_live")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "LIVE_TRIGGER", "2 seconds")
        q = start()
        _land(files[:1], watched, staging)
        _await_committed(sink, q, files[:1])
        q.stop()

    q = start()
    try:
        for wave in (files[1:3], files[3:]):
            _land(wave, watched, staging)
            _await_committed(sink, q, wave)
        epochs = sink.committed_epochs()
        time.sleep(2.5)
        assert q.isActive and sink.committed_epochs() == epochs
    finally:
        q.stop()

    manifests = [_manifest(sink, e) for e in epochs]
    _assert_exact_lineage(spark, data_dir, manifests)
    assert all(m["write_ms"] > 0 for m in manifests)
    assert _rows(sink.read_table(spark, "turns")) == _rows(
        read_transcript_batch(spark, data_dir))


def test_sink_idempotent_epoch(spark, tmp_path):
    sink = EpochCommitSink(str(tmp_path / "s"))
    df = spark.range(5).toDF("x")
    assert sink.write_epoch(7, {"t": df}) is True
    assert sink.write_epoch(7, {"t": spark.range(500).toDF("x")}) is False  # replay: no-op
    assert sink.read_table(spark, "t").count() == 5


def test_sink_writes_no_success_marker(spark, tmp_path):
    """The manifest rename is the sink's commit point, so its writes
    leave no `_SUCCESS` marker: a committed epoch dir and a compaction
    snapshot hold only part files and their .crc files."""
    sink = EpochCommitSink(str(tmp_path / "s"))
    for e in (0, 1):
        assert sink.write_epoch(e, {"t": spark.range(5).toDF("x")}) is True
    snap = sink.compact(spark)
    dirs = [os.path.join(sink.root, "data", "t", f"epoch={e}") for e in (0, 1)]
    for d in dirs + [snap["tables"]["t"]["path"]]:
        names = os.listdir(d)
        assert any(f.startswith("part-") for f in names), names
        assert all(re.fullmatch(r"\.?part-.+\.parquet(\.crc)?", f) for f in names), names


def test_sink_replay_evaluates_one_table(spark, tmp_path):
    """A replayed epoch re-evaluates the micro-batch once, not once per
    table: the second table would fail if it were evaluated."""
    sink = EpochCommitSink(str(tmp_path / "s"))
    assert sink.write_epoch(3, {"a": spark.range(5).toDF("x")}) is True
    poisoned = spark.range(5).select(F.raise_error(F.lit("evaluated")).alias("x"))
    assert sink.write_epoch(3, {"a": spark.range(5).toDF("x"), "b": poisoned}) is False


class _StateWidthListener(StreamingQueryListener):
    """Per-run state-store instance counts from query progress, and the
    runs that have terminated (their progress events have all arrived:
    the listener bus delivers one query's events in order)."""

    def __init__(self):
        self.started: list[str] = []
        self.instances: dict[str, list[int]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.instances.setdefault(str(p.runId), []).extend(
            op.numStateStoreInstances for op in p.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))

    def wait_terminated(self, run_id: str, timeout_s: float = 60.0) -> None:
        import time

        deadline = time.monotonic() + timeout_s
        while run_id not in self.terminated and time.monotonic() < deadline:
            time.sleep(0.1)
        assert run_id in self.terminated, f"no termination event for run {run_id}"


def test_one_partition_width_is_session_cores(spark, data_dir, tmp_path):
    """get_spark sets one partition width, the session's cores: the
    streaming state width, and the width a batch shuffle starts from
    before AQE coalesces it. An `extra_conf` spark.sql.shuffle.partitions
    sets both."""
    cores = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)

    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=3,
                                    with_lineage=False)
    q = start_fanout(sessions.sessionize(stream, CFG, watermark=True),
                     str(tmp_path / "sink"), str(tmp_path / "ckpt"),
                     {"sessions": _identity}, query_name="t_state_width")
    assert q.awaitTermination(540), "stream did not finish within 540s"
    widths = [op["numStateStoreInstances"]
              for p in q.recentProgress for op in p["stateOperators"]]
    assert widths and set(widths) == {cores}

    def batch_plan():
        agg = (read_transcript_batch(spark, data_dir)
               .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")))
        assert agg.collect()
        return agg._jdf.queryExecution().executedPlan().toString()

    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert spark.conf.get(initial, None) is None
    plan = batch_plan()
    assert re.search(rf"hashpartitioning\(conv_id#\d+, {cores}\)", plan), plan
    assert "AQEShuffleRead coalesced" in plan, plan

    width = cores + 3
    cfg = EngineConfig(master=spark.sparkContext.master,
                       extra_conf={"spark.sql.shuffle.partitions": str(width)})
    try:
        assert session.get_spark(cfg, app_name="pytest") is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(width)
        plan = batch_plan()
        assert re.search(rf"hashpartitioning\(conv_id#\d+, {width}\)", plan), plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))


def test_resume_keeps_checkpoint_state_width(spark, data_dir, tmp_path):
    """A sessions checkpoint started under the old 32-partition default,
    hard-killed after its first committed epoch, resumes under the new
    default: the output equals batch sessionize for the closed
    sessions, every epoch is committed once, and the resumed query
    still runs 32 state-store instances, the width pinned in the
    checkpoint's offset metadata."""
    import shutil
    import threading
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from stellar_etl_spark import cli

    files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    inp = tmp_path / "in"
    inp.mkdir()
    for f in files[:3]:  # copy2 keeps the time-ordered mtimes
        shutil.copy2(os.path.join(data_dir, f), inp / f)
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    manifests = tmp_path / "sink" / "_commits"
    argv = ["export-sessions", "--stream", "--input", str(inp), "--out", out,
            "--checkpoint", ckpt, "--session-gap", "30 minutes",
            "--files-per-trigger", "1"]
    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    widths = _StateWidthListener()
    spark.streams.addListener(widths)
    try:
        # phase 1: the old default, killed once an epoch is committed
        errors: list[Exception] = []

        def run() -> None:
            try:
                cli.main(argv, spark=spark)
            except StreamingQueryException:
                pass  # the kill's terminal report
            except Exception as e:
                errors.append(e)

        spark.conf.set(key, "32")
        try:
            t = threading.Thread(target=run)
            t.start()
            while t.is_alive() and not any(manifests.glob("*.json")):
                time.sleep(0.05)
            for q in spark.streams.active:
                if q.name == "sessions":
                    _hard_kill(q)
            t.join(120)
        finally:
            spark.conf.set(key, default)
        assert not t.is_alive() and not errors, errors
        before = {e: (manifests / f"{e:020d}.json").read_text()
                  for e in EpochCommitSink(out).committed_epochs()}
        assert before

        # phase 2: the rest of the input, resumed under the session default
        for f in files[3:]:
            shutil.copy2(os.path.join(data_dir, f), inp / f)
        assert cli.main(argv, spark=spark) == 0
        widths.wait_terminated(widths.started[-1])
    finally:
        spark.streams.removeListener(widths)

    offsets0 = (tmp_path / "ckpt" / "sessions" / "offsets" / "0").read_text()
    assert '"spark.sql.shuffle.partitions":"32"' in offsets0
    resumed = widths.instances.get(widths.started[-1], [])
    assert resumed and set(resumed) == {32}

    sink = EpochCommitSink(out)
    epochs = sink.committed_epochs()
    commit_log = tmp_path / "ckpt" / "sessions" / "commits"
    spark_commits = sorted(int(f.name) for f in commit_log.iterdir() if f.name.isdigit())
    assert epochs == spark_commits == list(range(len(epochs)))
    for e, manifest in before.items():  # write-once: no epoch recommitted
        assert (manifests / f"{e:020d}.json").read_text() == manifest

    cols = ["conv_id", "session_start", "session_end", "turn_count",
            "user_turns", "assistant_turns", "tool_turns"]
    wm = _final_watermark(spark, data_dir)
    batch = sessions.sessionize(read_transcript_batch(spark, data_dir), CFG)
    expected = [r for r in _rows(batch, cols) if r[2] <= wm]
    assert _rows(sink.read_table(spark, "sessions"), cols) == expected
    assert len(expected) > 0


def test_checkpoint_manager_follows_master():
    """A local master checkpoints through Hadoop's FileSystem API; any
    other master gets no setting, so Spark's default stands."""
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session.checkpoint_manager(master) == session.FS_CHECKPOINT_MANAGER
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443",
                   "local-cluster[2,1,1024]"):
        assert session.checkpoint_manager(master) is None


class _RunningJVM:
    """A stand-in for a running driver JVM: `loads` says whether its
    class path has the engine's local FileSystem."""

    def __init__(self, loads):
        self.loads = loads

    def __getattr__(self, name):
        return self

    def __call__(self):
        return self

    def getClassByName(self, name):
        if not self.loads:
            raise Py4JError(f"java.lang.ClassNotFoundException: {name}")


def test_local_filesystem_follows_master_and_jvm(tmp_path, monkeypatch, caplog):
    """A local master gets the fork-free FileSystem, compiled with the
    host's javac when no JVM runs yet; a cluster master, an
    `extra_conf` that names its own `fs.file.impl`, a host without
    javac, a JVM the engine did not launch and a running JVM that
    cannot load the class get nothing, the last three with one warning
    naming the cause."""
    from pyspark import SparkContext

    jvm_dir = tmp_path / "jvm"
    jvm_dir.mkdir()
    shutil.copy(os.path.join(session._JVM_DIR, "ForkFreeLocalFileSystem.java"), jvm_dir)
    monkeypatch.setattr(session, "_JVM_DIR", str(jvm_dir))
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    impl, cp = session.FS_IMPL_CONF, session.CLASSPATH_CONF

    def pick(master, extra=None):
        caplog.clear()
        with caplog.at_level("WARNING", logger=session.__name__):
            return session.local_filesystem(master, extra or {})

    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
        assert pick(master) == {}
    stock = "org.apache.hadoop.fs.LocalFileSystem"
    assert pick("local[4]", {impl: stock}) == {}

    with monkeypatch.context() as m:  # no JDK compiler on this host
        m.setattr(shutil, "which", lambda name: None)
        assert pick("local[4]") == {}
        assert [r.getMessage() for r in caplog.records] == [
            "stock Hadoop local FileSystem (a chmod fork per file): no javac on PATH"]
    assert not (jvm_dir / "build").exists()

    confs = pick("local[*]", {cp: "lib/extra.jar"})
    classes = confs[cp].split(os.pathsep)[0]
    assert confs == {impl: session.LOCAL_FS_CLASS, cp: classes + os.pathsep + "lib/extra.jar"}
    assert os.path.dirname(classes) == str(jvm_dir / "build")
    assert os.listdir(jvm_dir / "build") == [os.path.basename(classes)]  # nothing staged left
    class_file = session.LOCAL_FS_CLASS.replace(".", os.sep) + ".class"
    assert os.path.isfile(os.path.join(classes, class_file))
    assert session.local_fs_classes() == classes  # compiled once
    assert caplog.records == []

    with monkeypatch.context() as m:  # a JVM spark-submit launched
        m.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert pick("local[4]") == {}
        [warning] = caplog.records
        assert "launched outside the engine" in warning.getMessage()

    monkeypatch.setattr(SparkContext, "_jvm", _RunningJVM(loads=True))
    assert pick("local[4]") == {impl: session.LOCAL_FS_CLASS}
    monkeypatch.setattr(SparkContext, "_jvm", _RunningJVM(loads=False))
    assert pick("local[4]") == {}
    [warning] = caplog.records
    assert "ClassNotFoundException" in warning.getMessage()


def test_local_session_filesystem_is_fork_free_and_checksummed(spark, tmp_path):
    """The test session's local FileSystem is the engine's class, still a
    LocalFileSystem. What it creates gets stock Hadoop's modes and a
    .crc; a mode beyond 0777 is still set; and a committed part file
    with one flipped byte fails its read on the checksum."""
    jvm = spark.sparkContext._jvm
    hadoop = jvm.org.apache.hadoop.fs
    fs = hadoop.FileSystem.getLocal(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert hadoop.LocalFileSystem._java_lang_class.isInstance(fs)

    out = fs.create(hadoop.Path(str(tmp_path / "f.bin")))
    out.write(bytearray(b"payload"))
    out.close()
    fs.mkdirs(hadoop.Path(str(tmp_path / "d")), hadoop.permission.FsPermission.getDirDefault())
    mode = {f: oct(os.stat(tmp_path / f).st_mode & 0o7777) for f in os.listdir(tmp_path)}
    assert mode == {"f.bin": "0o644", ".f.bin.crc": "0o644", "d": "0o755"}
    fs.setPermission(hadoop.Path(str(tmp_path / "d")),
                     hadoop.permission.FsPermission.valueOf("drwxr-xr-t"))
    assert os.stat(tmp_path / "d").st_mode & 0o7777 == 0o1755

    sink = EpochCommitSink(str(tmp_path / "sink"))
    sink.write_epoch(0, {"t": spark.range(2000).selectExpr("id", "string(id * 7) AS s")})
    epoch_dir = tmp_path / "sink" / "data" / "t" / "epoch=0"
    part = next(p for p in epoch_dir.iterdir() if p.name.startswith("part-"))
    assert (epoch_dir / f".{part.name}.crc").exists()
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0x01
    part.write_bytes(bytes(data))
    with pytest.raises(Exception, match="ChecksumException"):
        sink.read_table(spark, "t").collect()


def test_turns_projection_built_once(spark, data_dir, tmp_path, monkeypatch):
    """A 3-epoch enrich_turns fan-out builds the projection's Columns
    once, and its output equals batch enrich_turns."""
    from stellar_etl_spark.operators import enrich

    calls = []
    build = enrich._turns_columns
    monkeypatch.setattr(enrich, "_turns_columns", lambda: calls.append(1) or build())
    monkeypatch.setitem(vars(spark.sparkContext), "_stellar_built", {})  # a fresh context
    _, manifests = _drain_fanout(spark, data_dir, tmp_path,
                                 {"turns": lambda df: enrich.enrich_turns(df, CFG)},
                                 "t_turns_once")
    assert len(manifests) == 3
    assert len(calls) == 1
    got = EpochCommitSink(str(tmp_path / "t_turns_once" / "sink")).read_table(spark, "turns")
    assert _rows(got) == _rows(enrich.enrich_turns(read_transcript_batch(spark, data_dir), CFG))
    assert len(calls) == 1


def test_sessions_resume_across_checkpoint_manager_change(spark, data_dir, tmp_path):
    """A stateful sessionize fan-out whose checkpoint (offsets, commits,
    source log, state deltas) was written through Spark's
    FileContext-based manager, hard-killed mid-input, resumes under the
    local default, the FileSystem-based manager: the sink equals batch
    sessionize for the closed sessions. The test session (a local
    master) reports that default, and `extra_conf` overrides it."""
    key = session.CHECKPOINT_MANAGER_CONF
    file_context = ("org.apache.spark.sql.execution.streaming.checkpointing."
                    "FileContextBasedCheckpointFileManager")
    cfg = EngineConfig(master=spark.sparkContext.master)
    assert spark.conf.get(key) == session.FS_CHECKPOINT_MANAGER

    sink = EpochCommitSink(str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=1,
                                    with_lineage=False)

    def start(available_now):
        return start_fanout(sessions.sessionize(stream, CFG, watermark=True),
                            sink.root, ckpt, {"sessions": _identity},
                            available_now=available_now, query_name="t_ckpt_manager")

    try:
        overridden = replace(cfg, extra_conf={key: file_context})
        assert session.get_spark(overridden, app_name="pytest") is spark
        assert spark.conf.get(key) == file_context
        q = start(available_now=False)
        while len(sink.committed_epochs()) < 2:
            assert q.isActive, f"died before its kill: {q.exception()}"
            time.sleep(0.05)
        _hard_kill(q)
    finally:
        assert session.get_spark(cfg, app_name="pytest") is spark
    assert spark.conf.get(key) == session.FS_CHECKPOINT_MANAGER
    at_kill = len(sink.committed_epochs())

    q = start(available_now=True)
    assert q.awaitTermination(540), "resumed stream did not finish within 540s"
    assert len(sink.committed_epochs()) > at_kill

    cols = ["conv_id", "session_start", "session_end", "turn_count",
            "user_turns", "assistant_turns", "tool_turns"]
    wm = _final_watermark(spark, data_dir)
    batch = sessions.sessionize(read_transcript_batch(spark, data_dir), CFG)
    expected = [r for r in _rows(batch, cols) if r[2] <= wm]
    assert _rows(sink.read_table(spark, "sessions"), cols) == expected
    assert len(expected) > 0


def _start_snapshot(snap, tmp_path, name, available_now=True):
    """Start the update-mode snapshot query `snap` (snapshot_agg or
    snapshot_ttl) into an epoch sink at tmp_path/sink."""
    from stellar_etl_spark.streaming.snapshot import SNAPSHOT_TABLE

    writer = epoch_stamped_writer(EpochCommitSink(str(tmp_path / "sink")), SNAPSHOT_TABLE)
    return start_query(snap, writer, str(tmp_path / "ckpt"), name, "update",
                       available_now)


def test_snapshot_stream_equals_batch_compaction(spark, data_dir, tmp_path):
    """A7/ST7: update-mode per-key snapshot stream; folding the
    epoch-stamped deltas (latest epoch wins) must equal the batch
    last-state compactor on the drained input."""
    from stellar_etl_spark.operators.state import compact_last_state
    from stellar_etl_spark.streaming.snapshot import read_final_snapshot, snapshot_agg

    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=2,
                                    with_lineage=False)
    q = _start_snapshot(snapshot_agg(stream), tmp_path, "snap")
    assert q.awaitTermination(540), "snapshot stream did not finish within 540s"

    final = read_final_snapshot(spark, str(tmp_path / "sink"))
    batch = compact_last_state(read_transcript_batch(spark, data_dir))
    cols = ["conv_id", "role", "last_turn_idx", "last_text", "last_tool",
            "last_ts", "n_changes"]
    assert _rows(final, cols) == _rows(batch, cols)

    # genuinely incremental: multiple epochs committed, and the deltas
    # across epochs exceed the final key count (keys re-emitted as they
    # change — update-mode evidence, not a single terminal dump)
    sink = EpochCommitSink(str(tmp_path / "sink"))
    epochs = sink.committed_epochs()
    assert len(epochs) >= 3
    deltas = sink.read_table(spark, "snapshot")
    assert deltas.count() > final.count()


def test_snapshot_ttl_retires_keys(spark, data_dir, tmp_path):
    """TTL key retirement: keys idle past ttl_s of event time emit a
    tombstone and LEAVE the state store (state bounded by active keys,
    not keys-ever-seen — the orderbooks.go:26-33 anti-pattern SURVEY §4
    promises to avoid), while the folded snapshot stays correct for
    live keys."""
    from stellar_etl_spark.operators.state import compact_last_state
    from stellar_etl_spark.streaming.snapshot import read_final_snapshot, snapshot_ttl

    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=1,
                                    with_lineage=False)
    q = _start_snapshot(snapshot_ttl(stream, CFG, 1800), tmp_path, "snap_ttl")
    assert q.awaitTermination(540), "TTL snapshot stream did not finish within 540s"
    import json as jsonlib

    progs = [p if isinstance(p, dict) else jsonlib.loads(p.json)
             for p in q.recentProgress]
    max_state_rows = max(
        (p["stateOperators"][0]["numRowsTotal"]
         for p in progs if p.get("stateOperators")),
        default=0,
    )

    sink = EpochCommitSink(str(tmp_path / "sink"))
    deltas = sink.read_table(spark, "snapshot")
    batch = compact_last_state(read_transcript_batch(spark, data_dir))
    total_keys = batch.count()

    # retirement actually happened, and state stayed bounded below
    # keys-ever-seen while the stream ran
    tomb = deltas.filter(F.col("retired")).select("conv_id", "role").distinct()
    assert tomb.count() > 0
    assert 0 < max_state_rows < total_keys

    final = read_final_snapshot(spark, str(tmp_path / "sink"))
    cols = ["conv_id", "role", "last_turn_idx", "last_text", "last_tool",
            "last_ts", "n_changes"]

    # keys never retired: full row equality with the batch compactor
    assert _rows(final.join(tomb, ["conv_id", "role"], "left_anti"), cols) == \
        _rows(batch.join(tomb, ["conv_id", "role"], "left_anti"), cols)

    # every live key (including retire-then-reappear ones) carries the
    # batch-true latest turn; only n_changes restarts at re-appearance
    cols_nc = [c for c in cols if c != "n_changes"]
    live_keys = final.select("conv_id", "role")
    assert _rows(final, cols_nc) == _rows(
        batch.join(live_keys, ["conv_id", "role"], "left_semi"), cols_nc)


def test_rate_source_drives_pipeline(spark, tmp_path):
    """S2 analog: the engine is source-agnostic — the built-in rate
    source mapped to the transcript schema drives the same snapshot
    aggregation, live (processing-time trigger, no files involved)."""
    import time

    from stellar_etl_spark.streaming.snapshot import snapshot_agg
    from stellar_etl_spark.streaming.source import read_rate_transcript_stream

    stream = read_rate_transcript_stream(spark, rows_per_second=200, n_convs=5)
    q = _start_snapshot(snapshot_agg(stream), tmp_path, "rate_snap",
                        available_now=False)
    try:
        deadline = time.time() + 120
        sink = EpochCommitSink(str(tmp_path / "sink"))
        while time.time() < deadline:
            eps = sink.committed_epochs()
            if len(eps) >= 2:
                try:
                    if sink.read_table(spark, "snapshot").count() > 0:
                        break
                except Exception:
                    pass
            time.sleep(1)
    finally:
        _hard_kill(q)

    snap = EpochCommitSink(str(tmp_path / "sink")).read_table(spark, "snapshot")
    rows = snap.collect()
    assert rows
    # deterministic mapping: roles only from the fixed vocabulary,
    # conv ids within range
    assert {r.role for r in rows} <= {"user", "assistant", "tool"}
    assert all(r.conv_id in {f"c{i}" for i in range(5)} for r in rows)


def test_dedup_stream_kill_resume_equals_batch(spark, tmp_path):
    """T18 resumability: kill the update-mode dedup aggregation after
    >=2 committed epochs, resume from the same checkpoint, drain; the
    folded sink must equal the batch exact-dedup table (state store +
    epoch-idempotent sink survive the restart)."""
    from stellar_etl_spark.functions.corpus import load_corpus
    from stellar_etl_spark.functions.dedup import exact_dedup
    from stellar_etl_spark.streaming import parity

    sink = EpochCommitSink(str(tmp_path / "sink"))
    stream = parity.doc_stream(spark, parity._doc_slice_dir(spark, SF_UNIT, n_files=8), 1)
    at_kill, after = kill_resume(
        parity.dedup_stream_agg(stream),
        epoch_stamped_writer(sink, parity.DEDUP_TABLE),
        sink, str(tmp_path / "ckpt"), "dedup_resume", "update",
    )
    assert after > at_kill

    got = parity.fold_dedup_sink(spark, sink.root, SF_UNIT)
    exp = exact_dedup(load_corpus(spark, SF_UNIT))
    cols = ["doc_id", "fp64", "keep_doc_id", "n_copies"]
    assert _rows(got, cols) == _rows(exp, cols)


def test_snapshot_ttl_kill_resume_equals_oracle(spark, tmp_path):
    """TTL-snapshot resumability: kill the key-retiring snapshot stream
    (applyInPandasWithState + EventTimeTimeout) after >=2 committed
    epochs, resume from the same checkpoint, drain to the end. Pending
    event-time TIMERS and per-key state must both survive the restart:
    the retirement tombstones fire in the resumed run (after the closer
    sentinels advance the watermark), and the fold must equal the batch
    compaction restricted to the 48h activity window — the same ms-exact
    boundary the driver oracle uses."""
    from stellar_etl_spark.operators.state import compact_last_state
    from stellar_etl_spark.sources.transcripts import load_transcripts
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.snapshot import (
        SNAPSHOT_TABLE,
        read_final_snapshot,
        snapshot_ttl,
    )

    sink = EpochCommitSink(str(tmp_path / "sink"))
    stream = read_transcript_stream(
        spark, parity._slice_dir(spark, SF_UNIT), max_files_per_trigger=1,
        with_lineage=False,
    )
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    at_kill, after = kill_resume(
        snapshot_ttl(stream, cfg, parity.SNAPSHOT_TTL_S),
        epoch_stamped_writer(sink, SNAPSHOT_TABLE),
        sink, str(tmp_path / "ckpt"), "ttl_resume", "update",
    )
    assert after > at_kill

    got = read_final_snapshot(spark, sink.root).filter(
        F.col("conv_id") != parity.CLOSER_CONV
    )
    t = load_transcripts(spark, SF_UNIT)
    max_ms = t.agg(
        F.max(F.expr("unix_micros(ts) div 1000"))
    ).collect()[0][0]
    active_ms = parity.SNAPSHOT_TTL_ACTIVE_H * 3600 * 1000
    exp = compact_last_state(t).filter(
        F.expr(f"unix_micros(last_ts) div 1000 >= {max_ms - active_ms}")
    )
    cols = ["conv_id", "role", "last_turn_idx", "last_text", "last_tool",
            "last_ts", "n_changes"]
    assert _rows(got, cols) == _rows(exp, cols)
    # retirement actually happened: the folded table is a strict subset
    assert got.count() < compact_last_state(t).count()


def test_replayed_committed_epoch_recommits_state(spark, tmp_path):
    """Deterministic reproduction of the kill/resume race that made
    test_snapshot_ttl_kill_resume_equals_oracle flaky (VERDICT r04
    "What's wrong" #2): a hard kill can land AFTER the sink's epoch
    manifest rename but BEFORE Spark writes checkpoint/commits/N, so
    the restart replays batch N whose sink epoch is already durable.
    Pre-fix, EpochCommitSink.write_epoch returned without evaluating
    the DataFrame, so the replayed batch committed 0 state-store
    partitions and Spark 4.1's commit validation
    (spark.sql.streaming.stateStore.commitValidation.enabled, default
    true) killed the resumed query with
    STATE_STORE_COMMIT_VALIDATION_FAILED ("Expected N commits but got
    0", SQLSTATE XXKST). The fix drives the replayed batch through the
    noop sink so this run's state stores recommit their deterministic
    versions. Simulated exactly, no timing: run the TTL snapshot
    stream to completion, delete the newest Spark commit-log entry
    (offsets + sink manifest intact = the mid-race checkpoint state),
    restart, and require both clean termination and byte-identical
    sink content."""
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.snapshot import read_final_snapshot, snapshot_ttl

    stream = read_transcript_stream(
        spark, parity._slice_dir(spark, SF_UNIT), max_files_per_trigger=1,
        with_lineage=False,
    )
    snap = snapshot_ttl(
        stream, EngineConfig(watermark_delay=parity.PARITY_DELAY),
        parity.SNAPSHOT_TTL_S,
    )
    sink_root = str(tmp_path / "sink")  # where _start_snapshot writes
    ckpt = str(tmp_path / "ckpt")

    q1 = _start_snapshot(snap, tmp_path, "ttl_replay")
    assert q1.awaitTermination(540), "first TTL snapshot run did not finish"
    epochs_before = EpochCommitSink(sink_root).committed_epochs()
    assert len(epochs_before) >= 3
    before = _rows(read_final_snapshot(spark, sink_root))

    # Surgically reproduce the race: Spark thinks batch N never
    # committed (commits/N gone, offsets/N present) while the sink's
    # epoch-N manifest says it did.
    commits_dir = os.path.join(ckpt, "commits")
    entries = sorted(
        (f for f in os.listdir(commits_dir) if f.isdigit()), key=int
    )
    os.remove(os.path.join(commits_dir, entries[-1]))
    crc = os.path.join(commits_dir, f".{entries[-1]}.crc")
    # a stale .crc would make Spark's FileContext-based checkpoint
    # manager (ChecksumFs) refuse the replayed batch's commit rename; the
    # FileSystem-based one that local sessions use renames over it
    if os.path.exists(crc):
        os.remove(crc)

    q2 = _start_snapshot(snap, tmp_path, "ttl_replay")
    assert q2.awaitTermination(540), (
        "restart did not finish — replayed committed epoch likely died "
        "on STATE_STORE_COMMIT_VALIDATION_FAILED"
    )
    assert EpochCommitSink(sink_root).committed_epochs() == epochs_before
    assert _rows(read_final_snapshot(spark, sink_root)) == before


def test_sink_compact_preserves_content_and_vacuums(spark, tmp_path):
    """Compaction (rewrite_data_files analog): read_table content is
    identical before/after compact() and after vacuum(); epochs
    committed after the snapshot stack on top; a second incremental
    compaction folds snapshot + new epochs."""
    sink = EpochCommitSink(str(tmp_path / "s"))
    for e in range(4):
        sink.write_epoch(e, {"t": spark.range(e * 10, e * 10 + 10).toDF("x")})
    before = sorted(r.x for r in sink.read_table(spark, "t").collect())
    assert len(before) == 40

    snap = sink.compact(spark)
    assert snap and snap["upto"] == 3 and "t" in snap["tables"]
    assert sorted(r.x for r in sink.read_table(spark, "t").collect()) == before

    removed = sink.vacuum()
    assert removed == 4  # all four epoch dirs covered by the snapshot
    assert sorted(r.x for r in sink.read_table(spark, "t").collect()) == before
    import os
    assert len(
        [f for f in os.listdir(str(tmp_path / "s" / "data" / "t"))]
    ) == 0  # small files gone

    # epoch manifests (lineage history) survive; idempotent replay of a
    # compacted epoch is still a no-op
    assert sink.committed_epochs() == [0, 1, 2, 3]
    assert sink.write_epoch(2, {"t": spark.range(999).toDF("x")}) is False

    # new epochs after the snapshot are visible...
    sink.write_epoch(4, {"t": spark.range(40, 50).toDF("x")})
    now = sorted(r.x for r in sink.read_table(spark, "t").collect())
    assert now == sorted(before + list(range(40, 50)))

    # ...and a second, incremental compaction folds snapshot + epoch 4
    snap2 = sink.compact(spark)
    assert snap2 and snap2["upto"] == 4 and snap2["compacted_epochs"] == [4]
    sink.vacuum()
    assert sorted(r.x for r in sink.read_table(spark, "t").collect()) == now


def test_read_latest_folds_across_compaction(spark, tmp_path):
    """read_latest keeps each key's row from its latest epoch and drops
    epoch_id, whether that epoch sits in a compaction snapshot or
    after it: key A is written in epochs 0 and 2, key B only in 1."""
    sink = EpochCommitSink(str(tmp_path / "s"))
    write = epoch_stamped_writer(sink, "t")

    def delta(k, v):
        return spark.createDataFrame([(k, v)], "k string, v long")

    write(delta("A", 0), 0)
    write(delta("B", 1), 1)
    assert sink.compact(spark) is not None
    write(delta("A", 2), 2)
    got = sink.read_latest(spark, "t", ["k"])
    assert got.columns == ["k", "v"]
    assert _rows(got) == [("A", 2), ("B", 1)]


def test_snapshot_fold_survives_compaction(spark, data_dir, tmp_path):
    """The update-mode snapshot stream's fold (latest epoch_id per key)
    must be unchanged by compaction — rows keep their epoch_id column,
    only the file layout changes."""
    from stellar_etl_spark.streaming.snapshot import read_final_snapshot, snapshot_agg

    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=2,
                                    with_lineage=False)
    _start_snapshot(snapshot_agg(stream), tmp_path, "compact_snap").awaitTermination()
    before = _rows(read_final_snapshot(spark, str(tmp_path / "sink")))
    sink = EpochCommitSink(str(tmp_path / "sink"))
    assert sink.compact(spark) is not None
    assert sink.vacuum() > 0
    after = _rows(read_final_snapshot(spark, str(tmp_path / "sink")))
    assert after == before


def test_transitions_resume_preserves_pattern_state(spark, data_dir, tmp_path):
    """Kill the CEP transition stream mid-input, resume from the same
    checkpoint: the per-conversation last-tool ValueState survives the
    restart (state + offsets checkpoint together), so bigrams whose two
    turns straddle the kill point reconstruct, epoch replay is absorbed
    by the sink's idempotent commit, and the SUM-fold equals the batch
    tool_transitions counts exactly."""
    from stellar_etl_spark.operators.journeys import tool_transitions
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.transitions import TRANSITIONS

    sink = EpochCommitSink(str(tmp_path / "sink"))
    stream = read_transcript_stream(spark, data_dir, max_files_per_trigger=1,
                                    with_lineage=False)
    at_kill, after = kill_resume(
        ordered_stream(stream.filter(F.col("tool").isNotNull()), TRANSITIONS),
        foreach_batch_writer(sink, {parity.TRANS_TABLE: parity.transitions_partial}),
        sink, str(tmp_path / "ckpt"), "trans_resume",
    )
    assert after > at_kill

    got = parity.fold_transitions_sink(spark, sink.root)
    exp = tool_transitions(read_transcript_batch(spark, data_dir))
    assert _rows(got) == _rows(exp)


def test_write_pinned_orders_delivery(tmp_path):
    """The pinned writer (no Spark): name order is mtime order, mtimes
    rise strictly 2 s apart and lie in the past, the two closers come
    last at the sentinel event time, and a complete dir is returned
    untouched while a partial one is rebuilt."""
    import pyarrow.parquet as pq

    from stellar_etl_spark.streaming import parity

    base_us = 1_700_000_000 * 1_000_000
    slices = [[("c", i, "user", "t", None, base_us + i * 1_000_000)] for i in range(3)]
    out = str(tmp_path / "in")
    assert parity.write_pinned(out, slices, base_us) == out

    names = sorted(f for f in os.listdir(out) if not f.startswith("_"))
    assert names == [
        "slice-00000.parquet", "slice-00001.parquet", "slice-00002.parquet",
        "zz-closer-0.parquet", "zz-closer-1.parquet",
    ]
    mtimes = [os.stat(os.path.join(out, f)).st_mtime for f in names]
    assert [b - a for a, b in zip(mtimes, mtimes[1:])] == pytest.approx([2.0] * 4)
    assert mtimes[-1] < time.time()
    assert pq.read_table(os.path.join(out, names[1])).to_pylist()[0]["turn_idx"] == 1
    for k, f in enumerate(names[-2:]):
        row = pq.read_table(os.path.join(out, f))
        assert row.column("conv_id")[0].as_py() == parity.CLOSER_CONV
        assert row.column("ts")[0].value == (
            base_us + parity._DELAY_US + parity._SLACK_US + k * 1_000_000
        )

    def untouched():
        return {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)}

    def rebuilt():
        raise AssertionError("a complete dir was rebuilt")

    before = untouched()
    assert parity.write_pinned(out, rebuilt, rebuilt) == out
    assert untouched() == before

    os.remove(os.path.join(out, "_COMPLETE"))
    parity.write_pinned(out, slices[:1])
    assert sorted(os.listdir(out)) == ["_COMPLETE", "slice-00000.parquet"]


def test_bursts_resume_preserves_run_state(spark, tmp_path):
    """Kill the quantified-CEP burst stream mid-input, resume from the
    same checkpoint: the per-conversation open-run state survives the
    restart (the planted run STRADDLES the kill point), a run still
    open at end-of-input is emitted by EventTimeTimeout when the closer
    sentinels push the final watermark, a sub-threshold trailing run's
    timer fires and emits nothing, and the sink's idempotent epoch
    commit absorbs epoch replay. Driver data never ends a conversation on
    an error run (verified at sf0.001/sf0.01), so the timeout-EMIT path
    needs this planted input; the driver-gated error_bursts_streamed
    query covers the inline-close path on real data."""
    from stellar_etl_spark.operators.journeys import error_bursts
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.bursts import BURSTS

    e, ok = "x |error| y", "fine"
    base_us = 1_700_000_000 * 1_000_000
    # c1 ends on a 4-long error run (timeout-emitted); c2 has an
    # inline-closed burst then a 1-long trailing run (timer fires,
    # emits nothing); c3 never reaches MIN_BURST
    convs = {
        "c1": [ok, e, e, e, e],
        "c2": [e, e, e, ok, e],
        "c3": [e, e, ok, ok],
    }
    # slice by turn_idx: turns 0-1 / 2-3 / 4 — c1's open run straddles
    # the file (and therefore the kill) boundary
    slices = [
        [
            (c, k, "assistant", txts[k], None, base_us + k * 1_000_000)
            for c, txts in convs.items()
            for k in range(lo, min(hi, len(txts) - 1) + 1)
        ]
        for lo, hi in [(0, 1), (2, 3), (4, 4)]
    ]
    src_dir = parity.write_pinned(str(tmp_path / "src"), slices, base_us)

    sink = EpochCommitSink(str(tmp_path / "sink"))
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    at_kill, after = kill_resume(
        ordered_stream(_pinned_stream(spark, src_dir), BURSTS, cfg),
        foreach_batch_writer(sink, {"bursts": _identity}),
        sink, str(tmp_path / "ckpt"), "bursts_resume",
    )
    assert after > at_kill

    got = sink.read_table(spark, "bursts").filter(
        F.col("conv_id") != parity.CLOSER_CONV
    )
    cols = ["conv_id", "start_idx", "end_idx", "n_errors", "span_s"]
    expected = [
        ("c1", 1, 4, 3 + 1, 3.0),  # trailing: only the timeout can emit it
        ("c2", 0, 2, 3, 2.0),  # inline: closed by the ok turn mid-stream
    ]
    assert _rows(got, cols) == sorted(expected)
    # and the streamed rows equal the batch operator on the same input
    batch_in = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    assert _rows(got, cols) == _rows(
        error_bursts(batch_in).filter(F.col("conv_id") != parity.CLOSER_CONV), cols
    )


def test_ordered_matcher_rejects_old_state_layout(spark, data_dir, tmp_path):
    """The ordered CEP tier keeps (max_idx, carry_json) per conversation.
    A matcher checkpoint written with the earlier per-pattern layout
    (pending_idx, pending_ts_us, max_idx) must fail at start with
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE instead of misreading the
    old rows: ordered-tier streams need a fresh checkpoint across the
    layout change (docs/deploy.md)."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from stellar_etl_spark.streaming.matcher import OUTPUT_SCHEMA
    from stellar_etl_spark.streaming.pipeline import start_query

    old_state = T.StructType(
        [
            T.StructField("pending_idx", T.IntegerType()),
            T.StructField("pending_ts_us", T.LongType()),
            T.StructField("max_idx", T.IntegerType()),
        ]
    )

    def old_fn(key, pdf_iter, state):
        for pdf in pdf_iter:
            state.update((0, 0, int(pdf["turn_idx"].max())))
        return
        yield

    files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    inp = tmp_path / "in"
    inp.mkdir()
    shutil.copy2(os.path.join(data_dir, files[0]), inp / files[0])
    ckpt = str(tmp_path / "ckpt")

    def stream():
        return read_transcript_stream(spark, str(inp), with_lineage=False)

    old = (
        stream()
        .withWatermark("ts", CFG.watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            old_fn, OUTPUT_SCHEMA, old_state, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    def drain(df, eid):  # evaluate every partition, keep nothing
        df.write.format("noop").mode("overwrite").save()

    start_query(old, drain, ckpt, "cep_old_layout").awaitTermination()

    shutil.copy2(os.path.join(data_dir, files[1]), inp / files[1])
    q = start_query(
        ordered_stream(stream(), PAIRS, CFG), drain, ckpt, "cep_new_layout"
    )
    with pytest.raises(
        StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"
    ):
        q.awaitTermination(300)


def test_minhash_resume_preserves_bucket_state(spark, tmp_path):
    """Kill the streamed minhash-LSH drain mid-corpus, resume from the
    same checkpoint: per-bucket membership state survives the restart
    (planted near-dup pairs live at doc_id and doc_id+10000, which land
    in DIFFERENT doc_id-range slices, so their shared buckets straddle
    the kill), the update-mode snapshots replayed into the epoch sink
    are absorbed idempotently, and the final fold's verified pairs
    equal the batch operator exactly."""
    from stellar_etl_spark.functions.corpus import load_corpus
    from stellar_etl_spark.functions.dedup import minhash_lsh_dedup
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.lshstate import minhash_bucket_stream

    sink = EpochCommitSink(str(tmp_path / "sink"))
    stream = parity.doc_stream(spark, parity._doc_slice_dir(spark, SF_UNIT, n_files=8), 1)
    at_kill, after = kill_resume(
        minhash_bucket_stream(stream),
        epoch_stamped_writer(sink, parity.MINHASH_BUCKET_TABLE),
        sink, str(tmp_path / "ckpt"), "minhash_resume", "update",
    )
    assert after > at_kill

    got = parity.fold_minhash_sink(spark, sink.root, SF_UNIT)
    exp = minhash_lsh_dedup(load_corpus(spark, SF_UNIT))
    cols = ["doc_a", "doc_b", "jaccard"]
    assert _rows(got, cols) == _rows(exp, cols)
    assert got.count() > 0


def test_bm25_resume_absorbs_replayed_index_epochs(spark, tmp_path):
    """Kill the stateless BM25 index stream mid-corpus, resume from the
    same checkpoint: replayed epochs are absorbed by the sink's
    idempotent commit (no doc is double-counted into df/N/L — a
    duplicate dl row would shift every score), and the serve-time fold
    over the accumulated index equals the batch operator exactly."""
    from stellar_etl_spark.functions import retrieval as fret
    from stellar_etl_spark.functions.corpus import load_corpus
    from stellar_etl_spark.streaming import parity

    sink = EpochCommitSink(str(tmp_path / "sink"))
    stream = parity.doc_stream(spark, parity._doc_slice_dir(spark, SF_UNIT, n_files=8), 1)
    at_kill, after = kill_resume(
        parity.bm25_index_rows(stream),
        foreach_batch_writer(sink, parity.BM25_TRANSFORMS),
        sink, str(tmp_path / "ckpt"), "bm25_resume",
    )
    assert after > at_kill

    got = parity.fold_bm25_sink(spark, sink.root)
    exp = fret.bm25_topk(load_corpus(spark, SF_UNIT))
    cols = ["query_id", "doc_id", "n_terms", "bm25", "rank"]
    assert _rows(got, cols) == _rows(exp, cols)
    # the index itself must be exactly-once: one dl row per corpus doc
    n_docs = load_corpus(spark, SF_UNIT).count()
    assert sink.read_table(spark, parity.BM25_DL_TABLE).count() == n_docs

def test_dq_stream_kill_resume_equals_batch(spark, tmp_path):
    """Kill the streaming DQ monitor mid-input, resume from the same
    checkpoint: the per-conversation order-check state (idx-sorted
    group stats, streaming/dq.DQ_STATE_SCHEMA) survives the restart
    (c1's duplicate turn arrives AFTER the kill,
    its first copy before), order checks finalize via EventTimeTimeout
    when the closer sentinels push the final watermark, row-local
    checks ride their own micro-batch, and the whole output equals the
    batch checker (operators/dq.dq_violations) on the same input."""
    from stellar_etl_spark.operators.dq import dq_violations
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.dq import dq_violations_stream

    base_us = 1_700_000_000 * 1_000_000

    def turn(conv, idx, role="assistant", text="ok", ts_us=None):
        return (
            conv,
            idx,
            role,
            text,
            None,
            base_us + idx * 1_000_000 if ts_us is None else ts_us,
        )

    # arrival slices (mtime order). c1's dup of turn 1 arrives two
    # slices after the original; c2 has a gap (0,1,5) plus a bad_role
    # row; c3 has a ts regression at turn 2 plus an empty turn 0;
    # c4 is the clean control.
    slices = [
        [
            turn("c1", 0), turn("c1", 1),
            turn("c2", 0), turn("c2", 1, role="robot"),
            turn("c3", 0, text=""), turn("c3", 1),
            turn("c4", 0), turn("c4", 1),
        ],
        [
            turn("c3", 2, ts_us=base_us),  # < turn 1's ts -> regression
            turn("c4", 2),
            turn("c2", 5),  # gap after 1
        ],
        [
            turn("c1", 1, ts_us=base_us + 1_000_000),  # exact dup copy
            turn("c1", 2),
        ],
    ]
    src_dir = parity.write_pinned(str(tmp_path / "src"), slices, base_us)

    sink = EpochCommitSink(str(tmp_path / "sink"))
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    at_kill, after = kill_resume(
        dq_violations_stream(_pinned_stream(spark, src_dir), cfg),
        foreach_batch_writer(sink, {"dq": _identity}),
        sink, str(tmp_path / "ckpt"), "dq_resume",
    )
    assert after > at_kill

    got = sink.read_table(spark, "dq").filter(F.col("conv_id") != parity.CLOSER_CONV)
    cols = ["check_name", "conv_id", "turn_idx", "detail"]
    expected = [
        ("dup_turn_idx", "c1", 1, "2"),
        ("turn_gap", "c1", 1, "1"),       # the dup row vs lag semantics
        ("turn_gap", "c2", 5, "1"),
        ("ts_regression", "c3", 2, ""),
        ("bad_role", "c2", 1, "robot"),
        ("empty_text", "c3", 0, ""),
    ]
    assert _rows(got, cols) == sorted(expected)
    # and the streamed rows equal the pure batch checker on the same input
    batch_in = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    assert _rows(got, cols) == _rows(
        dq_violations(batch_in).filter(F.col("conv_id") != parity.CLOSER_CONV), cols
    )


def test_dq_stream_hot_conversation_bounded_state(spark, tmp_path):
    """A never-idle conversation touches EVERY micro-batch and its
    distinct-turn count blows past the open-group ceiling: the monitor
    must (a) keep state bounded by partially finalizing the lowest-idx
    groups mid-stream — observable as order-check rows landing in
    epochs BEFORE the watermark-timeout tail — and (b) still emit
    exactly the batch checker's rows (VERDICT r04 "What's wrong" #4 /
    "Next round" #4: bounded DQ state, same oracle, one hot
    conversation spanning every micro-batch)."""
    from stellar_etl_spark.operators.dq import dq_violations
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.dq import dq_violations_stream

    base_us = 1_700_000_000 * 1_000_000

    def turn(conv, idx, role="assistant", text="ok", ts_us=None):
        return (
            conv, idx, role, text, None,
            base_us + idx * 1_000_000 if ts_us is None else ts_us,
        )

    # 6 slices × 4 consecutive hot turns each = 24 distinct idxs, far
    # past max_open_groups=4. Violations stay within the retained
    # suffix when they complete: a dup (idx 5, copies in one slice), a
    # gap (13 skipped), a regression (17's ts dips below 16's).
    slices = []
    for s in range(6):
        rows = []
        for k in range(4):
            idx = s * 4 + k
            if idx == 13:
                continue
            if idx == 17:
                # dips below turn 16's ts -> ts_regression at 17
                rows.append(turn("hot", idx, ts_us=base_us + 15_500_000))
            else:
                rows.append(turn("hot", idx))
        if s == 1:
            rows.append(turn("hot", 5))  # duplicate copy, same slice
        rows.append(turn("ctl", s))  # clean control conversation
        slices.append(rows)

    src_dir = parity.write_pinned(str(tmp_path / "src"), slices, base_us)

    sink = EpochCommitSink(str(tmp_path / "sink"))
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    q = start_query(
        dq_violations_stream(_pinned_stream(spark, src_dir), cfg,
                             max_open_groups=4),
        epoch_stamped_writer(sink, "dq"), str(tmp_path / "ckpt"), "dq_hot",
    )
    assert q.awaitTermination(540), "hot-conversation DQ stream did not finish"

    got = sink.read_table(spark, "dq").filter(F.col("conv_id") != parity.CLOSER_CONV)
    cols = ["check_name", "conv_id", "turn_idx", "detail"]
    batch_in = spark.read.parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    assert _rows(got, cols) == _rows(
        dq_violations(batch_in).filter(F.col("conv_id") != parity.CLOSER_CONV),
        cols,
    )
    # partial finalize actually fired: the hot conversation's order
    # rows span multiple epochs (early partial emissions + the
    # watermark-timeout tail), not one terminal dump
    hot_epochs = {
        r.epoch_id
        for r in got.filter(
            (F.col("conv_id") == "hot")
            & F.col("check_name").isin("dup_turn_idx", "turn_gap", "ts_regression")
        ).collect()
    }
    assert len(hot_epochs) >= 2, hot_epochs


def test_dq_stream_counts_rows_below_finalized_boundary(spark, tmp_path):
    """A row that arrives at or below a partially finalized boundary is
    left out of the order checks and counted: exactly one
    `late_after_finalize` row, whose detail is the boundary idx."""
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.dq import DQ_OUTPUT_SCHEMA, dq_violations_stream

    base_us = 1_700_000_000 * 1_000_000

    def turn(i, ts_us):
        return ("hot", i, "assistant", "ok", None, ts_us)

    # 4 hot turns per slice; slice 1 crosses max_open_groups=4 and
    # finalizes idx 0..5, so turn 1 arriving again in slice 2 is late
    slices = [[turn(i, base_us + i * 1_000_000) for i in range(s * 4, s * 4 + 4)]
              for s in range(3)]
    slices[2].append(turn(1, base_us + 12_000_000))
    src_dir = parity.write_pinned(str(tmp_path / "src"), slices)

    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    q = start_fanout(
        dq_violations_stream(_pinned_stream(spark, src_dir), cfg,
                             max_open_groups=4),
        str(tmp_path / "sink"), str(tmp_path / "ckpt"), {"dq": _identity},
        query_name="dq_late",
    )
    assert q.awaitTermination(540), "late-row DQ stream did not finish"

    got = EpochCommitSink(str(tmp_path / "sink")).read_table(spark, "dq")
    assert got.schema == DQ_OUTPUT_SCHEMA
    late = got.filter(F.col("check_name") == "late_after_finalize")
    assert _rows(late) == [("late_after_finalize", "hot", 1, "5")]


def test_reply_join_resume_pairs_straddle_kill(spark, tmp_path):
    """Native stream-stream range join: kill mid-input with a user
    turn already buffered in join state and its assistant reply still
    unread; after resume from the same checkpoint the pair emits
    exactly once. Also pins the many-to-many fan-out (two replies in
    the window -> two rows — the semantics the 1:1 matcher collapses)
    and the range bound (a reply outside REPLY_WINDOW never pairs)."""
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.replies import reply_join_stream, reply_pairs

    base_us = 1_700_000_000 * 1_000_000

    def turn(conv, idx, role, off_s):
        return (conv, idx, role, "t", None, base_us + off_s * 1_000_000)

    slices = [
        [turn("c1", 0, "user", 0), turn("c2", 0, "user", 0)],
        [turn("c2", 1, "assistant", 5), turn("c2", 2, "assistant", 20)],
        # c1's reply arrives after the kill; idx 3 is outside the
        # 2h reply window
        [turn("c1", 1, "assistant", 10), turn("c1", 3, "assistant", 7300)],
    ]
    src_dir = parity.write_pinned(str(tmp_path / "src"), slices)

    sink = EpochCommitSink(str(tmp_path / "sink"))
    cfg = EngineConfig(watermark_delay=parity.PARITY_DELAY)
    at_kill, after = kill_resume(
        reply_join_stream(_pinned_stream(spark, src_dir), cfg),
        foreach_batch_writer(sink, {"replies": _identity}),
        sink, str(tmp_path / "ckpt"), "replies_resume",
    )
    assert after > at_kill

    got = reply_pairs(sink.read_table(spark, "replies"))
    cols = ["conv_id", "user_idx", "reply_idx", "reply_delay_s"]
    expected = [
        ("c1", 0, 1, 10.0),
        ("c2", 0, 1, 5.0),
        ("c2", 0, 2, 20.0),
    ]
    assert _rows(got, cols) == sorted(expected)


def test_ngram_lm_resume_absorbs_replayed_epochs(spark, tmp_path):
    """Kill the stateless LM index stream mid-corpus, resume from the
    same checkpoint: replayed epochs are absorbed by the sink's
    idempotent commit (a double-committed unigram/bigram partial would
    shift every conditional probability), and the serve-time fold over
    the SUM-merged partials equals the batch operator exactly."""
    from stellar_etl_spark.functions import scoring as fscore
    from stellar_etl_spark.functions.corpus import load_corpus
    from stellar_etl_spark.streaming import parity

    sink = EpochCommitSink(str(tmp_path / "sink"))
    at_kill, after = kill_resume(
        parity.doc_stream(spark, parity._doc_slice_dir(spark, SF_UNIT, n_files=8), 1),
        parity.lm_writer(sink), sink, str(tmp_path / "ckpt"), "lm_resume",
    )
    assert after > at_kill

    got = parity.fold_lm_sink(spark, sink.root)
    exp = fscore.ngram_lm_score(load_corpus(spark, SF_UNIT))
    cols = ["doc_id", "n_bigrams", "sum_permille", "lm_score_permille"]
    assert _rows(got, cols) == _rows(exp, cols)
    # exactly-once roster: one doc row per corpus doc
    n_docs = load_corpus(spark, SF_UNIT).count()
    assert sink.read_table(spark, parity.LM_DOCS_TABLE).count() == n_docs


def test_one_query_starter():
    """streaming/pipeline.py is the only file of the repo that starts a
    streaming query, so every query, the tests' own included, shares
    one trigger policy and one commit protocol (the epoch sink). The
    needle is built so that this test's source does not hold it."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    needle = "." + "writeStream"
    starter = root / "stellar_etl_spark" / "streaming" / "pipeline.py"
    assert needle in starter.read_text()
    others = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p != starter and needle in p.read_text(errors="replace")
    )
    assert others == [], others
