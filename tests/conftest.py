"""Shared pytest fixtures: one SparkSession per test session, DuckDB
oracle harness mirroring the driver's correctness gate (row count +
schema + order-insensitive value hash), and the one kill/resume script
of the streaming failure tests (`kill_resume`)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_UNIT = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from stellar_etl_spark.config import EngineConfig
    from stellar_etl_spark.session import get_spark

    cfg = EngineConfig(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
    s = get_spark(cfg, app_name="pytest")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf in (SF_UNIT, SF_SMALL):
        pass
    return con


def register_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")


def value_hash(rows) -> int:
    """Order-insensitive content hash over stringified rows, columns
    sorted by name — mirrors the driver's compare."""
    acc = 0
    for r in rows:
        items = tuple(str(r[k]) for k in sorted(r.keys()))
        acc ^= hash(items)
    return acc


def spark_rows(df):
    cols = sorted(df.columns)
    out = []
    for row in df.collect():
        d = row.asDict(recursive=True)
        out.append({c: _norm(d[c]) for c in cols})
    return out


def duck_rows(con, sql):
    cur = con.sql(sql)
    cols = cur.columns
    out = []
    for tup in cur.fetchall():
        out.append({c: _norm(v) for c, v in zip(cols, tup)})
    return out


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def assert_oracle_match(spark_df, con, sql, name=""):
    s = spark_rows(spark_df)
    d = duck_rows(con, sql)
    assert len(s) == len(d), f"{name}: row count spark={len(s)} duckdb={len(d)}"
    assert sorted(s[0].keys()) == sorted(d[0].keys()) if s else True, (
        f"{name}: columns differ {sorted(s[0].keys())} vs {sorted(d[0].keys())}"
    )
    sh, dh = value_hash(s), value_hash(d)
    if sh != dh:
        sset = {tuple(sorted(r.items())) for r in s}
        dset = {tuple(sorted(r.items())) for r in d}
        only_s = list(sset - dset)[:3]
        only_d = list(dset - sset)[:3]
        raise AssertionError(
            f"{name}: value hash mismatch\n only-spark={only_s}\n only-duck={only_d}"
        )


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _hard_kill(q):
    """Stop a stream mid-batch, simulating the driver dying. The stop
    interrupt can race micro-batch planning inside MicroBatchExecution
    and make awaitTermination report the dying query as STREAM_FAILED
    (root cause `java.lang.InterruptedException`, but the Python-side
    message carries only `SQLSTATE: XXKST`, so the cause chain is not
    string-matchable). For a DELIBERATE kill any such terminal report
    IS the simulated crash: the checkpoint is intact by construction
    (commits are atomic), and whether the kill corrupted anything is
    exactly what each kill/resume test's post-resume equality
    assertions then verify. Only the stream's own terminal report
    (StreamingQueryException) is swallowed; anything else — including
    raw Py4J JVM errors, which would mask a genuine foreachBatch or
    writer bug — still raises."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    q.stop()
    try:
        q.awaitTermination(60)
    except StreamingQueryException:
        pass


def kill_resume(stream, writer, sink, checkpoint, query_name, output_mode="append"):
    """The failure script of every kill/resume test, on the shipped
    path: start `stream` live through `pipeline.start_query` (the
    shipped LIVE_TRIGGER) with `writer` committing into the
    EpochCommitSink `sink`; once the sink's manifests show two
    committed epochs, hard-kill the query; then resume it availableNow
    from the same checkpoint and drain the rest. Returns the committed
    epoch counts at the kill and after the resume: a caller asserts
    the resume committed new epochs, so a kill that lands after the
    input is used up fails instead of testing nothing."""
    from stellar_etl_spark.streaming.pipeline import start_query

    q = start_query(stream, writer, checkpoint, query_name, output_mode,
                    available_now=False)
    while len(sink.committed_epochs()) < 2:
        assert q.isActive, f"{query_name} died before its kill: {q.exception()}"
        time.sleep(0.05)
    _hard_kill(q)
    at_kill = len(sink.committed_epochs())

    q = start_query(stream, writer, checkpoint, query_name, output_mode)
    assert q.awaitTermination(540), f"resumed {query_name} did not finish within 540s"
    after = len(sink.committed_epochs())
    print(f"{query_name}: {at_kill} epochs at the kill, {after} after the resume")
    return at_kill, after
