"""CLI entrypoint: batch export family + streaming fan-out smoke."""

from __future__ import annotations

import pytest

from stellar_etl_spark import cli
from stellar_etl_spark.operators import sessions
from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.sources.generator import write_transcripts
from stellar_etl_spark.streaming.sink import EpochCommitSink
from stellar_etl_spark.streaming.source import read_transcript_batch


@pytest.fixture(scope="module")
def small_input(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_input"))
    write_transcripts(d, n_convs=300, n_files=4)
    return d


def test_cli_batch_export_all(spark, small_input, tmp_path):
    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-all", "--input", small_input, "--out", out,
         "--session-gap", "30 minutes"],
        spark=spark,
    )
    assert rc == 0
    for table in ["turns", "sessions", "tool_rate", "pairs", "fact_tool_events",
                  "latency_quantiles", "conv_retention", "tool_transitions",
                  "tool_conv_hll", "state_intervals"]:
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    # batch CLI output == operator output (same cfg, same input)
    got = sorted(
        (r.conv_id, r.session_start, r.turn_count)
        for r in spark.read.parquet(f"{out}/sessions").collect()
    )
    cfg = EngineConfig(session_gap="30 minutes")
    want = sorted(
        (r.conv_id, r.session_start, r.turn_count)
        for r in sessions.sessionize(read_transcript_batch(spark, small_input), cfg).collect()
    )
    assert got == want


def test_cli_batch_range_and_limit(spark, small_input, tmp_path):
    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-turns", "--input", small_input, "--out", out,
         "--start-ts", "2026-01-01 06:00:00", "--end-ts", "2026-01-01 12:00:00"],
        spark=spark,
    )
    assert rc == 0
    rows = spark.read.parquet(f"{out}/turns").collect()
    assert rows
    assert all("2026-01-01 06:00:00" <= str(r.ts) < "2026-01-01 12:00:00" for r in rows)


def test_cli_stream_windowed(spark, small_input, tmp_path):
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    rc = cli.main(
        ["export-tool-rate", "--stream", "--input", small_input,
         "--out", out, "--checkpoint", ckpt],
        spark=spark,
    )
    assert rc == 0
    got = EpochCommitSink(out).read_table(spark, "tool_rate")
    assert got.count() > 0


def test_cli_stream_range_applied(spark, small_input, tmp_path):
    """--start-ts/--end-ts must restrict streaming exports too (they
    were previously silently ignored with --stream)."""
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    rc = cli.main(
        ["export-turns", "--stream", "--input", small_input,
         "--out", out, "--checkpoint", ckpt,
         "--start-ts", "2026-01-01 06:00:00", "--end-ts", "2026-01-01 12:00:00"],
        spark=spark,
    )
    assert rc == 0
    rows = EpochCommitSink(out).read_table(spark, "turns").collect()
    assert rows
    assert all("2026-01-01 06:00:00" <= str(r.ts) < "2026-01-01 12:00:00" for r in rows)


def test_cli_stream_limit_rejected(spark, small_input, tmp_path):
    with pytest.raises(SystemExit):
        cli.main(
            ["export-turns", "--stream", "--input", small_input,
             "--out", str(tmp_path / "s"), "--checkpoint", str(tmp_path / "c"),
             "--limit", "10"],
            spark=spark,
        )


def test_cli_batch_limit_deterministic(spark, small_input, tmp_path):
    """--limit orders by (conv_id, turn_idx) first: two runs with the
    same flags export the same rows (backfill idempotence)."""
    outs = []
    for i in (1, 2):
        out = str(tmp_path / f"out{i}")
        rc = cli.main(
            ["export-turns", "--input", small_input, "--out", out, "--limit", "50"],
            spark=spark,
        )
        assert rc == 0
        outs.append(sorted(
            (r.conv_id, r.turn_idx) for r in spark.read.parquet(f"{out}/turns").collect()
        ))
    assert outs[0] == outs[1]
    assert len(outs[0]) == 50


def test_cli_batch_json_format(spark, small_input, tmp_path):
    """S5 JSONL sink analog: --format json writes one JSON object per
    line, readable back with identical rows."""
    import glob
    import json as jsonlib

    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-last-state", "--input", small_input, "--out", out,
         "--format", "json"],
        spark=spark,
    )
    assert rc == 0
    files = glob.glob(f"{out}/last_state/part-*.json")
    assert files
    with open(files[0]) as f:
        first = jsonlib.loads(f.readline())
    assert "conv_id" in first and "n_changes" in first
    n_json = spark.read.json(f"{out}/last_state").count()
    from stellar_etl_spark.operators.state import compact_last_state
    assert n_json == compact_last_state(
        read_transcript_batch(spark, small_input)).count()


def test_cli_extra_fields(spark, small_input, tmp_path):
    """--extra-field K=V appends constant columns to every exported row
    (the reference's --extra-fields flag, cmd/command_utils.go:69-71),
    surviving a JSONL round-trip; malformed specs fail loudly; the new
    round-2 tables are exportable."""
    import glob
    import json as jsonlib

    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-tool-event-details", "--input", small_input, "--out", out,
         "--format", "json", "--extra-field", "pipeline=nightly",
         "--extra-field", "source_rev=abc123"],
        spark=spark,
    )
    assert rc == 0
    files = glob.glob(f"{out}/tool_event_details/part-*.json")
    assert files
    lines = [ln for p in files for ln in open(p) if ln.strip()]
    assert lines
    first = jsonlib.loads(lines[0])
    assert first["pipeline"] == "nightly" and first["source_rev"] == "abc123"
    back = spark.read.json(f"{out}/tool_event_details")
    assert back.filter("pipeline = 'nightly' AND source_rev = 'abc123'").count() == back.count()
    assert back.count() > 0

    # round-2 tables exportable too (CLI/driver registry parity);
    # successful_tool_calls is legitimately empty on generator data
    # (its text payload has no event field) — the export still runs
    rc = cli.main(
        ["export-state-conv-tools", "--input", small_input, "--out", out],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/state_conv_tools").count() > 0
    rc = cli.main(
        ["export-successful-tool-calls", "--input", small_input, "--out", out],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/successful_tool_calls").count() == 0

    with pytest.raises(SystemExit):
        cli.main(
            ["export-turns", "--input", small_input, "--out", out,
             "--extra-field", "novalue"],
            spark=spark,
        )


def test_jsonl_roundtrip_source(spark, small_input, tmp_path):
    """S3 alternate-batch-source analog: a JSONL export re-ingested via
    read_transcript_jsonl equals the original transcript rows."""
    from stellar_etl_spark.streaming.source import read_transcript_jsonl

    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-turns", "--input", small_input, "--out", out, "--format", "json"],
        spark=spark,
    )
    assert rc == 0
    back = read_transcript_jsonl(spark, f"{out}/turns")
    orig = read_transcript_batch(spark, small_input)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = sorted(tuple(r[c] for c in cols) for r in back.select(*cols).collect())
    want = sorted(tuple(r[c] for c in cols) for r in orig.select(*cols).collect())
    assert got == want


DOCS_PARQUET = "/root/testdata/sf0.001/documents.parquet"


def test_cli_doc_table_exports(spark, tmp_path):
    """Round-3 curation/trainprep tables are exportable via the CLI
    (one-export-command-per-table parity, the reference's
    cmd/export_ledger_entry_changes.go:90-109 surface): --input is a
    documents parquet, output equals the operator on the same input."""
    from stellar_etl_spark.functions.curation import quality_funnel

    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-quality-funnel", "quality_funnel"),
        ("export-corpus-sample", "corpus_sample"),
        ("export-domain-topk-sample", "domain_topk_sample"),
        ("export-curriculum-buckets", "curriculum_buckets"),
        ("export-doc-top-terms", "doc_top_terms"),
        ("export-doc-repetition", "doc_repetition"),
        ("export-decontaminate", "decontaminate"),
        ("export-pack-sequences", "pack_sequences"),
        ("export-boilerplate-spans", "boilerplate_spans"),
        ("export-corpus-split", "corpus_split"),
        ("export-domain-mix-weights", "domain_mix_weights"),
        ("export-doc-containment", "doc_containment"),
        ("export-dup-spans", "dup_spans"),
        ("export-bm25-topk", "bm25_topk"),
        ("export-corpus-profile", "corpus_profile"),
    ]:
        rc = cli.main(
            [cmd, "--input", DOCS_PARQUET, "--out", out], spark=spark
        )
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    cols = ["stage_idx", "stage", "docs_in", "docs_dropped", "docs_out"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(f"{out}/quality_funnel").collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in quality_funnel(spark.read.parquet(DOCS_PARQUET)).collect()
    )
    assert got == want


def test_cli_doc_table_rejects_stream_and_ts(spark, tmp_path):
    with pytest.raises(SystemExit):
        cli.main(
            ["export-quality-funnel", "--stream", "--input", DOCS_PARQUET,
             "--out", str(tmp_path / "s"), "--checkpoint", str(tmp_path / "c")],
            spark=spark,
        )
    with pytest.raises(SystemExit):
        cli.main(
            ["export-corpus-sample", "--input", DOCS_PARQUET,
             "--out", str(tmp_path / "s"), "--start-ts", "2026-01-01"],
            spark=spark,
        )


def test_cli_journeys_tables_export(spark, small_input, tmp_path):
    """conv_documents/conv_doc_dedup (transcript-side journeys tables)
    round-trip through the batch CLI."""
    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-conv-documents", "conv_documents"),
        ("export-conv-doc-dedup", "conv_doc_dedup"),
    ]:
        rc = cli.main([cmd, "--input", small_input, "--out", out], spark=spark)
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0


# The tables --stream may export: the row-local ones share the fan-out
# query, the windowed ones run their own stateful query. Pinned here,
# not read from the CLI, so that a change to its allowlist fails a test.
STREAM_ROW_LOCAL = ("turns", "fact_tool_events", "tool_event_details",
                    "successful_tool_calls", "derived_events", "explode_tokens")
STREAM_WINDOWED = ("sessions", "tool_rate", "role_rate", "tool_rate_sliding",
                   "pairs", "tool_rate_peak")


def test_cli_stream_rejects_global_aggregates(spark, small_input, tmp_path):
    """Every transcript table that is neither row-local nor windowed
    (global aggregates, per-key aggregates, conversation windows) is
    refused under an explicit --stream rather than silently emitting
    per-micro-batch semantics."""
    refused = sorted(set(cli._tables(EngineConfig()))
                     - set(STREAM_ROW_LOCAL) - set(STREAM_WINDOWED))
    assert {"latency_quantiles", "last_state", "exchanges"} <= set(refused)
    for table in refused:
        with pytest.raises(SystemExit, match="--stream not supported"):
            cli.main(
                [f"export-{table.replace('_', '-')}", "--stream",
                 "--input", small_input, "--out", str(tmp_path / "s"),
                 "--checkpoint", str(tmp_path / "c")],
                spark=spark,
            )
            pytest.fail(f"--stream accepted for {table}")


@pytest.mark.parametrize("table", STREAM_ROW_LOCAL)
def test_cli_stream_row_local_equals_batch(spark, tmp_path, table):
    """A row-local table streamed one file per micro-batch equals its
    batch export. The input is the driver-derived transcripts in four
    files: unlike the generator's, they carry successful tool calls."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.sources.transcripts import load_transcripts
    from tests.conftest import SF_UNIT

    src = str(tmp_path / "in")
    (load_transcripts(spark, SF_UNIT)
     .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
     .repartition(4).write.parquet(src))
    cmd = [f"export-{table.replace('_', '-')}", "--input", src]
    assert cli.main(cmd + ["--out", str(tmp_path / "b")], spark=spark) == 0
    assert cli.main(
        cmd + ["--stream", "--out", str(tmp_path / "s"),
               "--checkpoint", str(tmp_path / "c"), "--files-per-trigger", "1"],
        spark=spark,
    ) == 0
    sink = EpochCommitSink(str(tmp_path / "s"))
    assert len(sink.committed_epochs()) == 4  # one epoch per input file
    got = sink.read_table(spark, table)
    exp = spark.read.parquet(str(tmp_path / "b" / table))
    assert sorted(got.columns) == sorted(exp.columns)
    exp = exp.select(*got.columns)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_cli_stream_pairs_equals_batch_across_arrow_batches(spark, tmp_path):
    """export-pairs --stream equals the batch matcher row for row when
    its stateful calls receive conversations split over several Arrow
    frames: a tiny maxRecordsPerBatch, set before the query starts,
    splits every conversation of more than a few turns. The input is
    the parity slices with their closers; the parity delay keeps every
    eviction for the closers' final watermark."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.operators.pairs import match_pairs
    from stellar_etl_spark.sources.transcripts import load_transcripts
    from stellar_etl_spark.streaming import parity
    from stellar_etl_spark.streaming.matcher import OUTPUT_SCHEMA
    from tests.conftest import SF_UNIT, _rows

    out = str(tmp_path / "s")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        assert cli.main(
            ["export-pairs", "--stream", "--input", parity._slice_dir(spark, SF_UNIT),
             "--out", out, "--checkpoint", str(tmp_path / "c"),
             "--watermark", parity.PARITY_DELAY, "--files-per-trigger", "2"],
            spark=spark,
        ) == 0
    finally:
        spark.conf.set(key, prior)
    got = EpochCommitSink(out).read_table(spark, "pairs").filter(
        F.col("conv_id") != parity.CLOSER_CONV
    )
    exp = match_pairs(load_transcripts(spark, SF_UNIT), EngineConfig())
    cols = OUTPUT_SCHEMA.names
    assert _rows(got, cols) == _rows(exp, cols)


def test_cli_emb_table_exports(spark, tmp_path):
    """Embedding-family tables export via the CLI over a real
    embeddings parquet — semdedup here is the PURE operator (no
    planted-twin fixture, the redact_pii injection-split discipline):
    output equals the operator composed the same way on the same
    input, and value-sane (every vector assigned, keeps <= rows)."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.functions.semdedup import semdedup

    emb_parquet = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-lang-centroids", "lang_centroids"),
        ("export-kmeans-assign", "kmeans_assign"),
        ("export-semdedup", "semdedup"),
    ]:
        rc = cli.main(
            [cmd, "--input", emb_parquet, "--out", out], spark=spark
        )
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/semdedup").collect()
    )
    base = spark.read.parquet(emb_parquet).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    want = sorted(
        tuple(r)
        for r in semdedup(base, base.select("vec_id", "emb")).collect()
    )
    assert got == want
    n_rows = spark.read.parquet(emb_parquet).count()
    assert len(got) == n_rows


def test_cli_error_bursts_batch_only(spark, tmp_path):
    """error_bursts exports in batch and is refused under --stream
    (per-micro-batch islands would split consecutive runs at batch
    boundaries; the streaming form is the stateful detector). The
    generator corpus carries no error-typed turns, so this plants a
    transcript parquet with one real burst."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stellar_etl_spark.operators.journeys import error_bursts

    e, ok = "x |error| y", "fine"
    base = 1_700_000_000 * 1_000_000
    rows = [("c1", k, "assistant", t, None, base + k * 1_000_000)
            for k, t in enumerate([ok, e, e, e, ok, e])]
    src = str(tmp_path / "src")
    import os
    os.makedirs(src)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            dict(zip(["conv_id", "turn_idx", "role", "text", "tool", "ts"], cols)),
            schema=pa.schema([
                ("conv_id", pa.string()), ("turn_idx", pa.int32()),
                ("role", pa.string()), ("text", pa.string()),
                ("tool", pa.string()), ("ts", pa.timestamp("us")),
            ]),
        ),
        os.path.join(src, "part-0.parquet"),
    )
    out = str(tmp_path / "out")
    rc = cli.main(
        ["export-error-bursts", "--input", src, "--out", out], spark=spark
    )
    assert rc == 0
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/error_bursts").collect()
    )
    want = sorted(
        tuple(r)
        for r in error_bursts(read_transcript_batch(spark, src)).collect()
    )
    assert got == want and len(got) == 1
    assert got[0][1:4] == (1, 3, 3)  # start_idx, end_idx, n_errors
    with pytest.raises(SystemExit):
        cli.main(
            ["export-error-bursts", "--input", src,
             "--out", str(tmp_path / "o2"), "--stream"],
            spark=spark,
        )


def test_cli_round4_transcript_tables_export(spark, small_input, tmp_path):
    """The remaining transcript-side operators are CLI-exportable
    (one-export-command-per-table parity, the reference's
    cmd/export_ledger_entry_changes.go:90-109 surface): batch output
    equals the operator on the same input for a spot-checked table."""
    from stellar_etl_spark.operators.dims import top_convs

    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-asof-last-tool", "asof_last_tool"),
        ("export-initiating-user", "initiating_user"),
        ("export-dim-tools", "dim_tools"),
        ("export-explode-tokens", "explode_tokens"),
        ("export-top-convs", "top_convs"),
        ("export-conv-funnel", "conv_funnel"),
        ("export-tool-rate-peak", "tool_rate_peak"),
        ("export-salted-tool-rate", "salted_tool_rate"),
        ("export-conv-turns-cms", "conv_turns_cms"),
        ("export-transform-stats", "transform_stats"),
    ]:
        rc = cli.main([cmd, "--input", small_input, "--out", out], spark=spark)
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/top_convs").collect()
    )
    want = sorted(
        tuple(r)
        for r in top_convs(read_transcript_batch(spark, small_input)).collect()
    )
    assert got == want


def test_cli_closed_sessions_needs_as_of(spark, small_input, tmp_path):
    """export-closed-sessions is the as-of session gate: it requires
    --as-of, honors it (output == operator at the same cutoff), and
    export-all without --as-of skips it instead of failing."""
    from stellar_etl_spark.operators.sessions import closed_sessions

    out = str(tmp_path / "out")
    with pytest.raises(SystemExit):
        cli.main(
            ["export-closed-sessions", "--input", small_input, "--out", out],
            spark=spark,
        )
    as_of = "2026-01-01 12:00:00"
    rc = cli.main(
        ["export-closed-sessions", "--input", small_input, "--out", out,
         "--as-of", as_of, "--session-gap", "30 minutes"],
        spark=spark,
    )
    assert rc == 0
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/closed_sessions").collect()
    )
    cfg = EngineConfig(session_gap="30 minutes")
    want = sorted(
        tuple(r)
        for r in closed_sessions(
            read_transcript_batch(spark, small_input), cfg, as_of
        ).collect()
    )
    assert got == want and got


def test_cli_round4_doc_tables_export(spark, tmp_path):
    """dedup / text-analysis / multimodal tables round-trip through the
    CLI over a real documents parquet; redact_pii here is the PURE
    scrub (no injection fixture), spot-checked against the operator."""
    from stellar_etl_spark.functions.text import redact_pii

    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-doc-stats", "doc_stats"),
        ("export-doc-lang-id", "doc_lang_id"),
        ("export-doc-fingerprint", "doc_fingerprint"),
        ("export-redact-pii", "redact_pii"),
        ("export-dedup-exact", "dedup_exact"),
        ("export-dedup-minhash-lsh", "dedup_minhash_lsh"),
        ("export-dedup-simhash", "dedup_simhash"),
        ("export-dedup-ngram-jaccard", "dedup_ngram_jaccard"),
        ("export-dup-clusters", "dup_clusters"),
        ("export-dedup-resolve", "dedup_resolve"),
        ("export-decontaminate-bloom", "decontaminate_bloom"),
        ("export-multimodal-meta", "multimodal_meta"),
        ("export-multimodal-frames", "multimodal_frames"),
    ]:
        rc = cli.main([cmd, "--input", DOCS_PARQUET, "--out", out], spark=spark)
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/redact_pii").collect()
    )
    want = sorted(
        tuple(r)
        for r in redact_pii(spark.read.parquet(DOCS_PARQUET)).collect()
    )
    assert got == want


def test_cli_round4_emb_tables_export(spark, tmp_path):
    """embedding near-dup + the ANN family export via the CLI over a
    real embeddings parquet; ann_topk_brute spot-checked value-exact
    against the operator."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.functions.similarity import ann_bruteforce

    emb_parquet = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-dedup-embedding", "dedup_embedding"),
        ("export-ann-topk-brute", "ann_topk_brute"),
        ("export-ann-topk-lsh", "ann_topk_lsh"),
        ("export-ann-topk-ivf", "ann_topk_ivf"),
        ("export-ann-topk-sq8", "ann_topk_sq8"),
    ]:
        rc = cli.main([cmd, "--input", emb_parquet, "--out", out], spark=spark)
        assert rc == 0
        if table == "dedup_embedding":
            # the PURE operator over the raw table: the synthetic corpus
            # has no cos >= 0.98 pairs (near-dups exist only via the
            # driver fixture's planted variants) — schema, not rows
            df = spark.read.parquet(f"{out}/{table}")
            assert set(df.columns) == {"vec_a", "vec_b", "cos_sim"}
        else:
            assert spark.read.parquet(f"{out}/{table}").count() > 0

    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/ann_topk_brute").collect()
    )
    base = spark.read.parquet(emb_parquet).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    want = sorted(tuple(r) for r in ann_bruteforce(base).collect())
    assert got == want


def test_cli_wave5_doc_tables_export(spark, tmp_path):
    """The wave-5 scoring/packaging tables round-trip through the CLI
    (closes VERDICT r04 "Next round" #8 — the 107-query-backed table
    surface is fully export-covered); curation_pipeline spot-checked
    value-exact against the operator."""
    from stellar_etl_spark.functions.scoring import curation_pipeline

    out = str(tmp_path / "out")
    for cmd, table in [
        ("export-chunk-documents", "chunk_documents"),
        ("export-ngram-lm-score", "ngram_lm_score"),
        ("export-priority-sample", "priority_sample"),
        ("export-quality-logreg", "quality_logreg"),
        ("export-blocklist-hits", "blocklist_hits"),
        ("export-curation-pipeline", "curation_pipeline"),
    ]:
        rc = cli.main([cmd, "--input", DOCS_PARQUET, "--out", out], spark=spark)
        assert rc == 0
        assert spark.read.parquet(f"{out}/{table}").count() > 0

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{out}/curation_pipeline").collect()
    )
    want = sorted(
        tuple(r)
        for r in curation_pipeline(spark.read.parquet(DOCS_PARQUET)).collect()
    )
    assert got == want
