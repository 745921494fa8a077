"""CLI entrypoint — the Cobra command-family analog, run via
``spark-submit [--py-files stellar_etl_spark.zip] -m`` or plain python.

Reference analog: one export command per output table with shared
range/limit/strict flags (/root/reference/cmd/export_ledgers.go,
export_ledger_entry_changes.go:31-59; common flags
internal/utils/main.go:460-538). Differences by design:

* ranges are event-time (``--start-ts/--end-ts``) — partition pruning
  replaces the reference's remote binary search (ledger_range.go);
* ``export-all --stream`` runs the multi-table fan-out through ONE
  checkpoint + exactly-once epoch sink (the reference writes N files
  per batch with no atomicity, export_ledger_entry_changes.go:295-377);
* batch mode writes plain parquet per table (JSONL sink analog).

Examples::

    python -m stellar_etl_spark.cli export-sessions \
        --input /data/transcripts --out /data/out --master 'local[8]'
    python -m stellar_etl_spark.cli export-all --stream \
        --input /data/transcripts --out /data/sink --checkpoint /data/ckpt
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame

from stellar_etl_spark.config import EngineConfig


def _tables(cfg: EngineConfig, as_of: str | None = None):
    from stellar_etl_spark.operators import (
        dims,
        exchange,
        intervals,
        journeys,
        pairs,
        rollups,
        sessions,
        skew,
        star,
        state,
    )
    from stellar_etl_spark.operators.enrich import enrich_turns

    def _closed_sessions(df: DataFrame) -> DataFrame:
        if not as_of:
            raise SystemExit("export-closed-sessions needs --as-of "
                             "<timestamp> (the watermark cutoff)")
        return sessions.closed_sessions(df, cfg, as_of)

    return {
        "turns": lambda df: enrich_turns(df, cfg),
        "sessions": lambda df: sessions.sessionize(df, cfg),
        "tool_rate": rollups.tool_rate,
        "role_rate": rollups.role_rate,
        "tool_rate_sliding": rollups.tool_rate_sliding,
        "pairs": lambda df: pairs.match_pairs(df, cfg),
        "latency_quantiles": lambda df: pairs.latency_quantiles(
            pairs.match_pairs(df, cfg)
        ),
        "last_state": state.compact_last_state,
        "fact_tool_events": star.normalize_star,
        "tool_sequences": star.tool_sequences,
        "derived_events": star.derived_events,
        "tool_event_details": star.tool_event_details,
        "successful_tool_calls": star.successful_tool_calls,
        "state_conv_tools": state.state_conv_tools,
        "state_intervals": state.state_intervals,
        "exchanges": exchange.exchanges,
        "conv_participants": dims.conv_participants,
        "conv_retention": journeys.conv_retention,
        "tool_transitions": journeys.tool_transitions,
        "conv_documents": journeys.conv_documents,
        "conv_doc_dedup": journeys.conv_doc_dedup,
        "error_bursts": journeys.error_bursts,
        "tool_lift": journeys.tool_lift,
        "burst_concurrency": lambda df: intervals.burst_concurrency(df, cfg),
        "tool_pagerank": journeys.tool_pagerank,
        "latency_outliers": _latency_outliers_table,
        "dq_violations": _dq_violations_table,
        "tool_conv_hll": _tool_conv_hll_table,
        "asof_last_tool": state.asof_last_tool,
        "initiating_user": state.initiating_user_turn,
        "dim_tools": dims.dim_tools,
        "explode_tokens": dims.explode_tokens,
        "top_convs": dims.top_convs,
        "conv_funnel": journeys.conv_funnel,
        "tool_rate_peak": rollups.tool_rate_peak,
        "salted_tool_rate": skew.salted_windowed_tool_counts,
        "conv_turns_cms": _conv_turns_cms_table,
        "transform_stats": lambda df: _transform_stats_table(df, cfg),
        "closed_sessions": _closed_sessions,
    }


def _doc_tables():
    """Document-corpus exporters (CLI parity for the curation/trainprep
    family — the reference's one-export-command-per-table surface,
    /root/reference/cmd/export_ledger_entry_changes.go:90-109, extended
    to the training-data tables). ``--input`` for these commands is a
    parquet dir/file of documents (doc_id, text, lang, source), not
    transcripts. Batch-only: each is a whole-corpus pass (sampling
    quotas, df caps, bloom build) whose per-micro-batch form would
    silently change semantics."""
    from stellar_etl_spark.functions import curation as fcur
    from stellar_etl_spark.functions import dedup as fdedup
    from stellar_etl_spark.functions import multimodal as fmm
    from stellar_etl_spark.functions import retrieval as fret
    from stellar_etl_spark.functions import scoring as fscore
    from stellar_etl_spark.functions import spans as fspans
    from stellar_etl_spark.functions import text as ftext
    from stellar_etl_spark.functions import trainprep as ftp

    from stellar_etl_spark.functions import profile as fprof

    return {
        "quality_funnel": fcur.quality_funnel,
        "bm25_topk": fret.bm25_topk,
        "corpus_profile": fprof.corpus_profile,
        "corpus_sample": fcur.stratified_sample,
        "domain_topk_sample": fcur.domain_topk_sample,
        "curriculum_buckets": fcur.curriculum_buckets,
        "corpus_split": fcur.corpus_split,
        "domain_mix_weights": fcur.domain_mix_weights,
        "doc_top_terms": fcur.doc_top_terms,
        "doc_repetition": fcur.doc_repetition,
        "doc_containment": fdedup.doc_containment,
        "dup_spans": fspans.dup_spans,
        "decontaminate": ftp.decontaminate,
        "retrieve_rerank": None,  # two-input: handled in main (--embeddings)
        "pack_sequences": ftp.pack_sequences,
        "boilerplate_spans": ftp.boilerplate_spans,
        # text-analysis family (T8-T11, T22)
        "doc_stats": ftext.doc_stats,
        "doc_lang_id": ftext.lang_id,
        "doc_fingerprint": ftext.fingerprint,
        # the PURE scrub over the real corpus (no injection fixture —
        # the driver query's inject_synthetic_pii is benchmark-only)
        "redact_pii": ftext.redact_pii,
        # dedup family (T1-T4, T21, T28)
        "dedup_exact": fdedup.exact_dedup,
        "dedup_minhash_lsh": fdedup.minhash_lsh_dedup,
        "dedup_simhash": fdedup.simhash_dedup,
        "dedup_ngram_jaccard": fdedup.ngram_jaccard_dedup,
        "dup_clusters": fdedup.dup_clusters,
        "dedup_resolve": fdedup.dedup_resolve,
        "decontaminate_bloom": ftp.decontaminate_bloom,
        # multimodal plumbing (T12/T13): payload synthesis + decode;
        # a deployment passes a real decoder via EngineConfig
        "multimodal_meta": fmm.decode_metadata,
        "multimodal_frames": fmm.frame_sample,
        # scoring/packaging family (T60-T64)
        "chunk_documents": fscore.chunk_documents,
        "ngram_lm_score": fscore.ngram_lm_score,
        "priority_sample": fscore.priority_sample,
        "quality_logreg": fscore.quality_logreg,
        "blocklist_hits": fscore.blocklist_hits,
        "curation_pipeline": fscore.curation_pipeline,
    }


def _emb_tables():
    """Embedding-corpus exporters. ``--input`` is a parquet dir/file of
    embeddings (vec_id, embedding array<float>, label). Unlike the
    driver's `semdedup` query (which composes the planted-twin test
    fixture, like `redact_pii`'s injection fixture), the CLI form runs
    the pure operator over the real table. Batch-only: whole-corpus
    passes (centroid sums, cluster-scoped pair joins)."""
    from pyspark.sql import functions as F

    from stellar_etl_spark.functions import dedup as fdedup
    from stellar_etl_spark.functions import semdedup as fsem
    from stellar_etl_spark.functions import similarity as fsim
    from stellar_etl_spark.functions import trainprep as ftp

    def _cast(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("emb"),
            "label",
        )

    return {
        "lang_centroids": lambda df: ftp.lang_centroids(_cast(df)),
        "kmeans_assign": lambda df: ftp.kmeans_assign(_cast(df)),
        "semdedup": lambda df: fsem.semdedup(
            _cast(df), _cast(df).select("vec_id", "emb")
        ),
        # cosine near-dup pairs over the real table (the driver query's
        # planted-variant corpus is the benchmark fixture)
        "dedup_embedding": lambda df: fdedup.embedding_dup_pairs(
            _cast(df).select("vec_id", "emb")
        ),
        # ANN family (T6/T7/T14/T32): queries = vec_id < N_QUERIES
        "ann_topk_brute": lambda df: fsim.ann_bruteforce(_cast(df)),
        "ann_topk_lsh": lambda df: fsim.ann_lsh(_cast(df)),
        "ann_topk_ivf": lambda df: fsim.ann_ivf(_cast(df)),
        "ann_topk_sq8": lambda df: fsim.ann_sq8(_cast(df)),
    }


def _tool_conv_hll_table(df: DataFrame) -> DataFrame:
    from stellar_etl_spark.functions.sketch import tool_conv_hll

    return tool_conv_hll(df)


def _conv_turns_cms_table(df: DataFrame) -> DataFrame:
    from stellar_etl_spark.functions.sketch import conv_turns_cms

    return conv_turns_cms(df)


def _transform_stats_table(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    # attempted/successful/failed counters (PrintTransformStats analog,
    # cmd/command_utils.go:90-103)
    from pyspark.sql import functions as F

    from stellar_etl_spark.operators.enrich import enrich_turns

    return enrich_turns(df, cfg).agg(
        F.count(F.lit(1)).cast("long").alias("attempted"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0))
        .cast("long").alias("successful"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .cast("long").alias("failed"),
    )


def _latency_outliers_table(df: DataFrame) -> DataFrame:
    from stellar_etl_spark.operators.pairs import latency_outliers, match_pairs

    return latency_outliers(match_pairs(df))


def _dq_violations_table(df: DataFrame) -> DataFrame:
    # the PURE checker over the real input (no mutation fixture)
    from stellar_etl_spark.operators.dq import dq_violations

    return dq_violations(df)


# Row-local transcript tables: each output row is computed from its own
# input row, so one micro-batch's rows are the batch table's rows for
# that batch's input, and under --stream these tables share the one
# fan-out query. Every other table streams only through a stateful
# form in _windowed_builders, or not at all.
STREAM_ROW_LOCAL = frozenset({
    "turns", "fact_tool_events", "tool_event_details",
    "successful_tool_calls", "derived_events", "explode_tokens",
})


def _windowed_builders(cfg: EngineConfig):
    """The streaming forms of the watermarked / stateful tables: each
    runs as its own stateful query (a per-batch transform would break
    its cross-batch semantics)."""
    from stellar_etl_spark.operators import rollups, sessions
    from stellar_etl_spark.streaming.cep import ordered_stream
    from stellar_etl_spark.streaming.matcher import PAIRS

    return {
        "sessions": lambda s: sessions.sessionize(s, cfg, watermark=True),
        "tool_rate": lambda s: rollups.tool_rate(
            s.withWatermark("ts", cfg.watermark_delay), distinct="approx"),
        "role_rate": lambda s: rollups.role_rate(
            s.withWatermark("ts", cfg.watermark_delay), distinct="approx"),
        "tool_rate_sliding": lambda s: rollups.tool_rate_sliding(
            s.withWatermark("ts", cfg.watermark_delay), distinct="approx"),
        "pairs": lambda s: ordered_stream(s, PAIRS, cfg),
        # native chained time-window aggregation (two stateful
        # aggs, one watermark finalizes both)
        "tool_rate_peak": lambda s: rollups.tool_rate_peak(
            s.withWatermark("ts", cfg.watermark_delay)),
    }


def _apply_range(df: DataFrame, args, streaming: bool = False) -> DataFrame:
    """Event-time range restriction — applied identically to batch and
    streaming inputs (a pushed-down ts predicate; in streaming it rides
    ahead of the watermark). --limit is batch-only and deterministic:
    rows are ordered by (conv_id, turn_idx) before the limit so
    re-running a backfill with the same flags selects the same rows
    (docs/backfill.md idempotence contract)."""
    from pyspark.sql import functions as F

    if args.start_ts:
        df = df.filter(F.col("ts") >= args.start_ts)
    if args.end_ts:
        df = df.filter(F.col("ts") < args.end_ts)
    if args.limit and args.limit > 0:
        if streaming:
            raise SystemExit("--limit is batch-only; not valid with --stream")
        df = df.orderBy("conv_id", "turn_idx").limit(args.limit)
    return df


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="stellar-etl-spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--input", required=True, help="transcript parquet dir")
        sp.add_argument("--out", required=True, help="output root dir")
        sp.add_argument("--checkpoint", help="checkpoint dir (stream mode)")
        sp.add_argument("--stream", action="store_true", help="run as streaming query")
        sp.add_argument("--start-ts", help="inclusive event-time lower bound")
        sp.add_argument("--end-ts", help="exclusive event-time upper bound")
        sp.add_argument("--limit", type=int, default=-1, help="row limit (batch only)")
        sp.add_argument(
            "--format", default="parquet", choices=["parquet", "json"],
            help="batch output format (json = JSONL, the reference's primary "
                 "sink, cmd/command_utils.go:55-87; one JSON object per line)",
        )
        sp.add_argument("--strict", action="store_true", help="fail on transform errors")
        sp.add_argument(
            "--extra-field", action="append", default=[], metavar="K=V",
            help="append a constant column K with value V to every exported "
                 "row; repeatable (the reference's --extra-fields flag, "
                 "cmd/command_utils.go:69-71, internal/utils/main.go:237)",
        )
        sp.add_argument("--master", default="local[*]")
        sp.add_argument("--session-gap", default="8 hours")
        sp.add_argument("--watermark", default="10 minutes")
        sp.add_argument("--files-per-trigger", type=int, default=4)
        sp.add_argument(
            "--embeddings", default=None,
            help="embeddings parquet (vec_id, embedding, label) — required "
                 "by export-retrieve-rerank (doc_id==vec_id aligned)",
        )
        sp.add_argument(
            "--as-of", default=None, dest="as_of",
            help="watermark cutoff timestamp — required by "
                 "export-closed-sessions (only sessions finalized by "
                 "this event time are exported)",
        )

    cfg0 = EngineConfig()
    for name in list(_tables(cfg0)) + ["all"]:
        sp = sub.add_parser(f"export-{name.replace('_', '-')}")
        common(sp)
        sp.set_defaults(table=name, doc_table=False)
    for name in _doc_tables():
        sp = sub.add_parser(f"export-{name.replace('_', '-')}")
        common(sp)
        sp.set_defaults(table=name, doc_table=True)
    for name in _emb_tables():
        sp = sub.add_parser(f"export-{name.replace('_', '-')}")
        common(sp)
        sp.set_defaults(table=name, emb_table=True)
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    cfg = EngineConfig(
        session_gap=args.session_gap,
        watermark_delay=args.watermark,
        strict_errors=args.strict,
    )
    from pyspark.sql import functions as F

    extras: dict[str, str] = {}
    for kv in args.extra_field:
        if "=" not in kv:
            raise SystemExit(f"--extra-field expects K=V, got {kv!r}")
        k, v = kv.split("=", 1)
        extras[k] = v

    def _with_extras(df: DataFrame) -> DataFrame:
        # lit() columns appended AFTER the transform so every exported
        # row carries them, exactly like the reference tacks the parsed
        # map onto each output record before serialization
        for k, v in extras.items():
            df = df.withColumn(k, F.lit(v))
        return df

    is_doc = getattr(args, "doc_table", False)
    is_emb = getattr(args, "emb_table", False)
    if is_doc or is_emb:
        kind = "document" if is_doc else "embedding"
        if args.stream:
            raise SystemExit(f"--stream not supported for {args.table} "
                             "(whole-corpus pass; run it in batch mode)")
        if args.start_ts or args.end_ts:
            raise SystemExit("--start-ts/--end-ts apply to transcript "
                             f"exports; {kind} tables have no event time")
        own = spark is None
        if own:
            from stellar_etl_spark.session import get_spark

            spark = get_spark(EngineConfig(master=args.master),
                              app_name="stellar-etl-spark-cli")
        from stellar_etl_spark.deploy import ship_package

        ship_package(spark)
        try:
            rows = spark.read.parquet(args.input)
            if args.limit and args.limit > 0:
                rows = rows.orderBy("doc_id" if is_doc else "vec_id").limit(
                    args.limit
                )
            if args.table == "retrieve_rerank":
                if not args.embeddings:
                    raise SystemExit(
                        "export-retrieve-rerank needs --embeddings <parquet>"
                    )
                from stellar_etl_spark.functions import retrieval as fret

                emb = spark.read.parquet(args.embeddings).select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("emb"),
                    "label",
                )
                out_df = fret.retrieve_rerank(rows, emb)
            else:
                fn = (_doc_tables() if is_doc else _emb_tables())[args.table]
                out_df = fn(rows)
            _with_extras(out_df).write.mode("overwrite").format(
                args.format
            ).save(f"{args.out}/{args.table}")
            return 0
        finally:
            if own:
                spark.stop()

    tables = {n: (lambda fn: (lambda df: _with_extras(fn(df))))(f)
              for n, f in _tables(cfg, as_of=args.as_of).items()}
    selected = tables if args.table == "all" else {args.table: tables[args.table]}
    if args.table == "all" and not args.as_of:
        # closed_sessions is an as-of gate; without a cutoff it has no
        # defined output — skip it in the fan-out rather than failing
        selected = {n: f for n, f in selected.items() if n != "closed_sessions"}

    if args.stream:
        # a table streams only in a form whose micro-batches add up to
        # its batch output; every other table (a per-key aggregate, a
        # conversation window, a global aggregate) would silently emit
        # per-micro-batch results, so stream mode refuses it (explicit
        # table) or skips it (export-all)
        windowed_builders = _windowed_builders(cfg)
        streamable = STREAM_ROW_LOCAL | windowed_builders.keys()
        if args.table != "all" and args.table not in streamable:
            raise SystemExit(f"--stream not supported for {args.table} "
                             "(not row-local and no streaming form; run it "
                             "in batch mode)")
        selected = {n: f for n, f in selected.items() if n in streamable}

    own_session = spark is None
    if own_session:
        from stellar_etl_spark.session import get_spark

        spark = get_spark(EngineConfig(master=args.master), app_name="stellar-etl-spark-cli")
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)

    try:
        if args.stream:
            if not args.checkpoint:
                raise SystemExit("--checkpoint is required with --stream")
            from stellar_etl_spark.streaming.pipeline import start_fanout
            from stellar_etl_spark.streaming.source import read_transcript_stream

            def src():
                return _apply_range(
                    read_transcript_stream(
                        spark, args.input, max_files_per_trigger=args.files_per_trigger
                    ),
                    args,
                    streaming=True,
                )

            # row-local tables share ONE fan-out query/checkpoint (all-or-
            # nothing per epoch); each windowed table is its own stateful
            # query: a fan-out of one table
            queries = []
            fanout = {n: f for n, f in selected.items() if n not in windowed_builders}
            if fanout:
                queries.append(start_fanout(
                    src(), args.out, f"{args.checkpoint}/fanout", fanout))
            for name in selected:
                if name in windowed_builders:
                    queries.append(start_fanout(
                        _with_extras(windowed_builders[name](src())), args.out,
                        f"{args.checkpoint}/{name}", {name: lambda df: df},
                        query_name=name))
            for q in queries:
                q.awaitTermination()
        else:
            from stellar_etl_spark.streaming.source import read_transcript_batch

            df = _apply_range(read_transcript_batch(spark, args.input), args)
            for name, fn in selected.items():
                fn(df).write.mode("overwrite").format(args.format).save(
                    f"{args.out}/{name}"
                )
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
