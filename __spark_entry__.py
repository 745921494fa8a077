"""Driver contract for the spark-graft builder (PySpark target).

The engine under test is ``stellar_etl_spark`` — a from-scratch
PySpark structured-streaming/CEP engine over transcript tables
(SURVEY.md). The transcripts input is derived *deterministically and
SQL-expressibly* from the driver's ``events`` table
(stellar_etl_spark/sources/transcripts.py), so every query below has
an exact DuckDB oracle sharing the same CTE.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.functions import corpus as fcorpus
from stellar_etl_spark.functions import curation as fcur
from stellar_etl_spark.functions import dedup as fdedup
from stellar_etl_spark.functions import multimodal as fmm
from stellar_etl_spark.functions import similarity as fsim
from stellar_etl_spark.functions import scoring as fscore
from stellar_etl_spark.functions import spans as fspans
from stellar_etl_spark.functions import sketch as fsketch
from stellar_etl_spark.functions import text as ftext
from stellar_etl_spark.functions import trainprep as ftp
from stellar_etl_spark.operators import (
    dims,
    dq,
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
from stellar_etl_spark.sources.transcripts import TRANSCRIPTS_CTE, load_transcripts

CFG = EngineConfig()


def _T(spark, sf_dir):
    # harness sessions aren't built by get_spark(): ship the package to
    # Python workers (the --py-files equivalent) before any UDF runs
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)
    return load_transcripts(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: session-window closes with per-session counts
    (the ledger-close analog) on sf0.001."""
    return sessions.sessionize(_T(spark, "/root/testdata/sf0.001"), CFG)


# --- query registry -------------------------------------------------------

def _q_turns_enriched(spark, sf):
    return enrich_turns(_T(spark, sf), CFG)


def _q_sessions(spark, sf):
    return sessions.sessionize(_T(spark, sf), CFG)


def _q_tool_rate_1m(spark, sf):
    return rollups.tool_rate(_T(spark, sf))


def _q_role_rate_1m(spark, sf):
    return rollups.role_rate(_T(spark, sf))


def _q_tool_rate_5m_sliding(spark, sf):
    return rollups.tool_rate_sliding(_T(spark, sf))


def _q_turn_pairs(spark, sf):
    return pairs.match_pairs(_T(spark, sf), CFG)


def _q_compact_last_state(spark, sf):
    return state.compact_last_state(_T(spark, sf))


def _q_asof_last_tool(spark, sf):
    return state.asof_last_tool(_T(spark, sf))


def _q_initiating_user(spark, sf):
    return state.initiating_user_turn(_T(spark, sf))


def _q_dim_tools(spark, sf):
    # rank surrogate: DuckDB has no xxhash64, so the oracle-parity form
    # keeps the portable dense rank (engine default is the hash)
    return dims.dim_tools(_T(spark, sf), surrogate="rank")


def _q_explode_tokens(spark, sf):
    return dims.explode_tokens(_T(spark, sf))


def _q_top_convs(spark, sf):
    return dims.top_convs(_T(spark, sf))


def _q_turn_range_from_times(spark, sf):
    """Time->range resolution (get_ledger_range_from_times analog,
    /root/reference/internal/input/ledger_range.go:32-68): partition
    pruning replaces the reference's remote binary search."""
    df = _T(spark, sf).filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-10")
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count_distinct("conv_id").cast("long").alias("n_convs"),
    )


def _q_transform_stats(spark, sf):
    """Attempted/successful/failed counters (PrintTransformStats analog,
    /root/reference/cmd/command_utils.go:90-103)."""
    e = enrich_turns(_T(spark, sf), CFG)
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("attempted"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).cast("long").alias("successful"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).cast("long").alias("failed"),
    )


def _q_salted_tool_rate(spark, sf):
    return skew.salted_windowed_tool_counts(_T(spark, sf))


# --- training-data pipeline queries (documents/embeddings tables) ---------

def _C(spark, sf):
    from stellar_etl_spark.deploy import ship_package

    ship_package(spark)
    return fcorpus.load_corpus(spark, sf)


def _q_doc_stats(spark, sf):
    return ftext.doc_stats(_C(spark, sf))


def _q_doc_lang_id(spark, sf):
    return ftext.lang_id(_C(spark, sf))


def _q_doc_fingerprint(spark, sf):
    return ftext.fingerprint(_C(spark, sf))


def _q_redact_pii(spark, sf):
    # inject_synthetic_pii is the benchmark fixture (the raw synthetic
    # corpus contains no PII); redact_pii itself is the pure scrub
    return ftext.redact_pii(ftext.inject_synthetic_pii(_C(spark, sf)))


def _q_tool_conv_hll(spark, sf):
    return fsketch.tool_conv_hll(_T(spark, sf))


def _q_conv_turns_cms(spark, sf):
    return fsketch.conv_turns_cms(_T(spark, sf))


def _q_conv_turns_cms_streamed(spark, sf):
    """CMS counter grid as update-mode streaming state (SUM merge),
    folded from the epoch sink; oracle = the batch CMS SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_conv_turns_cms(spark, sf)


def _q_tool_conv_hll_streamed(spark, sf):
    from stellar_etl_spark.streaming import parity
    return parity.streamed_tool_conv_hll(spark, sf)


def _q_dedup_exact(spark, sf):
    return fdedup.exact_dedup(_C(spark, sf))


def _q_dedup_minhash(spark, sf):
    return fdedup.minhash_lsh_dedup(_C(spark, sf))


def _q_dedup_simhash(spark, sf):
    return fdedup.simhash_dedup(_C(spark, sf))


def _q_dedup_ngram(spark, sf):
    return fdedup.ngram_jaccard_dedup(_C(spark, sf))


def _q_dedup_embedding(spark, sf):
    return fdedup.embedding_dup_pairs(fdedup.load_emb_corpus(spark, sf))


def _q_semdedup(spark, sf):
    from stellar_etl_spark.functions import semdedup as fsem

    return fsem.semdedup(
        fcorpus.load_embeddings(spark, sf), fdedup.load_emb_corpus(spark, sf)
    )


def _semdedup_oracle() -> str:
    from stellar_etl_spark.functions import semdedup as fsem

    return fsem.semdedup_oracle(
        fcorpus.EMB_CTE.strip(), fdedup.EMB_CORPUS_CTE.strip()
    )


def _q_doc_containment(spark, sf):
    return fdedup.doc_containment(_C(spark, sf))


def _q_dup_spans(spark, sf):
    return fspans.dup_spans(_C(spark, sf))


def _q_corpus_split(spark, sf):
    return fcur.corpus_split(_C(spark, sf))


def _q_domain_mix_weights(spark, sf):
    return fcur.domain_mix_weights(_C(spark, sf))


def _q_quality_funnel_streamed(spark, sf):
    """The funnel's stage-4 seen-map as REAL streaming state (the
    dedup drain), funnel assembled from the fold; oracle = the batch
    quality_funnel SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_quality_funnel(spark, sf)


def _q_conv_retention_streamed(spark, sf):
    """Retention's (conv, active-day) seen-set as streaming state;
    matrix assembled from the fold; oracle = the batch retention SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_conv_retention(spark, sf)


def _q_turn_tools_streamed(spark, sf):
    """Stream-static join evidence: transcript stream x broadcast tool
    dimension, drained append-mode; oracle = the equivalent batch
    join SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_tools(spark, sf)


def _q_fanout_streamed(spark, sf):
    """Composed multi-output streaming DAG under ONE checkpoint: one
    transcript stream fans out to three tables (row-local projection,
    windowed-rate partial, per-(tool,conv) partial) inside a single
    foreachBatch with all-or-nothing epoch commit — the reference's
    one-consumer-loop/many-tables demux
    (cmd/export_ledger_entry_changes.go:129-271) with atomicity. The
    fold joins all three tables into one per-tool report; oracle = the
    batch per-tool SQL, so a duplicated/dropped epoch in ANY table
    breaks the hash."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_fanout(spark, sf)


def _q_dup_clusters(spark, sf):
    return fdedup.dup_clusters(_C(spark, sf))


def _q_dedup_resolve(spark, sf):
    return fdedup.dedup_resolve(_C(spark, sf))


def _q_ann_brute(spark, sf):
    return fsim.ann_bruteforce(fcorpus.load_embeddings(spark, sf))


def _q_ann_sq8(spark, sf):
    return fsim.ann_sq8(fcorpus.load_embeddings(spark, sf))


def _q_ann_recall(spark, sf):
    """ANN evaluation: recall@k of lsh/ivf/ivf2/sq8 against exact
    brute force at each method's own k — approximation quality as a
    queryable, oracle-gated table."""
    return fsim.ann_recall(fcorpus.load_embeddings(spark, sf))


def _q_ann_ivf2(spark, sf):
    """Hierarchical two-level IVF: N^1.25 assignment replacing
    ann_ivf's N^1.5 (the VERDICT r04 #7 scalability fix), fully
    deterministic routing so the DuckDB oracle mirrors it exactly."""
    return fsim.ann_ivf2(fcorpus.load_embeddings(spark, sf))


def _q_ann_lsh(spark, sf):
    return fsim.ann_lsh(fcorpus.load_embeddings(spark, sf))


def _q_ann_ivf(spark, sf):
    return fsim.ann_ivf(fcorpus.load_embeddings(spark, sf))


def _q_corpus_sample(spark, sf):
    return fcur.stratified_sample(_C(spark, sf))


def _q_doc_top_terms(spark, sf):
    return fcur.doc_top_terms(_C(spark, sf))


def _q_chunk_documents(spark, sf):
    """T60: RAG chunking — fixed-size overlapping token windows per
    doc; narrow map + generate, zero shuffle."""
    return fscore.chunk_documents(_C(spark, sf))


def _q_ngram_lm_score(spark, sf):
    """T61: corpus-trained bigram-LM fluency score (perplexity-filter
    shape); integer permille until one final division."""
    return fscore.ngram_lm_score(_C(spark, sf))


def _q_priority_sample(spark, sf):
    """T62: weighted priority sample (w/u, hash-derived uniform);
    distributed TakeOrdered top-k, reproducible on any cluster."""
    return fscore.priority_sample(_C(spark, sf))


def _q_quality_logreg(spark, sf):
    """T63: broadcast linear quality gate over exact token features;
    zero-shuffle codegen map."""
    return fscore.quality_logreg(_C(spark, sf))


def _q_blocklist_hits(spark, sf):
    """T64: token blocklist safety filter with density flag; zero
    shuffle, plan-literal denylist."""
    return fscore.blocklist_hits(_C(spark, sf))


def _q_curation_pipeline(spark, sf):
    """T65: the composed curation DAG (quality gate -> blocklist ->
    doc dedup -> chunk -> chunk dedup) gated as one per-stage report."""
    return fscore.curation_pipeline(_C(spark, sf))


def _q_ngram_lm_streamed(spark, sf):
    """T66: the T61 bigram LM's count tables maintained by a stateless
    incremental-index stream (per-epoch SUM-mergeable partials through
    the exactly-once sink), scored at serve time by the batch tail;
    oracle shared verbatim with the batch query."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_ngram_lm(spark, sf)


def _q_latency_quantiles(spark, sf):
    return pairs.latency_quantiles(pairs.match_pairs(_T(spark, sf)))


def _q_latency_outliers(spark, sf):
    """Per-responder |z| > 3 latency anomalies: one vocabulary-keyed
    stats agg broadcast back over the pairs table (no window sort)."""
    return pairs.latency_outliers(pairs.match_pairs(_T(spark, sf)))


def _q_tool_lift(spark, sf):
    """Conversation-level tool-pair association (market-basket lift);
    row-local pair generation, integer-exact until one division."""
    return journeys.tool_lift(_T(spark, sf))


def _q_quality_funnel(spark, sf):
    return fcur.quality_funnel(_C(spark, sf))


def _q_doc_repetition(spark, sf):
    return fcur.doc_repetition(_C(spark, sf))


def _q_conv_retention(spark, sf):
    return journeys.conv_retention(_T(spark, sf))


def _q_tool_transitions(spark, sf):
    return journeys.tool_transitions(_T(spark, sf))


def _q_error_bursts(spark, sf):
    return journeys.error_bursts(_T(spark, sf))


def _q_error_bursts_streamed(spark, sf):
    """Quantified CEP (error{>=3} consecutive) with cross-batch run
    state and watermark-timeout finalization; oracle = the batch
    gaps-and-islands SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_error_bursts(spark, sf)


def _q_dedup_minhash_streamed(spark, sf):
    """MinHash-LSH bucket membership as hard-bounded streaming state
    (BAND_CAP + poisoning enforced IN the state store); oracle = the
    batch minhash pair SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_dedup_minhash(spark, sf)


def _bm25_oracle() -> str:
    from stellar_etl_spark.functions import retrieval as fret

    return fret.bm25_oracle(fcorpus.CORPUS_CTE)


def _q_bm25_topk(spark, sf):
    """Sparse lexical retrieval: exact-rational BM25 (linear idf,
    k1=6/5, b=3/4 cleared to one BIGINT ratio per term), deterministic
    sorted-fold score sum, two-phase top-k per query."""
    from stellar_etl_spark.functions import retrieval as fret

    return fret.bm25_topk(fcorpus.load_corpus(spark, sf))


def _q_dq_violations(spark, sf):
    """Integrity-check violations over a deterministically mutated
    fixture (the redact_pii injection-split discipline — the checker
    itself is pure; the mutation CTE is mirrored in the oracle)."""
    return dq.dq_violations(dq.inject_dq_violations(_T(spark, sf)))


def _q_dq_violations_streamed(spark, sf):
    """T49 streamed: the integrity monitor as a streaming query —
    row-local checks emit per micro-batch (stateless branch), order
    checks (dup/gap/ts-regression) maintain BOUNDED per-distinct-idx
    group statistics (count/min/max ts — provably sufficient for the
    batch semantics, streaming/dq.py module doc) in
    applyInPandasWithState, partially finalizing past the open-group
    ceiling and fully at event-time timeout. Same injection, same
    oracle as the batch checker."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_dq_violations(spark, sf)


def _q_burst_concurrency(spark, sf):
    """T50: interval-overlap (range) join — per error burst, the count
    of OTHER conversations with a session window concurrently open and
    the summed overlap µs. Binned 1h-bucket equi-join with the
    greatest-start anchor (dedupe-free), no nested-loop theta join."""
    return intervals.burst_concurrency(_T(spark, sf))


def _q_retrieve_rerank(spark, sf):
    """T51: two-stage retrieval funnel — query-by-document lexical
    recall (df-capped inverted index, two-phase top-cand) reranked by
    exact embedding cosine over the doc_id==vec_id aligned PURE corpus."""
    from stellar_etl_spark.functions import retrieval as fret

    return fret.retrieve_rerank(
        fcorpus.load_documents(spark, sf), fcorpus.load_embeddings(spark, sf)
    )


def _q_tool_pagerank(spark, sf):
    """T52: iterative graph centrality — integer-exact weighted
    PageRank (fixed 5 BIGINT-arithmetic iterations, lineage truncated
    per round) over the tool-transition digraph."""
    return journeys.tool_pagerank(_T(spark, sf))


def _q_curriculum_buckets(spark, sf):
    """T58: curriculum decile binning by exact value-quantile
    boundaries — histogram over the score DOMAIN + broadcast bounds;
    the corpus is never sorted. Oracle shares the integer gate."""
    return fcur.curriculum_buckets(_C(spark, sf))


def _q_domain_topk_sample(spark, sf):
    """T59: fixed-size per-stratum reservoir sample (K smallest salted
    hashes) with two-phase top-k so a giant stratum never funnels
    through one window partition; oracle = single-window ROW_NUMBER."""
    return fcur.domain_topk_sample(_C(spark, sf))


def _q_conv_funnel(spark, sf):
    """T57: ordered conversion funnel (CEP user->assistant->tool with
    per-stage 1h horizon) as a one-shuffle sorted-fold state machine;
    oracle = MIN(ts)-chaining CTEs."""
    return journeys.conv_funnel(_T(spark, sf))


def _q_turn_replies_streamed(spark, sf):
    """T53/J7 streamed: Spark's native symmetric-hash stream-stream
    join — the watermarked turn stream self-joined on conv_id with an
    event-time range (reply window), many-to-many semantics; state
    bounded by the range condition, emission sentinel-independent."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_replies(spark, sf)


def _q_turn_replies_outer_streamed(spark, sf):
    """T56: LEFT OUTER stream-stream range join — reply-less user
    turns emit null-padded via the built-in operator's watermark-driven
    state eviction (the native analog of the matcher's
    evicted_unmatched rows)."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_replies_outer(spark, sf)


def _q_tool_rate_peak(spark, sf):
    """T54 batch form: window-on-window rollup — per-tool 1m counts
    re-aggregated into 10m peak/total/active-minute blocks."""
    return rollups.tool_rate_peak(_T(spark, sf))


def _q_tool_rate_peak_streamed(spark, sf):
    """T54 streamed: Spark's native chained time-window aggregation —
    two stateful aggs in one query, same watermark finalizes both."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_tool_rate_peak(spark, sf)


def _q_turn_dedup_streamed(spark, sf):
    """T55: native streaming dedup — injected exact-duplicate turns
    dropped by dropDuplicatesWithinWatermark (bounded suppression
    state); drained rows equal the batch DISTINCT."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_dedup(spark, sf)


def _replies_oracle() -> str:
    from stellar_etl_spark.streaming.replies import TURN_REPLIES_ORACLE_SQL

    return TURN_REPLIES_ORACLE_SQL


def _replies_outer_oracle() -> str:
    from stellar_etl_spark.streaming.replies import TURN_REPLIES_OUTER_ORACLE_SQL

    return TURN_REPLIES_OUTER_ORACLE_SQL


def _retrieve_rerank_oracle() -> str:
    from stellar_etl_spark.functions import retrieval as fret

    return fret.retrieve_rerank_oracle(fcorpus.EMB_CTE)


def _corpus_profile_oracle() -> str:
    from stellar_etl_spark.functions import profile as fprof

    return fprof.corpus_profile_oracle(fcorpus.CORPUS_CTE)


def _q_corpus_profile(spark, sf):
    """Per-column profiling (ANALYZE analog): one agg pass, native-type
    min/max cast to string post-agg, exact distincts (HLL swap noted
    for petabyte rows)."""
    from stellar_etl_spark.functions import profile as fprof

    return fprof.corpus_profile(_C(spark, sf))


def _q_bm25_topk_streamed(spark, sf):
    """Incremental inverted-index maintenance: a stateless stream
    derives (doc, dl) + per-query-term tf rows row-locally, commits
    them exactly-once per epoch, and the serve-time fold runs the batch
    scoring tail over the accumulated index; oracle = the batch BM25
    SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_bm25(spark, sf)


def _q_conv_documents(spark, sf):
    return journeys.conv_documents(_T(spark, sf))


def _q_conv_doc_dedup(spark, sf):
    return journeys.conv_doc_dedup(_T(spark, sf))


def _q_decontaminate(spark, sf):
    return ftp.decontaminate(_C(spark, sf))


def _q_decontaminate_bloom(spark, sf):
    return ftp.decontaminate_bloom(_C(spark, sf))


def _q_pack_sequences(spark, sf):
    return ftp.pack_sequences(_C(spark, sf))


def _q_boilerplate_spans(spark, sf):
    return ftp.boilerplate_spans(_C(spark, sf))


def _q_lang_centroids(spark, sf):
    return ftp.lang_centroids(fcorpus.load_embeddings(spark, sf))


def _q_kmeans_assign(spark, sf):
    return ftp.kmeans_assign(fcorpus.load_embeddings(spark, sf))


def _q_multimodal_meta(spark, sf):
    return fmm.decode_metadata(_C(spark, sf), decoder=CFG.multimodal_decoder)


# a config carrying a NON-default decoder: the pluggable-struct path
# (EngineConfig.multimodal_decoder -> decode_metadata) gated by value —
# if the hook were ignored, the default stub's numbers would come out
# and the oracle (alt arithmetic) would hash-mismatch.
ALT_CFG = EngineConfig(multimodal_decoder=fmm.alt_decode_batch)


def _q_multimodal_meta_alt(spark, sf):
    return fmm.decode_metadata(_C(spark, sf), decoder=ALT_CFG.multimodal_decoder)


def _q_multimodal_frames(spark, sf):
    return fmm.frame_sample(_C(spark, sf))


def _q_fact_tool_events(spark, sf):
    return star.normalize_star(_T(spark, sf))


def _q_tool_sequences(spark, sf):
    return star.tool_sequences(_T(spark, sf))


def _q_derived_events(spark, sf):
    return star.derived_events(_T(spark, sf))


def _q_tool_event_details(spark, sf):
    return star.tool_event_details(_T(spark, sf))


def _q_successful_tool_calls(spark, sf):
    return star.successful_tool_calls(_T(spark, sf))


def _q_exchanges(spark, sf):
    return exchange.exchanges(_T(spark, sf))


def _q_conv_participants(spark, sf):
    return dims.conv_participants(_T(spark, sf))


def _q_state_conv_tools(spark, sf):
    return state.state_conv_tools(_T(spark, sf))


def _q_state_intervals(spark, sf):
    return state.state_intervals(_T(spark, sf))


_CLOSED_AS_OF = "2024-01-08 00:00:00"


def _q_closed_sessions(spark, sf):
    """As-of session export (S4 bounded-range gate): only sessions the
    watermark at _CLOSED_AS_OF has finalized. Routed through the
    islands form because filtering native session_window output on
    session_end hits an unsound Catalyst pushdown (sessionize
    docstring)."""
    return sessions.closed_sessions(_T(spark, sf), CFG, _CLOSED_AS_OF)


def _q_turn_pairs_streamed(spark, sf):
    """The REAL streaming stack behind the exact value oracle: drains
    the stateful matcher (applyInPandasWithState + EventTimeTimeout)
    over time-sliced files of this same input; oracle = the batch
    matcher's SQL. See streaming/parity.py for the zero-flake
    construction (huge delay + sentinel watermark close)."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_pairs(spark, sf, CFG)


def _q_turn_pairs_disorder_streamed(spark, sf):
    """Adversarial out-of-order ingestion behind the hard gate
    (VERDICT r04 "Next round" #5): the watermark-ordered matcher
    (streaming/cep.py::replay_stream — rows buffer per conversation
    and replay in turn_idx order as the watermark passes them) drained
    over the REVERSED file-delivery copy of the sliced input
    (parity.disorder_dir) at one file per trigger — every micro-batch
    delivers events earlier than everything already buffered, so
    replies arrive before their user turns and correctness rests
    entirely on watermark semantics. Oracle: unchanged — the batch
    matcher's SQL; the result must be delivery-order invariant."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_turn_pairs(
        spark,
        sf,
        CFG,
        src_dir=parity.disorder_dir(spark, sf, "reverse"),
        max_files_per_trigger=1,
        ooo=True,
    )


def _q_snapshot_streamed(spark, sf):
    """Update-mode snapshot stream drained through the exactly-once
    epoch sink and folded back; oracle = the batch compactor's SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_snapshot(spark, sf)


def _q_snapshot_ttl_streamed(spark, sf):
    """The KEY-RETIRING snapshot stream (applyInPandasWithState +
    EventTimeTimeout tombstones — state bounded by keys active within
    the TTL window, closing the reference's unbounded-seen-map
    anti-pattern, orderbooks.go:26-33) drained and folded; oracle = the
    batch compaction restricted to keys active within the 48h window
    (ms-exact boundary, streaming/parity.SNAPSHOT_TTL_S)."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_snapshot_ttl(spark, sf)


def _q_sessions_streamed(spark, sf):
    """ST5 behind the exact value oracle: the REAL streaming
    session_window aggregation (watermark-finalized, append mode)
    drained over time-sliced files of this same input; oracle = the
    batch gaps-and-islands SQL. distinct_tools streams as
    size(collect_set) — exact, streaming-legal."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_sessions(spark, sf, CFG)


def _q_tool_rate_1m_streamed(spark, sf):
    """Watermarked tumbling rollup as a REAL streaming aggregation;
    oracle = the batch rate SQL (exact distinct conv counts via
    collect_set parity mode)."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_tool_rate(spark, sf)


def _q_tool_rate_5m_sliding_streamed(spark, sf):
    """Sliding-window rollup (overlapping windows) as a REAL watermarked
    streaming aggregation; oracle = the batch sliding SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_tool_rate_sliding(spark, sf)


def _q_latency_quantiles_streamed(spark, sf):
    """Latency quantiles from a streamed mergeable histogram (per-
    micro-batch partials through the epoch sink, merge = SUM, exact
    rank interpolation on the merged histogram); oracle = the batch
    latency_quantiles SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_latency_quantiles(spark, sf, CFG)


def _q_tool_transitions_streamed(spark, sf):
    """CEP adjacency detection as a stream: per-conv last-tool state
    emits bigrams across micro-batch boundaries; SUM-merged partials;
    oracle = the batch tool_transitions SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_tool_transitions(spark, sf)


def _q_dedup_exact_streamed(spark, sf):
    """T1 as a REAL streaming stateful aggregation: per-fingerprint
    (min doc_id, count) state over the doc_id-sliced corpus stream,
    update-mode deltas through the exactly-once epoch sink, folded and
    joined back to per-doc rows; oracle = the batch exact-dedup SQL."""
    from stellar_etl_spark.streaming import parity

    return parity.streamed_dedup_exact(spark, sf)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER = evidence rotation policy (round 5). The driver's
    CORRECTNESS artifact gates the FIRST 50 entries per round, so the
    window seats, in priority order: (1) the 7 wave-5 queries that have
    never had a green driver row (r4's wait-list), (2) the two operators
    modified in round 4 whose green rows predate the modification
    (redact_pii purity fix, dedup_embedding 16-plane+cap form), and
    (3) oldest-latest-green-first re-validation seats — the entire
    streaming-parity family and the flagship batch operators, whose most
    recent green rows are r03's. The tail holds queries green in
    CORRECTNESS_r04.json (last round) plus the r1/r2/r4-green remainder.
    Every entry, windowed or not, is oracle-compared by
    tests/test_oracle_parity.py on each suite run; the seat/wait-list
    invariant is enforced by tools/gating_ledger.py (see README
    "evidence rotation", GATING.md)."""
    return {
        # (1) never driver-green: r4's wave-5 wait-list — seat first
        "chunk_documents": _q_chunk_documents,
        "ngram_lm_score": _q_ngram_lm_score,
        "priority_sample": _q_priority_sample,
        "quality_logreg": _q_quality_logreg,
        "blocklist_hits": _q_blocklist_hits,
        "curation_pipeline": _q_curation_pipeline,
        "ngram_lm_streamed": _q_ngram_lm_streamed,
        # (2) modified in r4, green rows predate the change — re-gate
        "redact_pii": _q_redact_pii,
        "dedup_embedding": _q_dedup_embedding,
        # (3) re-validation fill, oldest latest-green (r03) first:
        # streaming-parity family, then flagship batch operators
        "turn_pairs_streamed": _q_turn_pairs_streamed,
        "snapshot_streamed": _q_snapshot_streamed,
        "sessions_streamed": _q_sessions_streamed,
        "tool_rate_1m_streamed": _q_tool_rate_1m_streamed,
        "dedup_exact_streamed": _q_dedup_exact_streamed,
        "tool_rate_5m_sliding_streamed": _q_tool_rate_5m_sliding_streamed,
        "latency_quantiles_streamed": _q_latency_quantiles_streamed,
        "tool_transitions_streamed": _q_tool_transitions_streamed,
        "conv_turns_cms_streamed": _q_conv_turns_cms_streamed,
        "tool_conv_hll_streamed": _q_tool_conv_hll_streamed,
        "closed_sessions": _q_closed_sessions,
        "state_intervals": _q_state_intervals,
        "dup_clusters": _q_dup_clusters,
        "dedup_resolve": _q_dedup_resolve,
        "tool_conv_hll": _q_tool_conv_hll,
        "conv_turns_cms": _q_conv_turns_cms,
        "ann_topk_sq8": _q_ann_sq8,
        "sessions": _q_sessions,
        "exchanges": _q_exchanges,
        "tool_sequences": _q_tool_sequences,
        "tool_event_details": _q_tool_event_details,
        "successful_tool_calls": _q_successful_tool_calls,
        "conv_participants": _q_conv_participants,
        "state_conv_tools": _q_state_conv_tools,
        "turns_enriched": _q_turns_enriched,
        "turn_pairs": _q_turn_pairs,
        "tool_rate_1m": _q_tool_rate_1m,
        "role_rate_1m": _q_role_rate_1m,
        "tool_rate_5m_sliding": _q_tool_rate_5m_sliding,
        "compact_last_state": _q_compact_last_state,
        "asof_last_tool": _q_asof_last_tool,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_exact": _q_dedup_exact,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "initiating_user": _q_initiating_user,
        # (4) new or modified in round 5 — must gate this round:
        # fanout_streamed is NEW (single-checkpoint multi-table DAG),
        # turn_pairs_disorder_streamed is NEW (reversed-delivery drain
        # through the watermark-ordered matcher), ann_topk_ivf2 is NEW
        # (hierarchical N^1.25 assignment), dq_violations_streamed was
        # REWRITTEN (bounded group-stats state replacing the turn
        # ledger)
        "fanout_streamed": _q_fanout_streamed,
        "ann_topk_ivf2": _q_ann_ivf2,
        "ann_recall": _q_ann_recall,
        "turn_pairs_disorder_streamed": _q_turn_pairs_disorder_streamed,
        "dq_violations_streamed": _q_dq_violations_streamed,
        # ---- position 50 boundary. Below: r03-green flagship remainder,
        "dim_tools": _q_dim_tools,
        "explode_tokens": _q_explode_tokens,
        "top_convs": _q_top_convs,
        # then everything green in CORRECTNESS_r04.json (last round),
        # then the thrice-green r1/r2/r4 set. All re-verified by
        # tests/test_oracle_parity.py every suite run.
        "turn_range_from_times": _q_turn_range_from_times,
        "transform_stats": _q_transform_stats,
        "salted_tool_rate": _q_salted_tool_rate,
        "fact_tool_events": _q_fact_tool_events,
        "derived_events": _q_derived_events,
        "doc_stats": _q_doc_stats,
        "doc_lang_id": _q_doc_lang_id,
        "doc_fingerprint": _q_doc_fingerprint,
        "ann_topk_brute": _q_ann_brute,
        "ann_topk_ivf": _q_ann_ivf,
        "corpus_sample": _q_corpus_sample,
        "doc_top_terms": _q_doc_top_terms,
        "latency_quantiles": _q_latency_quantiles,
        "quality_funnel": _q_quality_funnel,
        "doc_repetition": _q_doc_repetition,
        "conv_retention": _q_conv_retention,
        "tool_transitions": _q_tool_transitions,
        "conv_documents": _q_conv_documents,
        "conv_doc_dedup": _q_conv_doc_dedup,
        "decontaminate": _q_decontaminate,
        "decontaminate_bloom": _q_decontaminate_bloom,
        "pack_sequences": _q_pack_sequences,
        "boilerplate_spans": _q_boilerplate_spans,
        "lang_centroids": _q_lang_centroids,
        "kmeans_assign": _q_kmeans_assign,
        "snapshot_ttl_streamed": _q_snapshot_ttl_streamed,
        "multimodal_meta_alt": _q_multimodal_meta_alt,
        "doc_containment": _q_doc_containment,
        "corpus_split": _q_corpus_split,
        "domain_mix_weights": _q_domain_mix_weights,
        "quality_funnel_streamed": _q_quality_funnel_streamed,
        "turn_tools_streamed": _q_turn_tools_streamed,
        "conv_retention_streamed": _q_conv_retention_streamed,
        "dup_spans": _q_dup_spans,
        "semdedup": _q_semdedup,
        "error_bursts": _q_error_bursts,
        "error_bursts_streamed": _q_error_bursts_streamed,
        "dedup_minhash_streamed": _q_dedup_minhash_streamed,
        "bm25_topk": _q_bm25_topk,
        "latency_outliers": _q_latency_outliers,
        "tool_lift": _q_tool_lift,
        "bm25_topk_streamed": _q_bm25_topk_streamed,
        "corpus_profile": _q_corpus_profile,
        "dq_violations": _q_dq_violations,
        "burst_concurrency": _q_burst_concurrency,
        "retrieve_rerank": _q_retrieve_rerank,
        "tool_pagerank": _q_tool_pagerank,
        "turn_replies_streamed": _q_turn_replies_streamed,
        "turn_replies_outer_streamed": _q_turn_replies_outer_streamed,
        "tool_rate_peak": _q_tool_rate_peak,
        "tool_rate_peak_streamed": _q_tool_rate_peak_streamed,
        "turn_dedup_streamed": _q_turn_dedup_streamed,
        "conv_funnel": _q_conv_funnel,
        "curriculum_buckets": _q_curriculum_buckets,
        "domain_topk_sample": _q_domain_topk_sample,
        "ann_topk_lsh": _q_ann_lsh,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_frames": _q_multimodal_frames,
    }


# --- oracles ---------------------------------------------------------------

_W = f"WITH {TRANSCRIPTS_CTE}"

_TURNS_ENRICHED_SQL = f"""{_W}
SELECT conv_id, turn_idx, role, text, tool, ts,
       CAST(SUBSTR(conv_id, 2) AS BIGINT) * 1048576 + turn_idx AS turn_id,
       CAST(LENGTH(text) AS INT) AS text_len,
       CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS INT) AS word_count,
       CAST(NULL AS VARCHAR) AS error
FROM transcripts
"""

_RANGE_SQL = f"""{_W}
SELECT COUNT(*) AS n_turns, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       COUNT(DISTINCT conv_id) AS n_convs
FROM transcripts
WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10'
"""

_STATS_SQL = f"""{_W}
SELECT COUNT(*) AS attempted, COUNT(*) AS successful, 0::BIGINT AS failed
FROM transcripts
"""

_SALTED_SQL = f"""{_W}
SELECT to_timestamp(floor(epoch(ts)/60)*60)::TIMESTAMP AS window_start,
       to_timestamp(floor(epoch(ts)/60)*60 + 60)::TIMESTAMP AS window_end,
       tool, COUNT(*) AS turns
FROM transcripts WHERE tool IS NOT NULL
GROUP BY 1,2,3
"""


def oracle_sql() -> dict[str, str]:
    return {
        "turns_enriched": _TURNS_ENRICHED_SQL,
        "sessions": _W + sessions.session_oracle_sql("INTERVAL 8 HOUR"),
        "closed_sessions": _W + sessions.session_oracle_sql("INTERVAL 8 HOUR")
        + f" HAVING MAX(ts) + INTERVAL 8 HOUR <= TIMESTAMP '{_CLOSED_AS_OF}'",
        "tool_rate_1m": _W + rollups.rate_oracle_sql("tool", 1, "WHERE tool IS NOT NULL"),
        "role_rate_1m": _W + rollups.rate_oracle_sql("role", 1),
        "tool_rate_5m_sliding": _W
        + rollups.sliding_oracle_sql("tool", 5, 1, "WHERE tool IS NOT NULL"),
        "turn_pairs": _W + pairs.PAIRS_ORACLE_SQL,
        "compact_last_state": _W + state.COMPACT_ORACLE_SQL,
        "asof_last_tool": _W + state.ASOF_ORACLE_SQL,
        "initiating_user": _W + state.INITIATOR_ORACLE_SQL,
        "dim_tools": _W + dims.DIM_TOOLS_ORACLE_SQL,
        "explode_tokens": _W + dims.EXPLODE_ORACLE_SQL,
        "top_convs": _W + dims.TOP_CONVS_ORACLE_SQL,
        "turn_range_from_times": _RANGE_SQL,
        "transform_stats": _STATS_SQL,
        "salted_tool_rate": _SALTED_SQL,
        "fact_tool_events": _W + star.normalize_oracle_sql().replace("FROM transcripts", "FROM transcripts", 1),
        "tool_sequences": _W + star.TOOL_SEQUENCES_ORACLE_SQL,
        "derived_events": _W + star.DERIVED_EVENTS_ORACLE_SQL,
        "tool_event_details": _W + star.TOOL_EVENT_DETAILS_ORACLE_SQL,
        "successful_tool_calls": _W + star.SUCCESSFUL_TOOL_CALLS_ORACLE_SQL,
        "exchanges": _W + exchange.EXCHANGES_ORACLE_SQL,
        "conv_participants": _W + dims.CONV_PARTICIPANTS_ORACLE_SQL,
        "state_conv_tools": _W + state.STATE_CONV_TOOLS_ORACLE_SQL,
        "state_intervals": _W + state.STATE_INTERVALS_ORACLE_SQL,
        "turn_pairs_streamed": _W + pairs.PAIRS_ORACLE_SQL,
        # delivery-order invariance: same oracle as the ordered drain
        "turn_pairs_disorder_streamed": _W + pairs.PAIRS_ORACLE_SQL,
        "snapshot_streamed": _W + state.COMPACT_ORACLE_SQL,
        "snapshot_ttl_streamed": _W + state.COMPACT_ORACLE_SQL
        + _snapshot_ttl_having(),
        "sessions_streamed": _W + sessions.session_oracle_sql("INTERVAL 8 HOUR"),
        "tool_rate_1m_streamed": _W
        + rollups.rate_oracle_sql("tool", 1, "WHERE tool IS NOT NULL"),
        "tool_rate_5m_sliding_streamed": _W
        + rollups.sliding_oracle_sql("tool", 5, 1, "WHERE tool IS NOT NULL"),
        # training-data pipeline oracles
        "doc_stats": ftext.doc_stats_oracle(fcorpus.CORPUS_CTE),
        "doc_lang_id": ftext.lang_id_oracle(fcorpus.CORPUS_CTE),
        "doc_fingerprint": ftext.fingerprint_oracle(fcorpus.CORPUS_CTE),
        "redact_pii": ftext.redact_pii_oracle(fcorpus.CORPUS_CTE),
        "tool_conv_hll": _W + fsketch.tool_conv_hll_oracle(),
        "conv_turns_cms": _W + fsketch.conv_turns_cms_oracle(),
        # streamed counters fold to the identical grid: same oracle
        "conv_turns_cms_streamed": _W + fsketch.conv_turns_cms_oracle(),
        "tool_conv_hll_streamed": _W + fsketch.tool_conv_hll_oracle(),
        "dedup_exact": fdedup.exact_dedup_oracle(fcorpus.CORPUS_CTE),
        "dedup_exact_streamed": fdedup.exact_dedup_oracle(fcorpus.CORPUS_CTE),
        "dedup_minhash_lsh": fdedup.minhash_lsh_oracle(fcorpus.CORPUS_CTE),
        # bounded-state streamed bucket fold == the batch pairs: same oracle
        "dedup_minhash_streamed": fdedup.minhash_lsh_oracle(fcorpus.CORPUS_CTE),
        "bm25_topk": _bm25_oracle(),
        # the incremental index fold scores to the same values: same oracle
        "bm25_topk_streamed": _bm25_oracle(),
        "latency_outliers": _W + pairs.latency_outliers_oracle_sql(),
        "tool_lift": _W + journeys.TOOL_LIFT_ORACLE_SQL,
        "corpus_profile": _corpus_profile_oracle(),
        "dq_violations": _W + dq.DQ_ORACLE_SQL,
        "dq_violations_streamed": _W + dq.DQ_ORACLE_SQL,
        # one per-tool report gating all three fan-out tables at once
        "fanout_streamed": _W + _parity_fanout_sql(),
        "burst_concurrency": _W + intervals.BURST_CONCURRENCY_ORACLE_SQL,
        "retrieve_rerank": _retrieve_rerank_oracle(),
        "tool_pagerank": _W + journeys.tool_pagerank_oracle_sql(),
        "conv_funnel": _W + journeys.FUNNEL_ORACLE_SQL,
        "curriculum_buckets": fcur.curriculum_buckets_oracle(fcorpus.CORPUS_CTE),
        "domain_topk_sample": fcur.domain_topk_sample_oracle(fcorpus.CORPUS_CTE),
        "turn_replies_streamed": _W + _replies_oracle(),
        "turn_replies_outer_streamed": _W + _replies_outer_oracle(),
        "tool_rate_peak": _W + rollups.PEAK_ORACLE_SQL,
        "tool_rate_peak_streamed": _W + rollups.PEAK_ORACLE_SQL,
        "turn_dedup_streamed": _W
        + " SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts",
        "dedup_simhash": fdedup.simhash_oracle(fcorpus.CORPUS_CTE),
        "dedup_ngram_jaccard": fdedup.ngram_jaccard_oracle(fcorpus.CORPUS_CTE),
        "dedup_embedding": fdedup.embedding_dup_oracle(),
        "doc_containment": fdedup.doc_containment_oracle(fcorpus.CORPUS_CTE),
        "dup_spans": fspans.dup_spans_oracle(fcorpus.CORPUS_CTE),
        "semdedup": _semdedup_oracle(),
        "corpus_split": fcur.corpus_split_oracle(fcorpus.CORPUS_CTE),
        "domain_mix_weights": fcur.domain_mix_weights_oracle(fcorpus.CORPUS_CTE),
        # streamed seen-map folds to the same canonical map: same oracle
        "quality_funnel_streamed": fcur.quality_funnel_oracle(fcorpus.CORPUS_CTE),
        # streamed (conv, day) seen-set folds to the same pair set: same oracle
        "conv_retention_streamed": _W + journeys.RETENTION_ORACLE_SQL,
        "turn_tools_streamed": _W + _parity_turn_tools_sql(),
        "dup_clusters": fdedup.dup_clusters_oracle(fcorpus.CORPUS_CTE),
        "dedup_resolve": fdedup.dedup_resolve_oracle(fcorpus.CORPUS_CTE),
        "ann_topk_brute": fsim.ann_bruteforce_oracle(fcorpus.EMB_CTE),
        "ann_topk_sq8": fsim.ann_sq8_oracle(fcorpus.EMB_CTE),
        "ann_topk_lsh": fsim.ann_lsh_oracle(fcorpus.EMB_CTE),
        "ann_topk_ivf": fsim.ann_ivf_oracle(fcorpus.EMB_CTE),
        "ann_topk_ivf2": fsim.ann_ivf2_oracle(fcorpus.EMB_CTE),
        "ann_recall": fsim.ann_recall_oracle(fcorpus.EMB_CTE),
        "corpus_sample": fcur.stratified_sample_oracle(fcorpus.CORPUS_CTE),
        "doc_top_terms": fcur.doc_top_terms_oracle(fcorpus.CORPUS_CTE),
        "latency_quantiles": _W + pairs.latency_quantiles_oracle_sql(),
        # histogram sketch is lossless for rank quantiles: same oracle
        "latency_quantiles_streamed": _W + pairs.latency_quantiles_oracle_sql(),
        "quality_funnel": fcur.quality_funnel_oracle(fcorpus.CORPUS_CTE),
        "doc_repetition": fcur.doc_repetition_oracle(fcorpus.CORPUS_CTE),
        "conv_retention": _W + journeys.RETENTION_ORACLE_SQL,
        "tool_transitions": _W + journeys.TRANSITIONS_ORACLE_SQL,
        "error_bursts": _W + journeys.ERROR_BURSTS_ORACLE_SQL,
        # the streamed CEP run fold finalizes to the same bursts: same oracle
        "error_bursts_streamed": _W + journeys.ERROR_BURSTS_ORACLE_SQL,
        # cross-batch bigram reconstruction folds to the batch counts
        "tool_transitions_streamed": _W + journeys.TRANSITIONS_ORACLE_SQL,
        "conv_documents": _W + journeys.CONV_DOCUMENTS_ORACLE_SQL,
        "conv_doc_dedup": _W + journeys.conv_doc_dedup_oracle_sql(),
        "decontaminate": ftp.decontaminate_oracle(fcorpus.CORPUS_CTE),
        # bloom prefilter is output-invariant: same oracle as decontaminate
        "decontaminate_bloom": ftp.decontaminate_oracle(fcorpus.CORPUS_CTE),
        "pack_sequences": ftp.pack_sequences_oracle(fcorpus.CORPUS_CTE),
        "boilerplate_spans": ftp.boilerplate_spans_oracle(fcorpus.CORPUS_CTE),
        "lang_centroids": ftp.lang_centroids_oracle(fcorpus.EMB_CTE),
        "kmeans_assign": ftp.kmeans_assign_oracle(fcorpus.EMB_CTE),
        "multimodal_meta": fmm.decode_metadata_oracle(fcorpus.CORPUS_CTE),
        "multimodal_meta_alt": fmm.alt_decode_oracle(fcorpus.CORPUS_CTE),
        "multimodal_frames": fmm.frame_sample_oracle(fcorpus.CORPUS_CTE),
        "chunk_documents": fscore.chunk_documents_oracle(fcorpus.CORPUS_CTE),
        "ngram_lm_score": fscore.ngram_lm_score_oracle(fcorpus.CORPUS_CTE),
        "priority_sample": fscore.priority_sample_oracle(fcorpus.CORPUS_CTE),
        "quality_logreg": fscore.quality_logreg_oracle(fcorpus.CORPUS_CTE),
        "blocklist_hits": fscore.blocklist_hits_oracle(fcorpus.CORPUS_CTE),
        "curation_pipeline": fscore.curation_pipeline_oracle(fcorpus.CORPUS_CTE),
        # partial counts SUM-merge to the batch totals: same oracle
        "ngram_lm_streamed": fscore.ngram_lm_score_oracle(fcorpus.CORPUS_CTE),
    }


def _snapshot_ttl_having() -> str:
    from stellar_etl_spark.streaming.parity import snapshot_ttl_oracle_having

    return snapshot_ttl_oracle_having()


def _parity_turn_tools_sql() -> str:
    from stellar_etl_spark.streaming.parity import TURN_TOOLS_ORACLE_SQL

    return TURN_TOOLS_ORACLE_SQL


def _parity_fanout_sql() -> str:
    from stellar_etl_spark.streaming.parity import FANOUT_ORACLE_SQL

    return FANOUT_ORACLE_SQL
