"""Declared-query registry.

Every operator the engine claims (SURVEY.md §2) registers here as a named
query: a callable ``(spark, sf_dir) -> DataFrame`` plus, when expressible,
the equivalent ANSI SQL for the DuckDB oracle. ``__spark_entry__.py``
re-exports this registry to the driver.

Determinism rules for oracle-checked queries (the driver hashes values
order-insensitively but exactly):
- monetary/double aggregates are computed in exact DECIMAL arithmetic, then
  rounded and cast to double on BOTH sides — bit-identical results;
- no wall-clock, no uuid, no floating aggregation order dependence;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle=None`` → rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Export order for queries(): the driver iterates the dict in order and has
# historically stopped after ~50 entries (time/size budget), leaving the tail
# without a correctness verdict. Order therefore encodes VERIFICATION
# PRIORITY, not module layout. Rotation policy (since round 5): order by
# staleness of each query's most-recent driver-green verdict (oldest
# first), with any query whose PLAN changed this round re-queued into the
# sampled window regardless of freshness — the goal is that no query's
# latest green verdict is ever more than ~2 rounds old, and every plan
# change gets an external verdict the round it ships. The policy is
# machine-enforced since round 7 (tests/test_rotation_policy.py): when
# rebuilding this list, ALSO update rpa_etl_spark/rotation_base.txt to the
# commit the rebuild lands in — the test diffs plan/kernel files against
# that base and fails if a changed query sits outside the sampled window.
PRIORITY_ORDER = [
    # ================= ROUND-15 WINDOW (50) =============================
    # == tier A (27): every query whose most-recent driver verdict is
    #    round 10 (computed from CORRECTNESS_r*.json — the oldest cohort;
    #    the r13 verdict ordered these cleared and the r14 re-rotation
    #    demoted them again). Oldest-first is the stated policy.
    #    q_tpch_q21_shape leads: it is ALSO this round's single-scan
    #    rewrite, so it needs a fresh verdict on two counts.
    "q_tpch_q21_shape",
    "q_tpch_q10_shape",
    "q_tpch_q14_shape",
    "q_tpch_q5_shape",
    "q_tpch_q3_shape",
    "q_fuzzy_match",
    "q_window_rank",
    "q_window_running_sum",
    "q_window_ntile",
    "q_window_range_frame",
    "q_window_value_funcs",
    "q_payload_erp",
    "q_payload_analytics",
    "q_merge_upsert",
    "q_scd2_history",
    "q_sample_hash",
    "q_sample_reservoir",
    "q_join_anti",
    "q_linear_regression",
    "q_cusum_changepoint",
    "q_stream_outer_join",
    "q_warc_extract_zst",
    "q_tar_extract_zst",
    "q_avro_extract",
    "q_zip_extract",
    "q_user_totals_state",
    "q_stream_session_ttl",
    # == tier B (5): queries whose KERNELS this optimization round
    #    changed (sources/jpeg.py + sources/mpeg1.py: vectorized
    #    quantize/IDCT, single symbol pass, direct closed-loop recon) —
    #    machine-enforced by tests/test_rotation_policy.py.
    "q_multimodal_mjpeg",
    "q_multimodal_mpeg_iframes",
    "q_multimodal_mpeg_pframes",
    "q_multimodal_mpeg_bframes",
    "q_multimodal_decode",
    # == tier B' (5): consumers of the gateway-scoped col_memo rework
    #    (functions/exprs.py + pipeline.py — ADVICE items) and of the
    #    salted_join hot-side broadcast hint (operators/skew.py — r14
    #    verdict #6); kernel-consumer rule pulls them in.
    "q_parse_invoice",
    "q_flagship",
    "q_join_skew_salted",
    "q_agg_skew_salted",
    "q_scan_project",
    # == tier D (4): consumers of sources/pdf.py (read_pdf_files docstring
    #    corrected) — kernel-consumer rule pulls them in. Their Python
    #    workers also load the new zipimport guard (_worker.py).
    "q_pdf_extract",
    "q_pdf_extract_hard",
    "q_pdf_extract_passworded",
    "q_pdf_extract_encrypted",
    # == tier E (1): the one declared consumer of pipeline.py, whose
    #    VALIDATE/SCORE/ROUTE moved into the Arrow parse batch —
    #    kernel-consumer rule pulls it in.
    "q_pipeline_e2e",
    # == tier C (8): r11-stale fill, in their prior relative order —
    #    8 of the 36 r11-verdict queries fit after tiers A, B, B', D and E;
    #    the rest sit directly below the window, oldest-first, so any
    #    future rotation picks them up next.
    "q_having_large_orders",
    "q_lateral_topk",
    "q_quantiles",
    "q_pii_redact",
    "q_hll_sketch_merge",
    "q_tfidf_terms",
    "q_histogram",
    "q_sample_stratified",
    # ---------------- below the sampled window ----------------
    # == r11-stale remainder (28 of 36; kernels/plans unchanged since
    #    their green verdict, covered by the local 180/180 oracle sweep):
    "q_funnel",
    "q_retention_cohort",
    "q_outlier_zscore",
    "q_unpivot",
    "q_embedding_centroid",
    "q_repetition_stats",
    "q_join_asof",
    "q_heavy_hitters_cms",
    "q_join_bucketed",
    "q_sink_roundtrip",
    "q_sink_orc_roundtrip",
    "q_ingest_malformed",
    "q_agg_group",
    "q_array_funcs",
    "q_chunk_documents",
    "q_corr_stats",
    "q_daily_kpis",
    "q_date_funcs",
    "q_dedup_incremental",
    "q_dedup_lines",
    "q_domain_mix",
    "q_embedding_quantize",
    "q_entropy",
    "q_event_sequence",
    "q_explode_outer",
    "q_mode",
    "q_normalize_docs",
    "q_not_in_null_semantics",
    "q_pack_sequences",
    "q_percentile_disc",
    "q_quality_cascade",
    "q_set_ops_all",
    "q_text_stats",
    "q_time_weighted_avg",
    "q_trust_score",
    "q_try_arith",
    "q_url_parse",
    "q_window_lead_lag",
    "q_window_rank_ties",
    "q_wordcount",
    "q_corpus_drift",
    "q_count_distinct",
    "q_cube",
    "q_curation_verdict",
    "q_distinct",
    "q_filter_predicates",
    "q_gap_fill",
    "q_grouping_sets",
    "q_hash",
    "q_join_full",
    "q_join_inner_broadcast",
    "q_join_left",
    "q_join_null_safe",
    "q_join_range",
    "q_join_semi",
    "q_topk",
    "q_rollup",
    "q_set_ops",
    "q_pivot",
    "q_string_funcs",
    "q_map_funcs",
    "q_json_funcs",
    "q_lang_quality",
    "q_session_window",
    "q_stream_tumbling",
    "q_stream_sliding",
    "q_stream_dedup",
    "q_stream_interval_join",
    "q_scalar_subquery",
    "q_unigram_logprob",
    "q_url_dedup",
    "q_warc_extract",
    "q_tar_extract",
    "q_multimodal_meta",
    "q_multimodal_frames",
    "q_multimodal_audio",
    "q_multimodal_png",
    "q_multimodal_resize",
    "q_multimodal_g711",
    "q_multimodal_gif",
    "q_approx_count_distinct",
    "q_argmax",
    "q_array_agg",
    "q_audit_events",
    "q_case_routing",
    "q_decimal_math",
    # == freshest verdicts last: the entire round-14 window (all 50 green
    #    in CORRECTNESS_r14.json) plus the three dedup singles (r12+);
    #    their kernels are unchanged this round.
    "q_dedup_exact",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_table_native_write",
    "q_table_partitioned_scan",
    "q_table_sql",
    "q_table_update",
    "q_table_pruned_scan",
    "q_table_time_pruned_scan",
    "q_table_changes",
    "q_table_delete_dv",
    "q_table_zorder_scan",
    "q_table_time_travel",
    "q_table_schema_evolution",
    "q_ann_ivf_trained",
    "q_ann_ivf_pq",
    "q_ann_ivf",
    "q_ann_lsh",
    "q_sim_topk",
    "q_dedup_embedding",
    "q_dedup_embedding_lsh",
    "q_bpe_train_distributed",
    "q_bpe_train",
    "q_bpe_train_bytes",
    "q_bpe_tokenize",
    "q_bpe_tokenize_bytes",
    "q_pack_sequences_bpe",
    "q_domain_mix_bpe",
    "q_pagerank",
    "q_pagerank_dangling",
    "q_recursive_cte",
    "q_dedup_bloom",
    "q_profile_stats",
    "q_bm25",
    "q_dedup_containment",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_contamination",
    "q_ngram_novelty",
    "q_embedding_project",
    "q_cnpj_valid",
    "q_nfe_key_valid",
    "q_monetary_br",
    "q_zorder_code",
]


def _reorder() -> None:
    """Rebuild QUERIES/ORACLES in PRIORITY_ORDER (unlisted names keep their
    registration order after the prioritized block). Both dicts get the
    same order so the driver sees the priority regardless of which export
    it iterates."""
    ordered = [n for n in PRIORITY_ORDER if n in QUERIES]
    ordered += [n for n in QUERIES if n not in set(ordered)]
    reordered_q = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered_q)
    reordered_o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(reordered_o)


def load_all_plans() -> None:
    """Import every module that registers queries (idempotent)."""
    from rpa_etl_spark.plans import flagship  # noqa: F401

    for mod in (
        "rpa_etl_spark.plans.relational",
        "rpa_etl_spark.plans.functions_queries",
        "rpa_etl_spark.plans.validator_queries",
        "rpa_etl_spark.plans.document_queries",
        "rpa_etl_spark.plans.streaming_queries",
        "rpa_etl_spark.plans.llmdata_queries",
        "rpa_etl_spark.plans.curation_queries",
        "rpa_etl_spark.plans.analytics_queries",
        "rpa_etl_spark.plans.payload_queries",
        "rpa_etl_spark.plans.tpch_shapes",
        "rpa_etl_spark.plans.mlstats_queries",
    ):
        try:
            __import__(mod)
        except ModuleNotFoundError as e:
            # tolerate only "this plan module doesn't exist yet" — an
            # ImportError from INSIDE an existing module (typo'd symbol,
            # missing dependency) must fail loudly, not silently shrink
            # the declared-query surface
            if e.name != mod:
                raise
    _reorder()
