"""Oracle-checked query library (the driver contract, SURVEY.md §2).

Each :class:`QuerySpec` pairs a Spark implementation (DataFrame-native or
engine SQL) with the equivalent ANSI SQL that DuckDB runs on the same
parquet tables.  Column names/aliases are identical on both sides — the
driver's compare sorts columns by name before value-hashing.

``REGISTRY`` is the single source of truth consumed by ``__spark_entry__``
(driver), ``bench.py`` (headline set), and ``tests/test_oracle.py`` (local
sf0.001 replica of the driver's sf0.01 gate).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    #: DuckDB-runnable ANSI SQL over pre-registered views; None → the driver
    #: records a weaker rows-only check (non-SQL-expressible ops).
    oracle: str | None
    #: included in bench.py's headline timing set
    headline: bool = False
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, headline: bool = False, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn):
        register(QuerySpec(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc or fn.__doc__ or ""))
        return fn

    return deco


#: DuckDB predicate for a well-formed embedding row (NULL vector OK,
#: any NULL/NaN/±inf ELEMENT is malformed) — the oracle twin of
#: functions.scalar.finite_embedding; bool_and over an empty list is
#: NULL, coalesced TRUE to match Spark's forall-over-empty
FINITE_EMBEDDING_SQL = (
    "(embedding IS NULL OR coalesce(list_aggregate(list_transform("
    "embedding, x -> x IS NOT NULL AND isfinite(x)), 'bool_and'), TRUE))"
)


#: Java's regex \s spelled as an explicit RE2 class (r14 unicode audit
#: wave 4): RE2's \s is [ \t\n\f\r] while Java's adds VERTICAL TAB
#: (U+000B), so an oracle that mirrors a Spark-side \s with a DuckDB \s
#: silently diverges token boundaries on any corpus containing VT.
DUCK_WS = r"[ \t\n\x0b\f\r]"

#: canonical DuckDB twin of functions.text.tokens — ONE definition so the
#: two unicode hazards cannot re-enter per-module copies: (1) the \s
#: class above; (2) DuckDB's bare trim() strips UNICODE spaces (NBSP
#: U+00A0, ideographic U+3000) that Spark's trim (ASCII 0x20 only)
#: keeps, so it must be the explicit-charset form trim(x, ' ').
DUCK_TOKS = (
    f"list_filter(string_split_regex(trim(text, ' '), '{DUCK_WS}+'), t -> t <> '')"
)


def nse_oracle(sql: str) -> str:
    """Wrap an oracle so its ``embeddings`` references see only
    well-formed rows (r14 embeddings audit): prepends a CTE that SHADOWS
    the ``embeddings`` view with the :data:`FINITE_EMBEDDING_SQL` filter
    (body reads ``main.embeddings`` — DuckDB otherwise binds the CTE's
    own name as circular).  Mirrors the Spark side's
    ``finite_embedding`` filter at the load site, so both engines
    swallow the same malformed vectors.  Works on literal AND generated
    oracles without touching their internals; merges into an existing
    WITH."""
    cte = (
        "embeddings AS (SELECT * FROM main.embeddings WHERE "
        + FINITE_EMBEDDING_SQL
        + ")"
    )
    stripped = sql.lstrip()
    lead = sql[: len(sql) - len(stripped)]
    if stripped[:14].upper().startswith("WITH RECURSIVE"):
        return f"{lead}WITH RECURSIVE {cte},\n{stripped[14:].lstrip()}"
    if stripped[:4].upper() == "WITH":
        return f"{lead}WITH {cte},\n{stripped[4:].lstrip()}"
    return f"{lead}WITH {cte}\n{stripped}"


def load(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    """Read TESTDATA parquet tables and register them as temp views."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    out = []
    for t in tables:
        df = read_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out.append(df)
    return out



def scratch_dir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit.  Streaming
    queries dump replay fixtures (full-table JSON copies) into temp
    dirs; a bare mkdtemp leaks one such copy per query per gate run,
    accumulating across rounds until the host fills.  The files must
    outlive the query's own run (the stream reads them lazily), so
    cleanup is atexit, not eager."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# import side-effect: populate REGISTRY
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import (  # noqa: E402,F401
    advanced,
    arrays_windows,
    extras,
    llm,
    mining,
    pipeline_ops,
    reference,
    relational,
)

_ALL_MODULES = [reference, relational, llm, advanced, extras, arrays_windows, pipeline_ops, mining]

# --- explicit registry ordering -------------------------------------------
# The driver's correctness gate records the FIRST 50 registered queries per
# round (CORRECTNESS_r01.json attested exactly registry positions 1-50, so
# round 1's alphabetical import order left the flagship reference queries and
# the whole relational surface unattested).  Order is therefore part of the
# driver contract: highest-value and recently-changed queries first, the
# previously-attested tail last (rotated back into the window in later
# rounds).
_PRIORITY: list[str] = [
    # --- round 18 window (first 50 = the driver's correctness gate) --------
    # Standing OLDEST-FIRST ROTATION (policy set r9), composed per VERDICT
    # r17 "Next round" item 1:
    #   1-3   the three r17 changes that lacked driver attestation
    #         (ann_lsh_topk Arrow sketches; robust_mad_select median
    #         materialization + this round's broadcast-hint SMJ removal;
    #         currency_conversion's vectorized TimestampToString),
    #   4-6   the three NEVER-attested registry names (registered in the
    #         r16-interrupted tail, previously parked in the implicit
    #         "rest" after _PRIORITY — no CORRECTNESS_r*.json has ever
    #         recorded them; they are now explicit _PRIORITY members),
    #   7-10  the four r12-stale names capacity-deferred by the r17 window,
    #   11-25 every query whose execution path this round's optimization
    #         changes touched (clustering Arrow kernels: kmeans/PQ/RQ/IVFPQ
    #         family; the IVF centroid kernel: ann_ivf_topk, semantic_dedup,
    #         ann_recall_report; selection-operator materialize knob, since
    #         removed: grouped_median/percentiles, rfm_segmentation; pin()
    #         knob: pagerank_dup_graph, prefix_filter_setjoin),
    #   26-50 r13-stale fill, current relative order kept (25 of the 58
    #         r13-stale names; the remainder leads the r19+ rotation).
    "ann_lsh_topk",
    "robust_mad_select",
    "currency_conversion",
    "survivorship_golden_record",
    "unicode_nfc_normalize",
    "zipf_fit_report",
    "kinesis_reshard_roundtrip",
    "kinesis_merge_roundtrip",
    "kinesis_fake_sdk_roundtrip",
    "streaming_kinesis_roundtrip",
    "kmeans_lloyd_refine",
    "pq_encode_report",
    "pq_adc_topk",
    "ivfpq_topk",
    "rq_encode_report",
    "pq_recall_report",
    "ivfpq_recall_report",
    "ann_ivf_topk",
    "semantic_dedup",
    "ann_recall_report",
    "grouped_median_select",
    "grouped_percentiles_select",
    "rfm_segmentation",
    "pagerank_dup_graph",
    "prefix_filter_setjoin",
    "duplicate_span_detect_anchored",
    "duplicate_span_removal_anchored",
    "winnowing_fingerprint_stats",
    "heavy_hitters_countmin",
    "source_overlap_report",
    "trigram_backoff_surprisal",
    "encoding_artifact_signals",
    "boilerplate_chunk_removal",
    "zorder_layout",
    "tpch_q15_top_supplier",
    "topp_cumulative_share",
    "global_sort_index",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_promotion_suppliers",
    "pivot_status_by_priority",
    "set_ops",
    "join_semi",
    "join_anti",
    "string_functions",
    "math_functions",
    "stat_aggregates",
    "correlated_subquery",
    "pandas_grouped_zscore",
    "python_udtf_bigrams",
    "range_frame_window",
    # --- window boundary: positions 51+ — remaining names in
    # last-attested-ascending order (r13 remainder, then r14..r17),
    # ties keep prior relative order — the mechanical r19+ rotation ---
    "robust_stats_mad",
    "rank_family",
    "window_value_family",
    "table_profile",
    "integrity_audit",
    "merge_upsert_snapshot",
    "map_functions",
    "try_arithmetic",
    "tpch_q13_custdist",
    "tpch_q22_idle_customers",
    "tpch_q17_small_qty_revenue",
    "tpch_q2_min_cost_supplier",
    "tpch_q19_disjunctive_join",
    "embedding_neardup_wide",
    "duplicate_span_detect",
    "bm25_rank",
    "interval_join",
    "token_budget_waterfill",
    "quality_classifier_score",
    "streaming_quality_filter",
    "exact_median_select",
    "bpe_train_merges",
    "bpe_encode_token_counts",
    "token_budget_select",
    "sequence_packing",
    "embedding_neardup",
    "array_agg_sorted",
    "array_hof_pipeline",
    "asof_forward_join",
    "asof_join_latest_rate",
    "bpe_token_estimate",
    "cascaded_rollup",
    "contamination_ngram_overlap",
    "corpus_clean_pipeline",
    "dedup_simhash",
    "event_sequence_detect",
    "explode_token_frequencies",
    "funnel_steps",
    "interval_join_forward",
    "kmv_distinct_sketch",
    "lang_id",
    "media_frame_sample",
    "null_scalars",
    "projection_filter",
    "quality_score",
    "self_range_join",
    "set_intersect",
    "streaming_chained_windows",
    "streaming_sliding_window",
    "streaming_topk_complete",
    "timeseries_gap_fill",
    "timeseries_interpolate",
    "tpch_q10_returned_revenue",
    "tpch_q14_promo_share",
    "tpch_q4_priority_check",
    "tpch_q6_revenue_delta",
    "scd2_history_build",
    "media_phash_neardup",
    "drift_ks_by_source",
    "vocab_shift_drift",
    "ngram_novelty_score",
    "token_gini_concentration",
    "streaming_clean_pipeline",
    "agg_pricing_summary",
    "conditional_agg",
    "cube_status_priority",
    "dataset_split_assign",
    "date_functions",
    "deterministic_sample",
    "distinct_pairs",
    "doc_chunks",
    "domain_mixture_sample",
    "dsir_importance_select",
    "grouped_having",
    "grouping_sets_revenue",
    "interval_join_full",
    "join_revenue_by_nation",
    "large_order_customers",
    "nation_pair_revenue",
    "normalize_text",
    "regex_extract_tokens",
    "repetition_signals",
    "reservoir_per_group",
    "rollup_customer_geo",
    "salted_join_revenue",
    "shipping_priority",
    "stratified_sample",
    "streaming_asof_enrich",
    "streaming_dedup",
    "streaming_dedup_restamped",
    "streaming_interval_join",
    "streaming_late_data",
    "streaming_tumbling_window",
    "topk_orders",
    "tpch_q21_late_supplier",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tumbling_window_events",
    "unigram_surprisal_score",
    "unpivot_lineitem_metrics",
    "value_histogram",
    "window_rank",
    "asof_join_nearest",
    "minhash_band_sweep_report",
    "clean_retention_funnel",
    "script_mix_profile",
    "hybrid_search_rrf",
    "ann_int8_topk",
    "tvd_drift_by_source",
    "cluster_topic_terms",
    "dedup_cluster_purity_report",
    "doc_embedding_coverage_report",
    "embedding_centroid_drift",
    "embedding_prepared_finite",
    "schema_evolution_read",
    "approx_sketches",
    "approx_sketches_bounds",
    "binned_quantile_estimate",
    "bloom_contamination_screen",
    "cms_frequency_sketch",
    "cogroup_asof_pandas",
    "cusum_changepoint",
    "dedup_pipeline_report",
    "duplicate_span_removal",
    "embedding_gram_matrix",
    "event_transition_matrix",
    "incremental_agg_merge",
    "incremental_dedup",
    "json_extract_agg",
    "kmv_set_ops",
    "lag_lead_gaps",
    "media_decode_meta",
    "media_resize",
    "pandas_udaf_weighted_avg",
    "rolling_anomaly_flags",
    "rolling_fingerprint",
    "seasonal_residual_flags",
    "session_gaps_islands",
    "sliding_window_events",
    "snapshot_cdc_diff",
    "split_leakage_audit",
    "streaming_cms_sketch",
    "streaming_gram_matrix",
    "streaming_incremental_dedup",
    "streaming_running_aggregate",
    "streaming_sequence_detect",
    "streaming_session_window",
    "template_doc_detect",
    "theilsen_trend",
    "token_stats",
    "window_moving_avg",
    "window_running_distinct",
    "feature_hash_vector",
    "weighted_sample_topk",
    "streaming_static_enrich",
    "tpch_q5_local_supplier_volume",
    "char_entropy_score",
    "bpe_merge_step",
    "bigram_surprisal_score",
    "pmi_collocations",
    "pca_power_iteration",
    "pca_outlier_scores",
    "embedding_dim_variance",
    "triangle_count_graph",
    "link_prediction_common_neighbors",
    "attribution_last_touch",
    "cohort_retention",
    "recursive_ewma_rates",
    "winsorize_outliers",
    "chisq_priority_status",
    "join_key_skew_report",
    "variant_semistructured",
    "xml_roundtrip_extract",
    "tpch_q11_important_stock",
    "tpch_q18_large_volume_customer",
    "tpch_q12_late_priority",
    "temperature_mixture_sample",
    "neardup_jaccard",
    "dedup_clusters",
    "dedup_fingerprint",
    "containment_neardup",
    "dedup_minhash_lsh",
    "edit_distance_verify",
    "canonical_doc_select",
    "minhash_accuracy_report",
    "kinesis_throttled_roundtrip",
    "kinesis_translating_sdk_roundtrip",
    "kinesis_interval_join",
    "streaming_kinesis_tumbling",
    "kinesis_reshard_chain_roundtrip",
    "kinesis_merge_interval_join",
    "dedup_exact",
    "ann_cosine_topk",
    "tfidf_top_terms",
    "vocab_oov_rate",
    "embedding_quantize_int8",
    "embedding_label_centroids",
    "pii_redaction",
]
def _reorder_registry() -> None:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    dupes = [n for n in set(_PRIORITY) if _PRIORITY.count(n) > 1]
    if dupes:
        # duplicates would make raw list indices diverge from effective
        # registry positions — the window accounting (VERDICT/COVERAGE
        # cite "_PRIORITY position N") silently goes wrong
        raise ValueError(f"_PRIORITY names duplicated: {sorted(dupes)}")
    rest = [n for n in REGISTRY if n not in set(_PRIORITY)]
    ordered = {n: REGISTRY[n] for n in [*_PRIORITY, *rest]}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()


def all_specs() -> dict[str, QuerySpec]:
    return dict(REGISTRY)
