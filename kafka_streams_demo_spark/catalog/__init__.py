"""Query catalog — the driver-facing inventory of implemented operators.

Each entry pairs an engine-API (or DataFrame) implementation with an ANSI
SQL oracle DuckDB runs on the same parquet. Design rules for exact
hash-parity between Spark and DuckDB:

- integer/string output columns wherever possible
- money/double aggregates as integer cents: per-row
  ``CAST(ROUND(col*100, 0) AS BIGINT)`` then SUM — identical IEEE per-row
  ops in both engines, then exact integer arithmetic (order-independent,
  unlike summing doubles)
- timestamps surfaced as ``unix_micros`` BIGINT (session tz is UTC)
- every computed column aliased identically on both sides

Scale notes are inline per query: what shuffles, what broadcasts, what
pushes down.
"""

# Single-module catalog.py was split by family in round 10 (VERDICT r9
# task 7). The driver contract is unchanged: `import catalog` still
# exposes queries()/oracle_sql()/summary()/QUERIES/ORACLES/ORACLE_CASTS/
# DRIVER_PRIORITY, and entry registration order (= queries() order beyond
# the curated DRIVER_PRIORITY head) is preserved by the import sequence
# below, which mirrors the original file's section order.

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_demo_spark.catalog._core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _events_stream,
    cents,
    register,
)

# family modules register their entries on import — ORIGINAL section order
from kafka_streams_demo_spark.catalog import parity  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import analytics  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import llm  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import temporal  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import tpch_extra  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import assembly  # noqa: E402, F401
from kafka_streams_demo_spark.catalog import pq_tier  # noqa: E402, F401

# re-export the flagship entry referenced directly by the test tier
from kafka_streams_demo_spark.catalog.parity import (  # noqa: E402, F401
    stream_table_join_segment,
)

# ---------------------------------------------------------------------------
# Oracle output-type coercion.
#
# DuckDB promotes SUM over integer inputs to HUGEINT (int128) and returns
# BIGINT from row_number()/count-derived window ranks, while the Spark side
# of the same query yields int64 / int32. Values are numerically identical
# (the cents-integer design keeps every sum well inside int64), but a
# type-aware comparator hashes them differently — CORRECTNESS_r02 showed 10
# rows_match+schema_match+hash_FAIL rows, every one a SUM(BIGINT) oracle.
# tools/check_oracle_types.py audits every query for this; the table below
# pins each flagged output column to the exact Spark-side type, applied as
# a `SELECT * REPLACE (CAST(...))` wrapper in oracle_sql().
# ---------------------------------------------------------------------------

ORACLE_CASTS: dict[str, dict[str, str]] = {
    "cms_sketch_users": {"cnt": "BIGINT"},
    "cms_merge_incremental": {"cnt": "BIGINT"},
    "unpivot_charge_components": {"amount_c": "BIGINT"},
    "aggregate_sum_cents": {"value": "BIGINT"},
    "json_extract_sum": {"value": "BIGINT"},
    "stream_table_join_segment": {"value": "BIGINT"},
    "top_k_spenders": {"total_c": "BIGINT"},
    "tumbling_window_sum_cents": {"value": "BIGINT"},
    "hopping_window_sum_cents": {"value": "BIGINT"},
    "session_window_sum_cents": {"value": "BIGINT"},
    "ktable_reduce_sum": {"value": "BIGINT"},
    "q1_pricing_summary": {
        "sum_qty_c": "BIGINT", "sum_base_c": "BIGINT",
        "sum_disc_c": "BIGINT", "sum_charge_c": "BIGINT",
    },
    "q3_shipping_priority": {"revenue_c": "BIGINT"},
    "q5_regional_revenue": {"revenue_c": "BIGINT"},
    "q6_forecast_revenue": {"revenue_c": "BIGINT"},
    "q7_nation_volume": {"revenue_c": "BIGINT"},
    "q8_market_share": {"nation_c": "BIGINT", "total_c": "BIGINT"},
    "q9_product_profit": {"profit_c": "BIGINT"},
    "q10_returned_items": {"revenue_c": "BIGINT"},
    "q11_important_parts": {"val_c": "BIGINT"},
    "q12_priority_by_class": {
        "high_line_count": "BIGINT", "low_line_count": "BIGINT",
    },
    "q14_promo_revenue": {"promo_c": "BIGINT", "total_c": "BIGINT"},
    "q15_top_supplier": {"total_c": "BIGINT"},
    "q17_small_quantity_revenue": {"revenue_c": "BIGINT"},
    "q19_disjunctive_revenue": {"revenue_c": "BIGINT"},
    "q22_idle_balances": {"totacctbal_c": "BIGINT"},
    "orders_per_nation": {"total_c": "BIGINT"},
    "running_sum_per_user": {"running_c": "BIGINT"},
    "running_sum_per_user_bucketed": {"running_c": "BIGINT"},
    "rollup_revenue": {"total_c": "BIGINT"},
    "cube_status_priority": {"total_c": "BIGINT"},
    "sessionize_gap": {"session_id": "BIGINT"},
    "sessionize_gap_bucketed": {"session_id": "BIGINT"},
    "daily_rollup_gapfill": {"filled_c": "BIGINT"},
    "repetition_ratio": {"n_bg": "BIGINT"},
    "corpus_profile": {
        "chars_total": "BIGINT", "tokens_total": "BIGINT", "n_short": "BIGINT",
    },
    "top3_orders_per_cust": {"rn": "INTEGER"},
    "top3_orders_per_cust_salted": {"rn": "INTEGER"},
    "sample_per_source": {"rn": "INTEGER"},
    "vocab_token_freq": {"rnk": "INTEGER"},
    "user_journey_paths": {"n_steps": "INTEGER"},
}


# The driver's correctness gate samples the first 50 entries of queries().
# Curate that window so every operator family gets at least one driver-
# verified representative, and ROTATE it each round so still-unverified
# families earn a driver-side CORRECTNESS row (VERDICT r3 task #2). The
# full catalog stays registered and is locally oracle-checked every round
# (tools/check_oracle.py → the committed LOCAL_CORRECTNESS artifact), so
# demoted entries remain externally auditable.
# The window is built by tools/window_staleness.py.
DRIVER_PRIORITY: list[str] = [
    # stale: externally green r4-r6, lines touched since
    "ngram_jaccard_pairs", "token_counts",
    "q6_forecast_revenue", "q17_small_quantity_revenue",
    "contamination_check_bloom", "doc_chunk_overlap",
    "dedup_exact_incremental", "lang_id",
    "gif_decode_meta", "jpeg_decode_meta",
    "q4_late_ship_priority", "q14_promo_revenue",
    "q19_disjunctive_revenue", "bm25_search",
    "bm25_search_postings", "hybrid_rrf_fusion_multi",
    # stale: externally green r7
    "triangle_counts_incremental", "event_time_extract",
    "ann_ivf_index_topk", "ann_ivf_assign_incremental",
    "dedup_embedding_cosine_incremental", "salted_count_skew",
    "jpeg_decode_restart", "funnel_conversion",
    "retention_cohorts", "pipeline_training_data",
    "tfidf_top_terms", "dedup_clusters_incremental",
    # stale: externally green r8-r9
    "clustering_coefficient", "curriculum_phases",
    "jpeg_decode_subsampled", "moving_avg_per_user",
    "robust_zscore_outliers", "event_paths_topk",
    "unpivot_charge_components", "triangle_counts_coorder",
    "semdedup_cells_incremental", "embedding_knn_blocked",
    "customers_without_orders_anti", "cube_status_priority",
    "vocab_token_freq", "user_journey_paths",
    "daily_rollup_gapfill",
    # r13 changed-oracle / changed-path entries (MUST re-verify)
    "ivf_train_kmeans",          # also stale (r13 docstring touch)
    "bpe_train_merges", "bpe_token_counts",  # oracle SQL changed (guard)
    "wallclock_punctuated_drive",  # settle loop rewritten (recentProgress)
    # standing anchors
    "word_count", "q1_pricing_summary", "stream_table_join_segment",
]


def _priority_order(names) -> list[str]:
    head = [n for n in DRIVER_PRIORITY if n in names]
    return head + [n for n in names if n not in DRIVER_PRIORITY]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _priority_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name in _priority_order(ORACLES):
        sql = ORACLES[name]
        casts = ORACLE_CASTS.get(name)
        if casts:
            repl = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in casts.items())
            sql = f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) AS _typed"
        out[name] = sql
    return out


def summary() -> dict:
    """Coverage introspection for auditors: registered query count, oracle
    coverage, the documented rows-only set, and the curated gate window."""
    return {
        "queries": len(QUERIES),
        "with_oracle": len(ORACLES),
        "rows_only": sorted(set(QUERIES) - set(ORACLES)),
        "driver_window": list(DRIVER_PRIORITY),
    }
