"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (revenue-by-country top-10, the
report_customer_invoices.sql analogue) at sf0.001. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 plus
the training-data-pipeline extensions; the driver hash-compares each against
DuckDB at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_4_online_retail_spark.plans import registry as _registry
from data_pipeline_4_online_retail_spark.plans.registry import REGISTRY  # noqa: E402

# Importing these modules populates the registry (each module
# self-registers); the star schema first, then the operator micro-queries
# and extensions.
import data_pipeline_4_online_retail_spark.plans.star  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.relational  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.dedup  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.similarity  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.text_analysis  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.events_windows  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.multimodal  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.scalar_functions  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.skew  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.curation  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.warehouse  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.tpch  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.semistructured  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.retail_analytics  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.graph  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.operators.governance  # noqa: E402,F401
import data_pipeline_4_online_retail_spark.plans.retail_oracle  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-visible ordering, round 13: the REGRESSION RING continues
# (VERDICT r12 items 2/4). The 50 slots front, in order:
# 1. the 2 never-checked registrations (mm_png_features +
#    mm_image_features, from the interrupted post-r11 build — never had
#    a driver row);
# 2. every execution path this OPTIMIZATION round changed: the spread
#    star paths (fct/report_customer/report_year/dim_datetime), the
#    single-scan window rewrites (ev_conversion_lag, ev_cohort_retention),
#    the persisted-signature mm_phash_dedup, the spread
#    wh_late_arriving_dim / op_sql_udf, and the registry-sweep-outlier
#    rewrites (dedup_embedding_cosine chain-dot, op_fuzzy_match_blocked
#    thresholded levenshtein, sim_ann_lsh SQL-string buckets);
# 3. the r12-changed paths the r12 window never re-proved (VERDICT r12
#    gate section): ev_funnel, text_dsir_stats, text_dsir_weights, and
#    the 7 non-windowed consumers of the r12 signature core
#    (dedup_minhash_lsh, dedup_clusters, dedup_corpus, dedup_incremental,
#    dedup_incremental_fast, dedup_lsh_recall_report,
#    dedup_minhash_estimate) — all of which also inherit this round's
#    gated _docs spread;
# 4. the 5 warehouse rows deferred at r5 (wh_foreign_key_check,
#    wh_scd2_asof_join, wh_scd3_prior_value, wh_scd6_hybrid;
#    wh_late_arriving_dim already fronts in group 2) — this CLOSES the
#    r5 tier;
# 5. 22 of the 45 r6-stale rows as fill (alphabetical; the remaining 23
#    r6 rows front the r14 window — max staleness becomes r6).
# Registry growth (0) <= rotation (standing item).
# ---------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    # --- 1. never-checked registrations (front the ring) ---
    "mm_png_features",
    "mm_image_features",
    # --- 2. r13-touched execution paths ---
    "star_fct_invoice_line_value",
    "star_report_customer",
    "star_report_year",
    "star_dim_datetime",
    "ev_conversion_lag",
    "ev_cohort_retention",
    "mm_phash_dedup",
    "op_sql_udf",
    "wh_late_arriving_dim",
    # --- 3. r12-changed, never driver-re-proved ---
    "dedup_embedding_cosine",
    "op_fuzzy_match_blocked",
    "sim_ann_lsh",
    "ev_funnel",
    "text_dsir_stats",
    "text_dsir_weights",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_corpus",
    "dedup_incremental",
    "dedup_incremental_fast",
    "dedup_lsh_recall_report",
    "dedup_minhash_estimate",
    # --- 4. the r5-deferred warehouse rows (closes r5) ---
    "wh_foreign_key_check",
    "wh_scd2_asof_join",
    "wh_scd3_prior_value",
    "wh_scd6_hybrid",
    # --- 5. r6-stale fill (alphabetical) ---
    "ev_audience_overlap",
    "ev_bounce_rate",
    "ev_burst_detection",
    "ev_cohort_ltv",
    "ev_dwell_time",
    "ev_forecast_backtest",
    "ev_funnel_dropoff",
    "ev_holt_linear_trend",
    "ev_interarrival_percentiles",
    "ev_interval_coverage",
    "ev_nearest_join",
    "ev_rolling_wau",
    "ev_seasonality_profile",
    "op_benford_first_digit",
    "op_collation_group",
    "op_constraint_check",
    "op_crosstab_chi2",
    "op_date_spine",
    "op_explode_outer",
    "op_group_moments_mergeable",
    "op_group_sample_exact_k",
    "op_map_functions",
]

assert len(_DRIVER_PRIORITY) == 50, len(_DRIVER_PRIORITY)
assert len(set(_DRIVER_PRIORITY)) == 50
_missing = [n for n in _DRIVER_PRIORITY if n not in REGISTRY]
assert not _missing, f"priority names not registered: {_missing}"

_ordered = {n: REGISTRY[n] for n in _DRIVER_PRIORITY}
for _n, _q in REGISTRY.items():
    _ordered.setdefault(_n, _q)
REGISTRY.clear()
REGISTRY.update(_ordered)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn = REGISTRY["star_report_customer"].build
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
