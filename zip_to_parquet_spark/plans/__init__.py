"""Named query registry backing ``__spark_entry__.queries()``.

Importing this package registers every query module; the driver-facing
surface is ``all_queries()`` / ``all_oracle_sql()``.
"""

from __future__ import annotations

from zip_to_parquet_spark.plans.registry import (
    all_oracle_sql,
    all_queries,
    query,
    set_priority,
)

# Import for side effect: each module registers its queries.
from zip_to_parquet_spark.plans import relational  # noqa: E402,F401
from zip_to_parquet_spark.plans import llm  # noqa: E402,F401
from zip_to_parquet_spark.plans import zipparity  # noqa: E402,F401
from zip_to_parquet_spark.plans import streamingq  # noqa: E402,F401
from zip_to_parquet_spark.plans import temporal  # noqa: E402,F401
from zip_to_parquet_spark.plans import analytics  # noqa: E402,F401
from zip_to_parquet_spark.plans import learn  # noqa: E402,F401
from zip_to_parquet_spark.plans import tpch_deco  # noqa: E402,F401
from zip_to_parquet_spark.plans import tpch2  # noqa: E402,F401
from zip_to_parquet_spark.plans import market  # noqa: E402,F401
from zip_to_parquet_spark.plans import scidata  # noqa: E402,F401
from zip_to_parquet_spark.plans import journeys  # noqa: E402,F401
from zip_to_parquet_spark.plans import experiments  # noqa: E402,F401

# The driver's per-round correctness sweep covers the FIRST 50 registry keys.
# Window policy (per VERDICT r2, AUTOMATED since round 4 by
# tests/test_window_policy.py; `python scripts/window_pin.py` prints the
# changed set and a suggested pin): any key whose implementing code changed
# since its last green driver row must be inside the window; when more keys
# changed than the window holds, every slot must at least be spent on a
# changed key.
#
# Pin basis: ``python scripts/window_pin.py --list`` on the tree that
# streams the single-file sink as Arrow batches and counts a module-level
# rebinding only for keys that read the name through it; its list equals
# the pin taken on the tree that folds every parameter its callers set to
# one value into a literal or a module constant, on the tree that folds
# the copied key stages into one function each, on the tree that reads
# the central-directory probe through the one archive reader, and on the
# tree that deleted the text_chunk_windows_udtf and
# events_funnel_partitioned twins (the deleted key's slot went to
# stats_mannwhitney_u, order otherwise unchanged; ``set_priority`` raises
# on an unregistered key).
# session.py and runtime._package_zip are in every key's closure, so the
# tool counts all 314 keys as changed and the pin is its oldest-green-first
# rotation. Engine commits land before the correctness sweep (README
# "Round discipline"); keys outside the window stay value-verified by the
# sf0.001 oracle-parity suite on every test run.
set_priority([
    "events_timeseries_gapfill",
    "events_minmax_scaled",
    "q14_promo_revenue",
    "q19_disjunctive_revenue",
    "dedup_incremental_vs_snapshot",
    "mapinarrow_text_metrics",
    "text_collocations_pmi",
    "mixture_source_entropy",
    "zip_incremental_ingest",
    "tar_explode_hash",
    "stream_static_enrich",
    "stream_stream_left_outer",
    "events_markov_transitions",
    "matview_incremental_refresh",
    "cluster_kmeans_embeddings",
    "quality_distill_classifier",
    "layout_zorder_files",
    "layout_pruning_eval",
    "bpe_tokenize_stats",
    "q13_order_distribution",
    "q17_small_qty_revenue",
    "q22_idle_balance",
    "q11_important_share",
    "agg_bitmap_distinct",
    "join_bloom_prefilter",
    "stats_outlier_zscore",
    "join_existence_mark",
    "agg_histogram_equiwidth",
    "join_null_safe",
    "global_rank_two_pass",
    "spatial_grid_neighbors",
    "agg_mode_exact",
    "skew_diagnosis_report",
    "join_interval_overlap",
    "skyline_orders_pareto",
    "stats_outlier_mad",
    "sketch_set_algebra",
    "join_point_in_time_scd2",
    "scan_schema_evolution",
    "sample_weighted_aes",
    "json_variant_shredding",
    "q4_priority_count",
    "q10_returned_items",
    "join_lateral_top1",
    "set_ops_all",
    "agg_kmv_distinct",
    "dq_expectations_report",
    "agg_sampled_percentiles",
    "join_null_aware_anti",
    "stats_mannwhitney_u",
])

__all__ = ["all_queries", "all_oracle_sql", "query", "set_priority"]
