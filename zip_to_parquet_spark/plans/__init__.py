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
# Pin basis: ``python scripts/window_pin.py --list`` on the tree whose
# zip source packs archives into size-balanced read partitions. That
# change flags 9 keys that read zips through ``read_zip_members`` (the
# zip-parity keys and sink_parquet_roundtrip); they lead the window. The
# other 41 slots keep the keys the common-neighbor kernel change flagged,
# oldest green first; stats_anova_f, dq_referential_integrity and
# experiment_cuped_adjust (last green r15) drop out, since 53 real
# changes exceed the window. The same tree gives ``runtime._package_zip``
# a per-process temp file name, and that helper is in every key's
# closure, so the policy tool now counts all 317 keys as changed; this
# pin was taken from its suggestion just before that one-line edit.
# Engine commits land before the correctness sweep (README "Round
# discipline"); keys outside the window stay value-verified by the
# sf0.001 oracle-parity suite on every test run.
set_priority([
    "sink_parquet_roundtrip",
    "zip_explode_hash",
    "zip_glob_members",
    "zip_count_members",
    "zip_union_sources",
    "zip_null_projection",
    "zip_csv_members",
    "zip_jsonl_members",
    "zip_federated_join",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_nprobe_curve",
    "graph_jaccard_linkpred",
    "graph_resource_allocation",
    "linkpred_precision_at_k",
    "ts_changepoint_binary",
    "sample_ht_estimate",
    "sample_effective_size",
    "ts_pinball_loss",
    "ts_seasonal_strength",
    "stats_dispersion_index",
    "experiment_srm_check",
    "events_locf_fill",
    "experiment_lift_t2",
    "stats_bh_fdr_cells",
    "stats_conformal_coverage",
    "privacy_l_diversity",
    "experiment_group_sequential",
    "stats_kruskal_wallis",
    "select_coreset_kcenter",
    "tokenizer_vocab_coverage",
    "text_lexical_diversity",
    "ts_rolling_median",
    "stats_theil_sen_daily",
    "stats_zipf_fit",
    "sample_poisson_replicate",
    "sketch_count_min",
    "stats_runs_test",
    "privacy_randomized_response",
    "feature_target_encode_loo",
    "sample_stratified_exact",
    "sample_systematic_interval",
    "privacy_dp_geometric_counts",
    "experiment_power_mde",
    "stats_levene_bf",
    "ts_ljung_box",
    "sample_class_balanced",
    "graph_adamic_adar",
])

__all__ = ["all_queries", "all_oracle_sql", "query", "set_priority"]
