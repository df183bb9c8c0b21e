"""Capture .explain("formatted") for headline + heavy queries.

Usage:
    python scripts/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for every named query (default: all
headline + heavy bench keys), e.g. ``plans/r16 after``. Session config
mirrors bench.py so the plans match what the bench actually executes (AQE
initial plan; the judge reads Exchange count / join strategy /
PushedFilters from these).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCH_KEYS = [
    "q1_pricing_summary",
    "filter_pushdown_project",
    "join_broadcast_dim",
    "join_multiway_q5",
    "window_rank_topn",
    "events_sessionize",
    "join_asof_last_click",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "text_stats",
    "doc_fingerprint",
    "zip_explode_hash",
    "stream_tumbling_window",
    "graph_jaccard_linkpred",
    "graph_resource_allocation",
    "graph_adamic_adar",
    "linkpred_precision_at_k",
]


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or BENCH_KEYS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("z2ps-capture-plans")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.plans.zipparity import _zip_fixture_dir

    _zip_fixture_dir(sf_dir)
    queries = all_queries()

    os.makedirs(out_dir, exist_ok=True)

    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 - record the failure itself
            text = f"EXPLAIN FAILED: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
