"""Capture .explain("formatted") for headline + heavy queries.

Usage:
    python scripts/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for every named query (default: all
headline + heavy bench keys), e.g. ``plans/r16 after``. The session is
bench.py's (``_harness``), so the plans match what the bench actually
executes (AQE initial plan; Exchange count, join strategy and
PushedFilters are read from these).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import _harness  # noqa: E402
import bench  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or bench.HEADLINE + bench.HEAVY
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _harness.bench_session("z2ps-capture-plans")

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
