"""As-of join, range join, salted agg, IVF ANN — oracle parity at sf0.001
plus unit checks of the operator shapes."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.temporal import asof_join, range_join_pairs
from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

from tests.parity import compare

KEYS = [
    "join_asof_last_click",
    "join_range_within_5min",
    "agg_salted_skew",
    "ann_ivf_topk",
]


def test_new_queries_match_oracle(spark, sf_dir):
    qs, oracles = all_queries(), all_oracle_sql()
    for key in KEYS:
        compare(spark, sf_dir, qs[key], oracles[key])


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [Row(k=1, t=10), Row(k=1, t=20), Row(k=1, t=5), Row(k=2, t=10)]
    )
    right = spark.createDataFrame(
        [Row(k=1, rt=10, tag="a"), Row(k=1, rt=15, tag="b"), Row(k=3, rt=1, tag="z")]
    )
    out = asof_join(left, right, key="k", left_ts="t", right_ts="rt", right_payload=["tag"])
    got = {(r.k, r.t): r.tag for r in out.collect()}
    # t=10 matches the simultaneous right row (<= semantics); t=5 has none;
    # t=20 takes the latest (rt=15); k=2 has no right rows at all.
    assert got == {(1, 10): "a", (1, 20): "b", (1, 5): None, (2, 10): None}


def test_range_join_bucket_completeness(spark):
    # Pairs straddling a bucket boundary must still be found (the 2-bucket
    # explode); pairs beyond the gap must not.
    rows = [Row(k=1, ts=t, eid=i) for i, t in enumerate([0, 299, 301, 601])]
    df = spark.createDataFrame(rows).select(
        "k", F.timestamp_seconds("ts").alias("ts"), "eid"
    )
    out = range_join_pairs(df, key="k", payload=["eid"])
    pairs = {(r.eid, r.eid_b) for r in out.collect()}
    # 2→3 is exactly 300s (inclusive boundary, crosses a bucket edge);
    # 0→2 is 301s apart: excluded.
    assert pairs == {(0, 1), (1, 2), (2, 3)}
