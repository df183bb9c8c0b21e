"""Unit + plan-shape tests for the business-analytics wave
(plans/market.py, operators/stats.py).

Value parity is covered by tests/test_oracle_parity.py (all six keys carry
full DuckDB oracles); these tests lock the DISTRIBUTED shapes — no
single-partition windows, equi-joins only, broadcast marginals — and the
exact-quantile operator's counting definition on hand-checkable inputs.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.stats import (
    cumulative_value_counts,
    quantile_disc_thresholds,
    score_by_threshold_values,
)
from zip_to_parquet_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _n_shuffles(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


# ---------------------------------------------------------------------------
# operators/stats: exact quantiles by counting
# ---------------------------------------------------------------------------
def test_cumulative_value_counts_exact(spark):
    df = spark.createDataFrame([(v,) for v in [5, 3, 3, 9, 1, 3]], "x long")
    got = {
        r["v"]: (r["cnt"], r["cum"])
        for r in cumulative_value_counts(df, "x").collect()
    }
    assert got == {1: (1, 1), 3: (3, 4), 5: (1, 5), 9: (1, 6)}


def test_cumulative_value_counts_ignores_nulls(spark):
    # NULLs must not crash the driver-side prefix-sum sort (NULL pid) and
    # must not count into the histogram — percentile_disc semantics.
    df = spark.createDataFrame(
        [(v,) for v in [5, None, 3, 3, None, 9, 1, 3]], "x long"
    )
    got = {
        r["v"]: (r["cnt"], r["cum"])
        for r in cumulative_value_counts(df, "x").collect()
    }
    assert got == {1: (1, 1), 3: (3, 4), 5: (1, 5), 9: (1, 6)}


def test_quantile_thresholds_with_nulls_match_non_null(spark):
    # Thresholds over a column with NULLs == thresholds over the non-null
    # subset (the engine under customer_rfm_segments on real data).
    vals = [7, None, 2, 9, None, 4, 4, 11, 1, None]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    clean = spark.createDataFrame(
        [(v,) for v in vals if v is not None], "x long"
    )
    t_nulls = {r["k"]: r["t"] for r in quantile_disc_thresholds(df, "x").collect()}
    t_clean = {r["k"]: r["t"] for r in quantile_disc_thresholds(clean, "x").collect()}
    assert t_nulls == t_clean


def test_quantile_thresholds_uniform(spark):
    # 1..8, quartiles: ceil(k*8/4) = 2k → thresholds 2, 4, 6.
    df = spark.createDataFrame([(v,) for v in range(1, 9)], "x long")
    t = {r["k"]: r["t"] for r in quantile_disc_thresholds(df, "x").collect()}
    assert t == {1: 2, 2: 4, 3: 6}


def test_quantile_thresholds_skewed_and_scoring(spark):
    # [1,1,1,10]: every quartile threshold is 1 (cum(1)=3 ≥ ceil(3n/4)=3);
    # scoring: v=1 → bucket 1, v=10 → strictly above all three → bucket 4.
    df = spark.createDataFrame([(1,), (1,), (1,), (10,)], "x long")
    th = {r["k"]: r["t"] for r in quantile_disc_thresholds(df, "x").collect()}
    assert th == {1: 1, 2: 1, 3: 1}
    scored = score_by_threshold_values(df, "x", th, "s")
    got = sorted((r["x"], r["s"]) for r in scored.collect())
    assert got == [(1, 1), (1, 1), (1, 1), (10, 4)]


def test_quantile_thresholds_match_histogram_buckets(spark):
    # Multi-bucket path: values spread so the 16 equi-width range buckets
    # are non-trivial; cross-check against a driver-side oracle.
    vals = [v * v for v in range(1, 60)] + [7] * 25
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    t = {r["k"]: r["t"] for r in quantile_disc_thresholds(df, "x").collect()}
    n = len(vals)
    srt = sorted(vals)
    expect = {}
    for k in (1, 2, 3):
        need = -(-k * n // 4)  # ceil
        expect[k] = srt[need - 1]
    assert t == expect


def test_multi_metric_thresholds_match_single(spark):
    # The 3-job shared-pass operator must agree with the per-metric
    # operator on every metric (same counting definition, different
    # physical plan), including a constant column (degenerate bounds).
    import random

    from zip_to_parquet_spark.operators.stats import (
        quantile_disc_thresholds_multi,
    )

    rng = random.Random(7)
    rows = [
        (rng.randint(-500, 500), rng.randint(0, 30), 42)
        for _ in range(137)
    ]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    multi = quantile_disc_thresholds_multi(df, ["a", "b", "c"])
    for col in ("a", "b", "c"):
        single = {
            r["k"]: r["t"]
            for r in quantile_disc_thresholds(df, col, denom=4).collect()
        }
        assert multi[col] == single, col
    assert multi["c"] == {1: 42, 2: 42, 3: 42}


def test_multi_metric_thresholds_reject_empty_and_all_null(spark):
    # Degenerate inputs must fail loudly (a silent empty thresholds dict
    # would score every row 1 downstream).
    import pytest

    from zip_to_parquet_spark.operators.stats import (
        quantile_disc_thresholds_multi,
    )

    empty = spark.createDataFrame([], "a long")
    with pytest.raises(ValueError, match="all-NULL/empty"):
        quantile_disc_thresholds_multi(empty, ["a"])
    nulls = spark.createDataFrame([(None,), (None,)], "a long")
    with pytest.raises(ValueError, match="all-NULL/empty"):
        quantile_disc_thresholds_multi(nulls, ["a"])


def test_quantile_thresholds_randomized_sweep(spark):
    # Seeded-random sweep vs the sorted-list oracle (one test, many cases:
    # per-example Spark jobs make per-example hypothesis too slow here).
    # Covers negatives, heavy duplication, tiny n, wide ranges, and
    # non-quartile denominators.
    import random

    for seed, denom in [(1, 4), (2, 4), (3, 10), (4, 2), (5, 4), (6, 100)]:
        rng = random.Random(seed)
        n = rng.randint(1, 300)
        lo = -(10 ** rng.randint(1, 9))
        hi = 10 ** rng.randint(1, 9)
        vals = [rng.randint(lo, hi) for _ in range(n)]
        if rng.random() < 0.5:  # duplication-heavy variant
            vals += [vals[0]] * rng.randint(1, 200)
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        got = {
            r["k"]: r["t"]
            for r in quantile_disc_thresholds(df, "x", denom=denom).collect()
        }
        srt = sorted(vals)
        expect = {
            k: srt[-(-k * len(vals) // denom) - 1] for k in range(1, denom)
        }
        assert got == expect, f"seed={seed} denom={denom}"


# ---------------------------------------------------------------------------
# Plan shapes
# ---------------------------------------------------------------------------
def test_ohlc_single_shuffle_no_window(spark):
    # min_by/max_by over the (ts,event_id) struct keep OHLC a ONE-shuffle
    # map-side-combinable aggregate; a row_number formulation would add a
    # per-bar sort window over the fact table.
    plan = _plan(spark, "events_ohlc_bars")
    assert _n_shuffles(plan) <= 1
    assert "Window" not in plan


def test_twa_no_cartesian_bounded_shuffles(spark):
    # lead-window + same-key aggregate: user_id exchange(s) only.
    plan = _plan(spark, "events_time_weighted_avg")
    assert "CartesianProduct" not in plan
    assert _n_shuffles(plan) <= 2


def test_basket_pairs_equi_join_on_orderkey(spark):
    # Pair generation must stay an equi-join on the order key (candidate
    # volume bounded by basket size) with broadcast part-frequency sides;
    # the only nested-loop node allowed is the broadcast 1-row global
    # denominator.
    plan = _plan(spark, "basket_pair_lift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", plan, re.M)
    nlj = [j for j in joins if "NestedLoop" in j]
    assert len(nlj) <= 1, f"unexpected nested-loop joins: {joins}"


def test_rfm_no_window_in_final_plan(spark):
    # Quartile thresholds are pre-computed by the two-pass histogram
    # operator (separate bounded jobs); the FINAL plan must be rollup →
    # broadcast threshold scalars → score → cell aggregate, with no
    # single-partition ntile window anywhere.
    plan = _plan(spark, "customer_rfm_segments")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # The persisted per-customer rollup prints its full lineage inside the
    # InMemoryRelation block (custkey shuffle + 1-row max-date reduction —
    # served from cache at execution), plus the final cell aggregate.
    assert "InMemoryRelation" in plan
    assert _n_shuffles(plan) <= 5


def test_weighted_median_window_over_histogram(spark):
    # The cumsum window must consume the (flag, price) HISTOGRAM (after a
    # partial-aggregated groupBy), not the raw fact table: the plan shows
    # the aggregate below the window, and the totals join broadcasts.
    plan = _plan(spark, "stats_weighted_median")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    # Histogram rollup below the window = a partial/final HashAggregate
    # pair exists (map-side combine survived).
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 2


def test_rolling_anomaly_single_shuffle_range_frame(spark):
    # Trailing-hour integer moments: one user-keyed exchange feeding a
    # RANGE-framed Window — no join, no second shuffle.
    plan = _plan(spark, "events_rolling_anomaly")
    assert "Window" in plan
    assert _n_shuffles(plan) <= 1
    assert "Join" not in plan


def test_dynamic_partition_pruning_reaches_fact_scan(spark):
    # The month-dim join must inject a dynamicpruningexpression into the
    # partitioned fact scan's PartitionFilters — DPP firing is the whole
    # point of the key; without it the scan reads every month directory.
    plan = _plan(spark, "join_partition_pruning_dynamic")
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_column_profile_two_level_distinct(spark):
    # One melted scan → per-(column,value) partial-aggregated counts →
    # 6-group rollup; NOT six count-distinct scans (no Expand explosion,
    # ≤2 shuffles, no join).
    plan = _plan(spark, "scan_column_profile")
    assert _n_shuffles(plan) <= 2
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Scan", plan, re.M)) == 1


def test_ewma_single_shuffle_no_python(spark):
    # Ordered array fold: one user-keyed shuffle, the fold is codegen'd
    # JVM (no BatchEvalPython / ArrowEvalPython in the plan).
    plan = _plan(spark, "events_ewma_fixed_point")
    assert _n_shuffles(plan) <= 1
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_frozen_scratch_built_once_per_session(spark):
    # The DPP fact layout and the snapshot dedup index are immutable per
    # (session, sf): the second invocation must REUSE the scratch, not
    # rewrite it (the rewrite was the measured 3× cost of the incremental
    # dedup key). _SUCCESS mtime is the witness.
    import os

    from zip_to_parquet_spark.plans import all_queries

    qs = all_queries()
    from zip_to_parquet_spark.runtime import session_scratch

    for key, tag, marker in (
        ("join_partition_pruning_dynamic", "z2ps_dpp", "_z2ps_done"),
        ("dedup_incremental_vs_snapshot", "z2ps_snapidx", "band_idx/_SUCCESS"),
    ):
        qs[key](spark, SF).write.format("noop").mode("overwrite").save()
        path = os.path.join(session_scratch(spark, tag, SF), marker)
        first = os.path.getmtime(path)
        qs[key](spark, SF).write.format("noop").mode("overwrite").save()
        assert os.path.getmtime(path) == first, f"{key} rewrote its scratch"


def test_drift_bucket_rollups_before_join(spark):
    # PSI consumes bucket-cardinality rollups (map-side combined), never
    # raw rows: partial/final HashAggregate pairs exist, the only
    # nested-loop joins are the two broadcast 1-row totals, and no
    # cartesian anywhere.
    plan = _plan(spark, "dq_distribution_drift")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) >= 4
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", plan, re.M)
    assert len([j for j in joins if "NestedLoop" in j]) <= 2, joins


def test_chi_square_broadcast_marginals(spark):
    plan = _plan(spark, "stats_chi_square_cells")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cusum_closed_form_matches_recursion(spark):
    # The windowed closed form S_i = prefix_i - min(0, runmin(prefix))
    # must equal the textbook recursion S_i = max(0, S_{i-1} + dev_i).
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        ((F.col("value").cast("decimal(12,2)") * 100).cast("long") - 6000)
        .alias("dev"),
    ).collect()
    seqs = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.dev)
    expect = {}
    for u, devs in seqs.items():
        s, n_alarms, mx, first = 0, 0, 0, None
        for i, d in enumerate(devs, 1):
            s = max(0, s + d)
            mx = max(mx, s)
            if s > 15000:
                n_alarms += 1
                if first is None:
                    first = i
        expect[u] = (len(devs), n_alarms, mx, first)
    got = {
        r.user_id: (r.n_events, r.n_alarms, r.max_cusum_cents, r.first_alarm_rn)
        for r in all_queries()["events_cusum_alarm"](spark, sf).collect()
    }
    assert got == expect


def test_holt_matches_python_recursion(spark):
    # Pure-Python replay of the fixed-point recursion; >> floors in
    # Python, the JVM, and DuckDB alike (unlike integer division).
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("xc"),
    ).collect()
    seqs = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.xc)
    expect = {}
    for u, xs in seqs.items():
        l, b = xs[0], 0
        for x in xs[1:]:
            nl = (x + 3 * (l + b)) >> 2
            b = (nl - l + 3 * b) >> 2
            l = nl
        expect[u] = (len(xs), l, b, l + b)
    got = {
        r.user_id: (r.n_events, r.level_cents, r.trend_cents, r.forecast_cents)
        for r in all_queries()["events_holt_linear_trend"](spark, sf).collect()
    }
    assert got == expect
    # the fixture must actually exercise a negative trend somewhere,
    # or the floor-vs-truncate distinction is untested
    assert any(v[2] < 0 for v in got.values()), "no negative trend in fixture"


def test_gini_matches_pairwise_definition(spark):
    # The prefix-sum identity must equal the O(n^2) pairwise mean
    # absolute difference definition: G = sum|xi-xj| / (2 n^2 mu).
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "customer").select(
        "c_nationkey",
        (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long").alias("v"),
    ).collect()
    by_nat = {}
    for r in rows:
        by_nat.setdefault(r.c_nationkey, []).append(r.v)
    got = {
        r.c_nationkey: r.gini_permille
        for r in all_queries()["stats_gini_permille"](spark, sf).collect()
    }
    for nat, xs in by_nat.items():
        n, tot = len(xs), sum(xs)
        if tot <= 0:
            continue
        pair = sum(abs(a - b) for a in xs for b in xs)
        # identity numerator: 2*sum(i*x_sorted) - (n+1)*tot == pair/... :
        # G = pair / (2 n tot); permille with truncation toward zero
        expect = (pair * 1000) // (2 * n * tot)
        assert got[nat] == expect, (nat, got[nat], expect)
