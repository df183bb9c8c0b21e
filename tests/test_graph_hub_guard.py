"""Planted-hub property tests for the link-prediction wedge guard.

VERDICT r10 finding #1: the r10-era corpus-relative hub threshold
(deg > 64 AND deg > 250‰ of n_nodes) required a node adjacent to 25% of the
entire graph and therefore never fired on any realistic sparse graph — the
Σdeg²-per-center wedge self-join in graph_jaccard_linkpred /
graph_resource_allocation ran unguarded, and one power-law hub would turn
the shared-neighbor shuffle key into a deg² skew bomb. The fix is an
ABSOLUTE per-center cap (``hub_centers``: deg > HUB_DEG_CAP, mirrored
verbatim in both oracles). These tests PROVE the bound on a synthetic graph
with a planted hub: wedge output is exactly Σ_{deg(c) ≤ cap} C(deg(c), 2)
— the hub center contributes ZERO rows no matter how large its degree.
"""

from __future__ import annotations

from math import comb

import duckdb
import pytest
from pyspark.sql import functions as F

from zip_to_parquet_spark.plans import scidata
from zip_to_parquet_spark.plans.scidata import HUB_DEG_CAP, hub_centers

# Planted topology: hub node 0 adjacent to spokes 1..HUB_DEG; a clean
# 4-clique on 101..104 (every node deg 3, all below cap); and a mid-degree
# center 200 adjacent to 201..200+MID_DEG (above the test cap, below the
# hub). Node id ranges are disjoint so degrees are exactly by construction.
HUB_DEG = 40
MID_DEG = 12
TEST_CAP = 8


def _edges() -> list[tuple[int, int]]:
    e = [(0, s) for s in range(1, HUB_DEG + 1)]
    clique = [101, 102, 103, 104]
    e += [(a, b) for a in clique for b in clique if a < b]
    e += [(200, 200 + i) for i in range(1, MID_DEG + 1)]
    return e


def _expected_wedges(cap: int) -> int:
    # Degrees by construction: hub=HUB_DEG, spokes=1, clique nodes=3,
    # mid center=MID_DEG, mid leaves=1. A center of degree d below the
    # cap yields C(d, 2) wedges (x.u < y.u pairs of its neighbors).
    degs = (
        [HUB_DEG]
        + [1] * HUB_DEG
        + [3] * 4
        + [MID_DEG]
        + [1] * MID_DEG
    )
    return sum(comb(d, 2) for d in degs if d <= cap)


def _wedge_count_spark(spark, cap: int) -> tuple[int, int]:
    """(total wedge rows, wedge rows centered at an above-cap node)."""
    e = spark.createDataFrame(_edges(), "u long, v long")
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    hub = hub_centers(deg, cap)
    undg = und.join(F.broadcast(hub), "v", "left_anti")
    wedges = (
        undg.alias("x")
        .join(undg.alias("y"), F.col("x.v") == F.col("y.v"))
        .filter(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.v").alias("center"))
    )
    total = wedges.count()
    over_cap = (
        wedges.join(
            F.broadcast(hub_centers(deg, cap).withColumnRenamed("v", "center")),
            "center",
        ).count()
    )
    return total, over_cap


def test_planted_hub_contributes_zero_wedges(spark):
    total, over_cap = _wedge_count_spark(spark, TEST_CAP)
    assert over_cap == 0
    assert total == _expected_wedges(TEST_CAP)


def test_wedge_output_bounded_by_cap_squared_per_center(spark):
    # With the guard, every surviving center has deg <= cap, so total
    # wedges <= n_centers * C(cap, 2). The planted hub (deg 40 >> cap 8)
    # must not break the bound.
    total, _ = _wedge_count_spark(spark, TEST_CAP)
    n_nodes = 1 + HUB_DEG + 4 + 1 + MID_DEG
    assert total <= n_nodes * comb(TEST_CAP, 2)


def test_default_cap_fires_on_realistic_hub(spark):
    # The r10-era relative guard needed deg > 250‰·n_nodes — on this graph
    # (58 nodes) that is deg > 14.5 AND deg > 64, i.e. NOTHING below deg 65
    # prunes regardless of skew. The absolute cap prunes any deg > 1024 hub
    # on any graph: plant one and check it is selected.
    deg = spark.createDataFrame(
        [(0, 2000), (1, 1024), (2, 120)], "node long, deg long"
    )
    pruned = sorted(r.v for r in hub_centers(deg, HUB_DEG_CAP).collect())
    assert pruned == [0]  # deg == cap survives; only the hub is cut


def test_oracle_guard_matches_spark_guard(spark):
    """The oracles' hub CTE (deg > 1024 verbatim) and hub_centers must
    select the same node set — run both over the same degree table."""
    rows = [(i, d) for i, d in enumerate([1, 64, 512, 1024, 1025, 99999])]
    deg = spark.createDataFrame(rows, "node long, deg long")
    spark_pruned = sorted(r.v for r in hub_centers(deg).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE deg(node BIGINT, deg BIGINT)")
    con.executemany("INSERT INTO deg VALUES (?, ?)", rows)
    duck_pruned = sorted(
        r[0] for r in con.execute(
            "SELECT node FROM deg WHERE deg > 1024"
        ).fetchall()
    )
    assert spark_pruned == duck_pruned == [4, 5]


@pytest.mark.parametrize(
    "key",
    [
        "graph_jaccard_linkpred",
        "graph_resource_allocation",
        "graph_adamic_adar",
    ],
)
def test_linkpred_oracles_use_absolute_cap(key):
    """Both oracles carry the absolute cap verbatim and no trace of the
    defunct relative threshold (regression pin for VERDICT r10 ask #2)."""
    from zip_to_parquet_spark.plans import all_oracle_sql

    sql = all_oracle_sql()[key]
    assert f"deg > {HUB_DEG_CAP}" in sql
    assert "n_nodes" not in sql and "250" not in sql


# A 4-cycle 301-302-303-304 added for the kernel tests: its two diagonals
# are non-edges with 2 common neighbors each, all centers deg 2, so the
# kernel's output is non-empty at every cap the tests use.
_CYCLE = [(301, 302), (302, 303), (303, 304), (301, 304)]
_RA_WEIGHT = "1000000 div deg"


def _kernel_rows(spark, monkeypatch, cap: int, weighted: bool = False):
    """(sorted nonedge rows, sorted (node, deg) rows) from the SHIPPED
    common-neighbor kernel with the hub cap monkeypatched to ``cap``."""
    monkeypatch.setattr(scidata, "HUB_DEG_CAP", cap)
    e = spark.createDataFrame(_edges() + _CYCLE, "u long, v long")
    w_v = F.expr(_RA_WEIGHT) if weighted else None
    nonedge, deg = scidata._common_neighbors(spark, e, w_v)
    return (
        sorted(tuple(r) for r in nonedge.collect()),
        sorted((r.node, r.deg) for r in deg.collect()),
    )


def _reference(spark, cap: int):
    """The naive formulation the kernel replaced: a separate degree
    groupBy, the hub_centers anti-join, the und ⋈ und wedge self-join
    on the center, minus existing edges. Returns sorted (u, v, n_common,
    RA-weighted sum) rows and the counted (node, deg) rows."""
    e = spark.createDataFrame(_edges() + _CYCLE, "u long, v long")
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    undg = und.join(F.broadcast(hub_centers(deg, cap)), "v", "left_anti")
    wedges = (
        undg.alias("x")
        .join(undg.alias("y"), F.col("x.v") == F.col("y.v"))
        .filter(F.col("x.u") < F.col("y.u"))
        .join(deg, F.col("x.v") == F.col("node"))
        .select(
            F.col("x.u").alias("u"),
            F.col("y.u").alias("v"),
            F.expr(_RA_WEIGHT).cast("long").alias("w"),
        )
    )
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("w").cast("long").alias("w"),
    )
    nonedge = cn.join(e, ["u", "v"], "left_anti")
    return (
        sorted(tuple(r) for r in nonedge.collect()),
        sorted((r.node, r.deg) for r in deg.collect()),
    )


def test_array_pair_wedges_match_join_formulation(spark, monkeypatch):
    """The shipped kernel (r11 array-pair wedges over the r15 fused,
    size-filtered adjacency) must produce the SAME (u, v) -> n_common
    (and weighted sum) relation as the hub_centers self-join reference
    minus existing edges — at the boundary cap where the mid center
    survives (deg == cap) and one below it, where it is pruned."""
    for cap in (MID_DEG, MID_DEG - 1):
        want, _ = _reference(spark, cap)
        weighted, _ = _kernel_rows(spark, monkeypatch, cap, weighted=True)
        counted, _ = _kernel_rows(spark, monkeypatch, cap)
        assert weighted == want and want, cap
        assert counted == [r[:3] for r in want], cap


def test_fused_adjacency_size_filter_matches_anti_join_prune(
    spark, monkeypatch
):
    """r15 fused adjacency: the kernel prunes hub CENTERS with a
    ``size(us) <= cap`` filter instead of the r14 hub_centers anti-join.
    On the planted topology the planted hub never contributes a pair,
    the boundary holds (deg == cap survives, deg > cap is cut), and the
    kernel's degree table (size(us) over the UNPRUNED adjacency) equals
    the groupBy count — hubs included."""
    spokes = set(range(1, HUB_DEG + 1))
    leaves = set(range(201, 201 + MID_DEG))
    for cap, mid_survives in ((MID_DEG, True), (MID_DEG - 1, False)):
        rows, deg = _kernel_rows(spark, monkeypatch, cap)
        _, counted = _reference(spark, cap)
        assert deg == counted and (0, HUB_DEG) in deg
        pairs = {(u, v) for u, v, _ in rows}
        assert not any(u in spokes and v in spokes for u, v in pairs)
        leaf_pairs = {(u, v) for u, v in pairs if u in leaves and v in leaves}
        assert len(leaf_pairs) == (comb(MID_DEG, 2) if mid_survives else 0)
