"""Iterative graph algorithms over edge DataFrames.

Connected components (``connected_components_star``, the one CC operator —
it also clusters the near-duplicate pair graphs of the dedup keys), BFS,
PageRank, triangle counts. Shared Spark idioms: per-iteration keyed join +
groupBy, ``localCheckpoint`` to truncate lineage. The reference has no
graph surface (SURVEY §2.C: no joins at all); this extends the
LLM-pipeline library, where link-graph scores (PageRank over a
host/citation graph) are a standard corpus-quality signal (e.g. Common
Crawl host ranking feeding crawl frontier and quality weighting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BASKET_CAP",
    "capped_baskets",
    "copurchase_pairs",
    "basket_pair_counts",
    "pagerank_integer",
    "triangle_count",
    "connected_components_star",
]

# Absolute per-basket size cap for every C(basket, 2) co-occurrence pair
# generation (the order-key self-joins in the link-prediction, triangle /
# clustering / BFS edge builders and basket_pair_lift). The pair count per
# basket is quadratic in the basket size and DATA-dependent: one
# pathological basket (a bot account, a crawler artifact) of 10⁶ items
# emits 5×10¹¹ pairs inside a single task — the same skew-bomb class the
# wedge stage already guards with scidata.HUB_DEG_CAP, one stage earlier.
# The cap is ABSOLUTE for the same reason that cap is (VERDICT r10
# finding #1: relative thresholds never fire on realistic data): baskets
# above BASKET_CAP items are dropped outright, bounding pair output at
# Σ min(|basket|, cap)² ≤ n_baskets · cap² at ANY corpus size. Recall
# contract (mirrored verbatim in every consuming oracle): a jumbo basket
# is near-zero-signal for lift and link prediction — co-occurrence inside
# a 10⁶-item basket says nothing about pairwise affinity, exactly as an
# above-cap hub's common-neighbor evidence scores ≈0 — so the cap drops
# only noise. Fixture reality: max basket is 17 distinct parts at sf0.1
# (measured r12), so the cap never fires on testdata and every oracle
# hash is unchanged.
BASKET_CAP = 256


def capped_baskets(lp: DataFrame, cap: int = BASKET_CAP) -> DataFrame:
    """Drop baskets (groups sharing ``l_orderkey``) larger than ``cap``
    rows ahead of a C(basket, 2) pair self-join — see BASKET_CAP above.

    Shape: one window count partitioned by the basket key. The window's
    hash exchange on ``l_orderkey`` is exactly the partitioning the downstream
    pair self-join requires, so the guard adds no extra shuffle — and a
    jumbo basket inside the window is a spillable sorted run plus a
    running count, never a materialized array or a deg² join output.
    Exercised by the planted-jumbo-basket property tests in
    tests/test_basket_cap_guard.py.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_orderkey")
    return (
        lp.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= cap)
        .drop("_bsz")
    )


def copurchase_pairs(
    lineitem: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Part co-purchase pairs ``(src < dst)`` of ``lineitem``, one row per
    order the two parts share, built from basket-capped orders: baskets
    above BASKET_CAP distinct parts are dropped before the order-key
    self-join (see :func:`capped_baskets`)."""
    lp = capped_baskets(lineitem.select("l_orderkey", "l_partkey").distinct())
    return (
        lp.alias("a")
        .join(lp.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias(src), F.col("b.l_partkey").alias(dst)
        )
    )


def basket_pair_counts(po: DataFrame) -> DataFrame:
    """Support counts ``(part_a, part_b, n_ab)`` of the part pairs
    ``part_a < part_b`` that share at least two orders of the distinct
    ``(l_orderkey, l_partkey)`` rows ``po``. Pair generation is a
    self-equi-join on the order key: candidate volume is Σ|basket|², never
    |parts|²."""
    a = po.alias("a")
    b = po.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )


def _oriented_triangles(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Degree-ordered triangle enumeration shared by
    :func:`triangle_count` and :func:`local_clustering` →
    ``(und, deg, tri)``: the undirected simple edge set ``(u, v)``, the
    degree table ``(node, deg)`` and one row ``(x, z, y)`` per triangle
    (see :func:`triangle_count` for the orientation argument)."""
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).localCheckpoint(eager=False)
    wedge = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"),
        F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )
    closer = oriented.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return und, deg, wedge.join(closer, ["x", "z"])


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple ``(src, dst)``
    graph → one row ``(n_edges, n_triangles)``.

    Degree-ordered edge-iterator (the MapReduce-era standard, Suri &
    Vassilvitskii WWW'11 / Cohen 2009): orient every undirected edge from
    its lower-(degree, id) endpoint to the higher one, build wedges by
    joining oriented edges head-to-tail, and close each wedge against the
    oriented edge set. Orientation makes each triangle count exactly once
    AND bounds per-node wedge fan-out by out-degree ≤ O(√m) — the skew
    fix that lets a power-law graph (where a hub's degree² wedge count
    would explode an id-ordered join) survive at scale. Two equi-joins,
    both on node keys; no cross join anywhere.

    The oracle can count with the naive ``a<b<c`` 3-way self-join —
    orientation changes the join volume, never the count.
    """
    und, _, tri = _oriented_triangles(edges)
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")).crossJoin(
        n_tri
    )


def pagerank_integer(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Power-iteration PageRank over ``(src, dst)`` edges in INTEGER
    micro-units → (node, rank_micro), damping 85 %.

    Why integer: a distributed double sum is addition-order-dependent, so
    float PageRank never hash-matches an oracle (and drifts run-to-run).
    Here every per-edge contribution is ``rank div out_degree`` (exact
    integer floor-division) and the damping update is
    ``teleport + (85 · Σcontrib) div 100`` — all integer, so the
    in-neighbor sum is order-free and the fixed-point result is
    bit-identical on any engine, any partitioning. Ranks are micro-units
    of probability mass × node count (init = 10⁶ per node); divide by
    10⁶ for the conventional scale. Floor loss per edge is
    < 1 micro-unit — noise at rank magnitudes, determinism in exchange.

    Semantics: distinct directed edges, uniform out-edge split, fixed
    ``iters`` power steps, no dangling-mass redistribution (a node with
    no out-edges absorbs; the fixed iteration count bounds the loss —
    document-corpus host graphs prune sinks upstream).

    Scale shape: per iteration one equi-join of edges against ranks on
    src (shuffle keys: node ids — natural web-graph skew on mega-hosts
    is the known caveat; AQE skew-join or salting applies unchanged) and
    one groupBy(dst) with map-side combine. ``localCheckpoint`` after
    each step keeps the plan from growing with ``iters`` — the standard
    Spark iterative-algorithm idiom (same as connected_components_star).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    teleport = 1_000_000 * (100 - 85) // 100
    ranks = nodes.select("node", F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(F.col("dst").alias("node2"), F.expr("r div d").alias("ct"))
        )
        in_sum = contrib.groupBy("node2").agg(F.sum("ct").alias("s"))
        ranks = (
            nodes.join(in_sum, nodes["node"] == F.col("node2"), "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components of the ``(doc_a, doc_b)`` pair graph via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) → (node, comp), comp
    = min node id of the component.

    The one connected-components operator: ``dedup_clusters``,
    ``split_group_aware`` and ``dedup_cluster_keep_best`` cluster their
    near-duplicate pair graphs with it. Min-label propagation needs
    O(diameter) rounds, so a long chain (the pathological crawl-graph
    shape) outruns any fixed round cap; star operations contract the graph
    toward a star in O(log² n) rounds REGARDLESS of diameter, each round
    two node-keyed shuffles:

    * large-star(u): every neighbor v > u links to m = min(N(u) ∪ {u});
    * small-star(u): every neighbor v ≤ u (and u itself) links to
      m = min(N≤(u) ∪ {u}).

    Both are groupBy(u) aggregates + an emit join — map-side combinable,
    no skew beyond the graph's own degree skew (the paper's point: a
    high-degree hub emits edges, never materializes its whole
    neighborhood in one task's memory... beyond the groupBy min, which
    IS combinable). Convergence is detected by an order-free edge-set
    fingerprint (count + bit_xor of xxhash64), one tiny agg per round;
    ``localCheckpoint`` truncates lineage; non-convergence within
    20 rounds raises instead of returning a non-star (and therefore
    corrupt) labeling. Output covers every node that appears in a
    non-self-loop edge; an empty edge set gives no rows.
    """
    def canon(df: DataFrame) -> DataFrame:
        """One canonical orientation (u > v) for the undirected edge set —
        required so the convergence fingerprint is orientation-free."""
        return (
            df.select(
                F.greatest(F.col("u"), F.col("v")).alias("cu"),
                F.least(F.col("u"), F.col("v")).alias("cv"),
            )
            .filter(F.col("cu") != F.col("cv"))
            .select(F.col("cu").alias("u"), F.col("cv").alias("v"))
            .distinct()
        )

    e = canon(
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).localCheckpoint(eager=True)

    def sym(df: DataFrame) -> DataFrame:
        return df.select("u", "v").unionByName(
            df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def large_star(df: DataFrame) -> DataFrame:
        nb = sym(df)
        m = (
            nb.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        return canon(
            nb.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(df: DataFrame) -> DataFrame:
        nb = sym(df).filter(F.col("v") <= F.col("u"))
        m = nb.groupBy("u").agg(F.min("v").alias("m"))
        linked = nb.join(m, "u")
        return canon(
            linked.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(linked.select("u", F.col("m").alias("v")))
        )

    def fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    fp = fingerprint(e)
    converged = False
    for _ in range(20):
        e2 = small_star(large_star(e)).localCheckpoint(eager=True)
        fp2 = fingerprint(e2)
        e = e2
        if fp2 == fp:
            converged = True
            break
        fp = fp2
    if not converged:
        raise RuntimeError(
            "star contraction did not converge in 20 rounds; the edge set "
            "is not yet a star and its labeling would be corrupt "
            "(O(log^2 n) rounds suffice)"
        )

    # Terminal star: every non-root points at its root; roots self-label.
    nodes_to_root = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    return nodes_to_root.unionByName(roots).distinct()


def bfs_hops(edges: DataFrame) -> DataFrame:
    """Breadth-first hop distances from node 0 over an UNDIRECTED
    ``(src, dst)`` graph → (node, hops), hops = min #edges from the
    source, capped at 4 (unreached nodes are absent).

    Frontier-expansion BFS, the Pregel iteration pattern on DataFrames:
    each round joins the current frontier against the symmetrized edge
    list (equi-join on node id — one shuffle keyed by node), anti-joins
    the visited set to keep only newly discovered nodes, and
    ``localCheckpoint``s so lineage stays O(1) across rounds. Hop counts
    are integers, so the result is exactly reproducible on any engine —
    the oracle is a recursive CTE with the same ≤4 bound.

    Early exit when a frontier comes back empty: the check rides the
    eager checkpoint that materializes the round anyway (no extra job).
    The visited set is node-keyed; web-scale hub skew hits the frontier
    join like any node-keyed shuffle — AQE skew handling applies. The
    hop cap is not an optimization but part of the operator's
    contract (k-hop neighborhoods; unbounded BFS on a crawl graph is a
    different, component-sized question answered by
    ``connected_components_star``).
    """
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(0, 0)], "node long, hops long"
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for h in range(1, 5):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    return dist


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficients of an
    undirected ``(src, dst)`` graph →
    ``(node, deg, n_tri, cc_milli)`` with cc = 2T/(d(d-1)) in exact
    milli (NULL for degree < 2 — cc is undefined there, not zero).

    Same degree-ordered orientation as :func:`triangle_count` (each
    triangle materializes exactly once with its three nodes, wedge
    fan-out bounded by out-degree ≤ O(√m)), then the (x, y, z) triple
    unpivots to its three member nodes for a node-keyed rollup joined
    back to the degree table. Work beyond triangle_count is one
    3×-triangles explode plus a node rollup — same asymptotics."""
    _, deg, tri = _oriented_triangles(edges)
    tri_nodes = (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        )
        .withColumn(
            "cc_milli",
            F.when(F.col("deg") < 2, F.lit(None).cast("long")).otherwise(
                F.expr(
                    "(2000 * n_tri) div (deg * (deg - 1))"
                ).cast("long")
            ),
        )
    )
