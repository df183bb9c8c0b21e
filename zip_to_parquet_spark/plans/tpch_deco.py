"""Decorrelated-subquery TPC-H shapes + scale-side join/agg techniques.

Round-5 additions extending the relational surface (SURVEY.md §2 extension
block; reference scope is the zip CLI in /root/reference/src/builder.rs —
this module is the mandated analytics extension, not reference parity):

* ``q13_order_distribution``  — outer-join double aggregation (TPC-H Q13)
* ``q17_small_qty_revenue``   — per-key scalar-AVG decorrelation (Q17)
* ``q22_idle_balance``        — global scalar subquery + anti join (Q22)
* ``q11_important_share``     — two-level aggregate vs global total (Q11)
* ``agg_bitmap_distinct``     — EXACT distinct via fixed-width bitmaps
* ``join_bloom_prefilter``    — broadcast Bloom runtime filter + exact semi
* ``stats_outlier_zscore``    — exact integer z-score outlier gate

Cross-engine exactness rules follow plans/analytics.py: money in cents
(DECIMAL(12,2)×100 → int), big products as Spark DECIMAL(38,0) vs DuckDB
HUGEINT, doubles only in final displayed ratios (rounded, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.schema import load_table

# Its own statement: the window-policy differ then counts only the keys
# that use D38 as changed by it, not every key that calls load_table.
from zip_to_parquet_spark.schema import D38  # noqa: E402
from zip_to_parquet_spark.schema import cents as _cents


# ---------------------------------------------------------------------------
# TPC-H Q13: customer order-count distribution.
# ---------------------------------------------------------------------------
@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed 0, 1, 2, … qualifying orders.

    The join-condition predicate on the NULL-producing side is the Q13
    trap: filtering orders BEFORE the left-outer join is the equivalent
    (and pushdown-friendly) plan — customers with no qualifying orders
    survive with c_count = 0 either way.

    Scale shape: the orders-side filter pushes to the parquet scan, the
    outer join shuffles on custkey (both sides pre-projected to 1-2
    columns), the first aggregate reuses the join's hash partitioning
    (no extra shuffle under AQE), and the second aggregate shuffles a
    handful of (c_count, partial) rows. No broadcast needed: both sides
    are fact-sized, so this is the one legitimately shuffled join here.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17: small-quantity-order revenue (per-part scalar AVG subquery).
# ---------------------------------------------------------------------------
@query(
    "q17_small_qty_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pq_partkey,
             count(*)::BIGINT AS pq_cnt,
             sum(l_quantity::BIGINT) AS pq_sum
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / 7.0, 4)
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq ON pq_partkey = l_partkey
    WHERE p_brand = 'Brand#11'
      AND l_quantity::BIGINT * 5 * pq_cnt < pq_sum
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost if small-quantity orders (below 20% of the
    part's average order quantity) were not filled, for one brand.

    The correlated ``l_quantity < 0.2 * (SELECT avg(...) WHERE same
    part)`` is decorrelated by hand into a per-part (count, sum)
    aggregate joined back on partkey — and the fractional-average
    comparison is rewritten EXACTLY over integers:
        qty < 0.2 * sum/cnt   ⟺   qty * 5 * cnt < sum
    so no engine-specific double division can flip a boundary row.

    Scale shape: the brand filter selects ~1/25 of parts; that key set
    broadcasts and semi-prunes lineitem BEFORE the per-part aggregate,
    so the heavy agg runs over the pruned fact, not the full table.
    One broadcast + one partkey shuffle; single-row output.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    # Prune the fact to the brand's parts before aggregating per part —
    # the per-part (cnt, sum) is only needed for surviving parts.
    li_b = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey).drop(
        "p_partkey"
    )
    pq = li_b.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("pq_cnt"), F.sum("qty").alias("pq_sum")
    )
    return (
        li_b.join(pq, "l_partkey")
        .filter(F.col("qty") * 5 * F.col("pq_cnt") < F.col("pq_sum"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                .cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22: idle customers with above-average balance (scalar + anti join).
# ---------------------------------------------------------------------------
@query(
    "q22_idle_balance",
    oracle="""
    WITH pos AS (
      SELECT sum((c_acctbal::DECIMAL(12,2) * 100)::BIGINT) AS s,
             count(*)::BIGINT AS c
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           count(*) AS numcust,
           sum((c_acctbal::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
             AS totacctbal_cents
    FROM customer, pos
    WHERE (c_acctbal::DECIMAL(12,2) * 100)::BIGINT * pos.c > pos.s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted to the slim schema: nationkey replaces the phone
    country code, and "has no orders" becomes "has no orders since
    2000-01-01" — in this fixture every customer has SOME order, so the
    literal Q22 anti set is empty and would verify trivially): customers
    with no recent orders whose balance exceeds the average positive
    balance, counted per nation.

    Two decorrelations in one plan: the global scalar AVG becomes a
    1-row (sum, count) aggregate broadcast-cross-joined into the scan
    (compare ``bal*count > sum`` — exact integers, no division), and the
    NOT EXISTS becomes a left-anti join on custkey.

    Scale shape: scalar agg is map-side-combined into one row; the anti
    join is the only fact-fact shuffle (orders pre-projected to the join
    key ONLY — anti joins ship no payload); final agg on a ~25-value key.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", _cents("c_acctbal").alias("bal_cents")
    )
    pos = (
        cust.filter(F.col("bal_cents") > 0)
        .agg(F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    orders_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("c") > F.col("s"))
        .join(
            orders_keys,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q11: parts whose revenue share beats a global threshold.
# ---------------------------------------------------------------------------
@query(
    "q11_important_share",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             sum(((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT
                  * l_quantity::BIGINT)::HUGEINT) AS pv_val
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey < 13
      GROUP BY l_partkey
    ),
    tot AS (SELECT sum(pv_val) AS tv, count(*)::HUGEINT AS np FROM pv)
    SELECT l_partkey, pv_val::BIGINT AS value_qty_cents
    FROM pv, tot
    WHERE pv_val * np > tv * 2
    """,
)
def q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: no partsupp fixture, so "stock value" is
    price×quantity revenue from suppliers of a nation band): parts whose
    value exceeds 2× the average part value — the HAVING-vs-global-scalar
    shape, threshold expressed scale-independently as a multiple of the
    average so the selectivity survives any SF.

    Exactness: value accumulates as DECIMAL(38,0) cents·qty (DuckDB
    HUGEINT); the share test ``pv·np > tv·2`` is pure 128-bit integer
    math — no fractions. Output re-narrows to BIGINT (fits: per-part
    value ≪ 9.2e18 at any plausible per-part row count).

    Scale shape: supplier side broadcasts (dim), per-part agg is one
    fact shuffle, the global total is a 1-row broadcast cross join back
    onto the per-part aggregate (partkey-cardinality, already small
    relative to the fact).
    """
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 13)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (_cents("l_extendedprice") * F.col("l_quantity").cast("long"))
        .cast(D38)
        .alias("val"),
    )
    pv = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("val").cast(D38).alias("pv_val"))
    )
    tot = pv.agg(
        F.sum("pv_val").cast(D38).alias("tv"),
        F.count(F.lit(1)).cast(D38).alias("np"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("pv_val") * F.col("np") > F.col("tv") * 2)
        .select("l_partkey", F.col("pv_val").cast("long").alias("value_qty_cents"))
    )


# ---------------------------------------------------------------------------
# Exact distinct counting via fixed-width bitmaps (no OpenHashSet state).
# ---------------------------------------------------------------------------
@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_orderkey) AS distinct_orders
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT count-distinct computed as bitmap aggregation: keys map to
    (bucket, bit-position); per (group, bucket) a fixed 4 KiB bitmap ORs
    map-side, then per group the bucket popcounts sum.

    Why this beats ``count(distinct)`` at 100 TB: Spark plans
    ``count(distinct)`` as a two-phase Expand/regroup whose first-phase
    state is a per-group hash set of the raw keys — memory ∝ distinct
    keys. The bitmap shuffle ships at most one 4 KiB value per (group,
    bucket) REGARDLESS of row count, ORs are associative/commutative
    (perfect partial aggregation), and popcount is free. Dense integer
    key spaces (orderkeys, user ids) are exactly where this wins.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.bitmap_bucket_number(F.col("l_orderkey")).alias("bucket"),
        F.bitmap_bit_position(F.col("l_orderkey")).alias("pos"),
    )
    per_bucket = li.groupBy("l_returnflag", "bucket").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("distinct_orders")
    )


# ---------------------------------------------------------------------------
# Broadcast Bloom runtime filter ahead of an exact semi join.
# ---------------------------------------------------------------------------
_BLOOM_BITS = 1 << 16  # 8 KiB filter — size is FIXED, independent of data
_BLOOM_SEEDS = (0xA5, 0x5A17, 0x3C0B)


def bloom_build_words(keys: DataFrame, key_col: str) -> list[int]:
    """Distributed Bloom-filter assembly: k seeded xxhash64 bit positions
    per key, OR-combined into 64-bit words, collected as a fixed
    ``_BLOOM_BITS/64``-long array (bounded by filter geometry, never by
    data)."""
    m = F.lit(_BLOOM_BITS)
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), m)
                    for seed in _BLOOM_SEEDS
                ]
            )
        ).alias("pos")
    )
    # SQL expr: the Python shiftleft() helper only takes a literal shift
    # amount; the SQL function accepts a column.
    words = (
        positions.selectExpr(
            "CAST(pos / 64 AS BIGINT) AS word_idx",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS bit",
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()  # ≤ _BLOOM_BITS/64 = 1024 rows, fixed geometry bound
    )
    arr = [0] * (_BLOOM_BITS // 64)
    for row in words:
        arr[int(row["word_idx"])] = int(row["word"])
    return arr


def bloom_member(key, arr: list[int]):
    """Column predicate: does ``key`` pass the filter ``arr``? Guaranteed
    True for every key the filter was built from (no false negatives)."""
    m = F.lit(_BLOOM_BITS)
    # Explicit array<long>: F.lit infers array<int> when every word fits
    # 32 bits (e.g. the empty-build all-zeros filter), and getbit then
    # rejects positions >= 32 — the fixture only avoided this because
    # random 64-bit words forced bigint inference (caught by the
    # empty-build edge test).
    bloom = F.lit(arr).cast("array<long>")
    checks = []
    for seed in _BLOOM_SEEDS:
        pos = F.pmod(F.xxhash64(key, F.lit(seed)), m)
        word = F.element_at(bloom, (pos / 64).cast("int") + 1)
        # getbit accepts a column bit position (the shiftleft/right
        # Python helpers only take literal shift amounts).
        checks.append(F.getbit(word, (pos % 64).cast("int")) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l_suppkey,
           sum((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
             AS revenue_cents
    FROM lineitem
    WHERE l_suppkey IN
          (SELECT s_suppkey FROM supplier WHERE s_nationkey < 13)
    GROUP BY l_suppkey
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join revenue rollup with a hand-built broadcast Bloom filter
    applied at the fact scan — the runtime-filter pattern Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter`` applies, made explicit.

    Plan: (1) build side (suppliers of a nation band) hashes each key
    with 3 seeded xxhash64s into a 2^16-bit filter, assembled
    DISTRIBUTEDLY as per-64-bit-word ``bit_or`` partials; (2) the ≤1024
    words collect to the driver (BOUNDED by the filter geometry, never
    by data size) and re-enter the plan as an array literal; (3) the
    probe scan drops non-members before the shuffle; (4) the exact
    left-semi join removes Bloom false positives, so the result is
    exactly the semi join — the filter only sheds shuffle volume.

    At 100 TB the probe side is the dominant cost; a ~50%-selective key
    filter applied pre-shuffle halves shuffle I/O for 8 KiB of broadcast
    state. False-positive rate at m=2^16, k=3 stays <1% up to ~4k build
    keys; beyond that, widen m (still O(KiB)) — correctness never
    depends on it.
    """
    build = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 13)
        .select("s_suppkey")
    )
    arr = bloom_build_words(build, "s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", _cents("l_extendedprice").alias("rev_cents")
    )
    return (
        li.filter(bloom_member(F.col("l_suppkey"), arr))  # sheds pre-shuffle
        .join(F.broadcast(build), li.l_suppkey == build.s_suppkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("rev_cents").alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# Exact integer z-score outlier gate (no float mean/stddev in the filter).
# ---------------------------------------------------------------------------
@query(
    "stats_outlier_zscore",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             ((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::HUGEINT AS xc
      FROM lineitem
    ),
    g AS (
      SELECT l_returnflag,
             count(*)::HUGEINT AS n,
             sum(xc) AS s,
             sum(xc * xc) AS q
      FROM c GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           count(*) AS n_total,
           sum(CASE WHEN (g.n * c.xc - g.s) * (g.n * c.xc - g.s)
                         > 4 * (g.n * g.q - g.s * g.s)
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM c JOIN g USING (l_returnflag)
    GROUP BY c.l_returnflag
    """,
)
def stats_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count |z| > 2 price outliers per return flag with EXACT integer
    arithmetic: the float test (x-μ)² > 4σ² is rewritten over raw
    moments as (n·x − S)² > 4(n·Q − S²) — every term a 128-bit integer
    (Spark DECIMAL(38,0) / DuckDB HUGEINT), so both engines classify
    every boundary row identically; a float mean/stddev version can
    never hash-match across engines.

    Scale shape: one map-side-combined moments pass (3 groups × 3 sums),
    the 3-row stats table broadcast-joins back onto the fact, and the
    outlier count is a second single-shuffle aggregate. Two scans, zero
    wide state — the same one-pass moments trick as stats_corr_exact.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_extendedprice").cast(D38).alias("xc")
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("xc").cast(D38).alias("s"),
        F.sum(F.col("xc") * F.col("xc")).cast(D38).alias("q"),
    )
    dev = F.col("n") * F.col("xc") - F.col("s")
    var4 = (F.col("n") * F.col("q") - F.col("s") * F.col("s")) * 4
    return (
        li.join(F.broadcast(g), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(dev * dev > var4, 1).otherwise(0)).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# ExistenceJoin: EXISTS as a projected flag, not a filter.
# ---------------------------------------------------------------------------
@query(
    "join_existence_mark",
    oracle="""
    SELECT c_nationkey, has_urgent, count(*) AS n_cust
    FROM (
      SELECT c_nationkey,
             EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey
                       AND o_orderpriority = '1-URGENT') AS has_urgent
      FROM customer
    )
    GROUP BY c_nationkey, has_urgent
    """,
)
def join_existence_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS in the SELECT list (a "mark join"): every customer survives,
    annotated with whether they ever placed an urgent order, then counted
    per (nation, flag). Catalyst plans this as an ExistenceJoin — a
    distinct join type from semi/anti (which FILTER; this one PROJECTS
    the existence bit), completing the join-family surface.

    Scale shape: the subquery side is pre-filtered and pre-projected to
    the join key before the exchange (urgent orders only, one column);
    the existence bit adds no payload. One key-partitioned join + one
    26-ish-value aggregate."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "z2ps_cust_mark"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "z2ps_orders_mark"
    )
    return spark.sql(
        """
        SELECT c_nationkey, has_urgent, count(*) AS n_cust
        FROM (
          SELECT c_nationkey,
                 EXISTS (SELECT 1 FROM z2ps_orders_mark
                         WHERE o_custkey = c_custkey
                           AND o_orderpriority = '1-URGENT') AS has_urgent
          FROM z2ps_cust_mark
        )
        GROUP BY c_nationkey, has_urgent
        """
    )


# ---------------------------------------------------------------------------
# Equi-width histogram against broadcast global bounds.
# ---------------------------------------------------------------------------
@query(
    "agg_histogram_equiwidth",
    oracle="""
    WITH b AS (
      SELECT min((o_totalprice::DECIMAL(12,2) * 100)::BIGINT) AS lo,
             max((o_totalprice::DECIMAL(12,2) * 100)::BIGINT) AS hi
      FROM orders
    )
    SELECT ((o_totalprice::DECIMAL(12,2) * 100)::BIGINT - lo) * 20
             // (hi - lo + 1)                            AS bucket,
           count(*)                                      AS n_orders,
           min(o_totalprice)                             AS lo_price,
           max(o_totalprice)                             AS hi_price
    FROM orders, b
    GROUP BY bucket
    """,
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of order value. The global (min,
    max) bounds come from a 1-row aggregate broadcast-cross-joined into
    the scan; bucket assignment is PURE INTEGER math over cents —
    ``(x−lo)·20 div (hi−lo+1)`` — so no float width can put a boundary
    value in different buckets across engines (the +1 also pins x=hi
    into bucket 19 without a special case).

    Scale shape: two passes over the fact (bounds, then bucket counts),
    both map-side combined; the histogram shuffle carries ≤20 groups.
    The same plan computes any approximate-quantile-free histogram at
    100 TB — bounds broadcast, never collected per-row."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", _cents("o_totalprice").alias("price_cents")
    )
    bounds = orders.agg(
        F.min("price_cents").alias("lo"), F.max("price_cents").alias("hi")
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        # `div` is integer division on longs (Spark's `/` — like DuckDB's
        # `/` — is float division; the oracle uses `//` to match).
        .withColumn(
            "bucket",
            F.expr("((price_cents - lo) * 20) div (hi - lo + 1)"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
        )
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM).
# ---------------------------------------------------------------------------
@query(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT nullif(o_orderpriority, '5-LOW') AS pri_key,
             (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS cents
      FROM orders
    ),
    d AS (SELECT DISTINCT pri_key FROM l)
    SELECT d.pri_key, count(*) AS n_orders,
           sum(l.cents)::BIGINT AS total_cents
    FROM l JOIN d ON l.pri_key IS NOT DISTINCT FROM d.pri_key
    GROUP BY d.pri_key
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: the fixture has no NULL keys, so one is
    derived deterministically (``nullif(priority, '5-LOW')``) and joined
    back to its distinct dimension with ``<=>`` — a plain ``=`` join
    silently LOSES the whole NULL group (NULL = NULL is NULL); the
    null-safe operator keeps it, and the per-key totals prove it.

    Scale note: ``<=>`` stays a hash-joinable equi-condition (NULL
    becomes an ordinary key value), so the plan is the same broadcast
    hash join as any dim join — unlike the OR-of-IS-NULL rewrite, which
    degenerates to a nested-loop join.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pri_key"),
        _cents("o_totalprice").alias("cents"),
    )
    dim = orders.select("pri_key").distinct()
    return (
        orders.alias("l")
        .join(
            F.broadcast(dim.alias("d")),
            F.col("l.pri_key").eqNullSafe(F.col("d.pri_key")),
        )
        .groupBy(F.col("d.pri_key").alias("pri_key"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("l.cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed global ranking without a single-partition window.
# ---------------------------------------------------------------------------
@query(
    "global_rank_two_pass",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
             AS global_rank
    FROM orders
    """,
)
def global_rank_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row numbers over the full table WITHOUT the
    naive plan (``row_number() OVER (ORDER BY …)`` with no PARTITION BY
    collapses the entire dataset onto ONE task — the canonical
    scale-killer). Two-pass range-partitioned ranking instead:

    1. bucket rows by a MONOTONIC range key (16 integer equi-width
       buckets over price cents against broadcast global bounds —
       deterministic, unlike ``repartitionByRange``'s sampled
       boundaries, which can land differently between the offsets job
       and the final job and mis-shift every rank; ties in price always
       share a bucket, preserving range contiguity);
    2. per-bucket ``row_number`` (window PARTITIONED by the bucket id —
       parallel, state bounded per bucket);
    3. per-bucket counts (a bucket-count-sized result, bounded by the
       chosen geometry not by data) collect to the driver, prefix-sum
       to offsets in global (price DESC) order, and broadcast back;
       global_rank = offset + local rank.

    Production variant: ``repartitionByRange(...).persist()`` reuses one
    sampled partitioning for both passes (balanced but cached); exact
    broadcast bounds are used here so the plan is deterministic without
    caching. Either way the ranks depend only on the total order and
    range contiguity.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", _cents("o_totalprice").alias("cents")
    )
    n_parts = 16
    bounds = orders.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    ranged = orders.crossJoin(F.broadcast(bounds)).withColumn(
        "pid", F.expr(f"((cents - lo) * {n_parts}) div (hi - lo + 1)")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("pid").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    local = ranged.withColumn("local_rank", F.row_number().over(w))
    counts = sorted(
        (
            (r["pid"], r["n"])
            for r in local.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        reverse=True,  # global order is price DESC → highest bucket first
    )  # ≤ n_parts rows — bounded by bucket count, never by data
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    off_df = F.broadcast(
        local.sparkSession.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off long"
        )
    )
    return (
        local.join(off_df, "pid")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("off") + F.col("local_rank")).alias("global_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-bucketed neighbor join (spatial binning instead of all-pairs range).
# ---------------------------------------------------------------------------
_GRID_EPS = 20_000  # 0.02 in integer micro-units; cell size == eps


@query(
    "spatial_grid_neighbors",
    oracle=f"""
    WITH p AS (
      SELECT vec_id,
             floor(embedding[1]::DOUBLE * 1000000)::BIGINT + 1000000 AS x,
             floor(embedding[2]::DOUBLE * 1000000)::BIGINT + 1000000 AS y
      FROM embeddings
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM p a JOIN p b
      ON a.vec_id < b.vec_id
     AND abs(a.x - b.x) < {_GRID_EPS}
     AND abs(a.y - b.y) < {_GRID_EPS}
    """,
)
def spatial_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within an L∞ radius over a 2-D slice of the
    embedding space, found by GRID BINNING: each point keys to an
    ε-sized cell; one side replicates into its 3×3 neighborhood; a
    plain equi-join on cell ids yields candidates; the exact distance
    predicate verifies. The oracle is the quadratic self-join — fine
    for DuckDB at test scale, exactly what the grid plan avoids.

    Coordinates quantize to integer micro-units (floor(x·1e6), offset
    positive so integer div == floor) — the cell assignment and the
    distance test are pure integer math in both engines.

    Scale shape: this is THE spatial-join pattern (and the geohash /
    H3 bucketing pattern): candidate volume is density-bounded per
    cell, the join is an equi-shuffle on cell ids (9× replication of
    one side, constant factor), and no all-pairs comparison exists
    anywhere. A skewed hot cell is handled like any skewed join key
    (salting/AQE) — the plan stays equi-join-shaped."""
    eps = _GRID_EPS
    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        (
            F.floor(F.element_at("embedding", 1).cast("double") * 1000000)
            .cast("long")
            + 1000000
        ).alias("x"),
        (
            F.floor(F.element_at("embedding", 2).cast("double") * 1000000)
            .cast("long")
            + 1000000
        ).alias("y"),
    )
    a = pts.select(
        F.col("vec_id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.expr(f"x div {eps}").alias("cx"),
        F.expr(f"y div {eps}").alias("cy"),
    )
    b = (
        pts.select(
            F.col("vec_id").alias("b_id"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.expr(f"x div {eps}").alias("bcx"),
            F.expr(f"y div {eps}").alias("bcy"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "b_id",
            "bx",
            "by",
            (F.col("bcx") + F.col("dx")).alias("cx"),
            (F.col("bcy") + F.col("dy")).alias("cy"),
        )
    )
    return (
        a.join(b, ["cx", "cy"])  # equi-join on cell ids — never all-pairs
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("ax") - F.col("bx")) < eps)
            & (F.abs(F.col("ay") - F.col("by")) < eps)
        )
        .select("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# Exact per-group mode with deterministic tiebreak.
# ---------------------------------------------------------------------------
@query(
    "agg_mode_exact",
    oracle="""
    SELECT l_returnflag, mode_qty, mode_count FROM (
      SELECT l_returnflag,
             l_quantity::BIGINT AS mode_qty,
             count(*) AS mode_count,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY count(*) DESC, l_quantity::BIGINT
             ) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity::BIGINT
    ) WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent quantity per return flag with a DETERMINISTIC
    tiebreak (highest count, then smallest value) — Spark's `mode()`
    aggregate is tie-nondeterministic, so the portable plan is
    count-per-(group, value) + a rank-1 window over the value-distinct
    counts. The window partitions on the group key and orders a
    value-cardinality-sized set (≤50 quantities here), never raw rows.

    Scale shape: one map-combinable shuffle to (group, value) counts —
    cardinality = |groups|·|values|, data-independent — then a window
    over that tiny set. The raw fact never hits a window."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("mode_qty")
    )
    counts = li.groupBy("l_returnflag", "mode_qty").agg(
        F.count(F.lit(1)).alias("mode_count")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("mode_count").desc(), F.col("mode_qty")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_qty", "mode_count")
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis report (the measurement before salting).
# ---------------------------------------------------------------------------
@query(
    "skew_diagnosis_report",
    oracle="""
    WITH f AS (
      SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
    ),
    freq AS (
      SELECT key_col, k, count(*) AS c FROM f GROUP BY key_col, k
    )
    SELECT key_col,
           count(*)                     AS n_keys,
           sum(c)::BIGINT               AS n_rows,
           max(c)                       AS max_freq,
           (max(c) * count(*) * 1000000 // sum(c))::BIGINT AS skew_micro
    FROM freq GROUP BY key_col
    """,
)
def skew_diagnosis_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis over the three lineitem join keys: key
    cardinality, hottest-key frequency, and the skew ratio
    max_freq/mean_freq in exact integer MICRO units
    (``max·n_keys·1e6 div total`` — no float division). This is the
    measurement a pipeline runs BEFORE choosing salting / AQE skew-join
    thresholds; a ratio near 1e6 means uniform, orders of magnitude
    above means a hot key.

    Scale shape: one unioned scan (three projections of the same fact),
    one map-combinable (col, key) count shuffle, then a 3-row rollup.
    The frequency table is key-cardinality-sized; nothing is collected.
    """
    li = load_table(spark, sf_dir, "lineitem")
    f = None
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        part = li.select(
            F.lit(col).alias("key_col"), F.col(col).alias("k")
        )
        f = part if f is None else f.unionByName(part)
    freq = f.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("key_col").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_freq"),
        F.expr("max(c) * count(*) * 1000000 div sum(c)").alias("skew_micro"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap join via hour-bucket decomposition + reference-bucket dedup.
# ---------------------------------------------------------------------------
_HOUR_US = 3_600_000_000


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT a.day AS day, a.user_id AS a_user, b.user_id AS b_user,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
     AND a.s <= b.e AND b.s <= a.e
     AND least(a.e, b.e) - greatest(a.s, b.s) >= {_HOUR_US}
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (pairs of users whose same-day
    purchase-activity spans overlap by ≥1 hour) — the join shape range
    and as-of joins DON'T cover: both sides are intervals. The scale
    plan is bucket decomposition: each interval replicates into the
    hour buckets it covers (≤24 per day-bounded interval), candidates
    come from a plain equi-join on (day, hour-bucket), and the
    REFERENCE-BUCKET rule — count a pair only in the bucket holding
    ``greatest(a.start, b.start)`` — deduplicates pairs that share
    several buckets without a distinct(). All µs arithmetic is integer.

    Scale shape: candidate volume is density-bounded per (day, hour)
    cell, the join is an equi-shuffle, replication is a ≤24× constant —
    versus the quadratic per-day self-join the oracle runs. Same
    pattern at any granularity: pick the bucket width near the median
    interval length.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    iv = (
        ev.groupBy(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
        .withColumn("h0", F.expr(f"s div {_HOUR_US}"))
        .withColumn("h1", F.expr(f"e div {_HOUR_US}"))
    )

    def spread_buckets(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("day").alias(f"{side}_day"),
            F.col("user_id").alias(f"{side}_user"),
            F.col("s").alias(f"{side}_s"),
            F.col("e").alias(f"{side}_e"),
            F.col("h0").alias(f"{side}_h0"),
            F.explode(F.sequence("h0", "h1")).alias("bucket"),
        )

    a = spread_buckets(iv, "a")
    b = spread_buckets(iv, "b")
    overlap = F.least(F.col("a_e"), F.col("b_e")) - F.greatest(
        F.col("a_s"), F.col("b_s")
    )
    return (
        a.join(b, ["bucket"])
        .filter(
            (F.col("a_day") == F.col("b_day"))
            & (F.col("a_user") < F.col("b_user"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e"))
            & (overlap >= _HOUR_US)
            # Reference-bucket rule: emit the pair only from the bucket
            # that contains the later interval start.
            & (F.col("bucket") == F.greatest(F.col("a_h0"), F.col("b_h0")))
        )
        .select(
            F.col("a_day").alias("day"),
            F.col("a_user").alias("a_user"),
            F.col("b_user").alias("b_user"),
            overlap.alias("overlap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto skyline (maximize price, maximize recency) via bucket dominance
# pruning + candidate-bounded sweep.
# ---------------------------------------------------------------------------
@query(
    "skyline_orders_pareto",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS price_cents,
             epoch_us(o_orderdate) AS date_us
      FROM orders
    )
    SELECT a.o_orderkey, a.price_cents, a.date_us
    FROM o a
    WHERE NOT EXISTS (
      SELECT 1 FROM o b
      WHERE b.price_cents >= a.price_cents AND b.date_us >= a.date_us
        AND (b.price_cents > a.price_cents OR b.date_us > a.date_us)
    )
    """,
)
def skyline_orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline: orders no other order beats on BOTH price and
    recency (strictly on at least one). The oracle is the textbook
    NOT-EXISTS dominance query — quadratic, exactly what this plan
    avoids:

    1. PRUNE: points bucket by price (16 disjoint integer equi-width
       ranges on broadcast bounds — every point in a higher bucket has
       strictly greater price); the 16 per-bucket date maxima collect
       (geometry-bounded) and re-enter as a literal suffix-maxima array.
       A point dominated by ANY higher bucket's max date drops
       map-side — expected survivors are O(buckets + skyline).
    2. SWEEP: per-price date maxima of the survivors, one ordered window
       over the candidate-distinct-price table (bounded by the pruned
       candidate cardinality, NOT the input — the prune is what makes
       this single-partition window admissible), keeping prices whose
       max date beats every strictly-higher price's running max; ties on
       (price, date) all survive (neither dominates).
    """
    from pyspark.sql.window import Window

    n_b = 16
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents("o_totalprice").alias("price_cents"),
        # o_orderdate arrives TIMESTAMP_NTZ; reinterpret the wall clock
        # as UTC (load_table pins the session to UTC — same contract as
        # the events.ts path) so unix_micros matches DuckDB's epoch_us.
        F.unix_micros(
            F.to_utc_timestamp(F.col("o_orderdate"), "UTC")
        ).alias("date_us"),
    )
    bounds = o.agg(
        F.min("price_cents").alias("lo"), F.max("price_cents").alias("hi")
    )
    ob = o.crossJoin(F.broadcast(bounds)).withColumn(
        "bkt", F.expr(f"((price_cents - lo) * {n_b}) div (hi - lo + 1)")
    )
    maxima = {
        int(r["bkt"]): int(r["d"])
        for r in ob.groupBy("bkt").agg(F.max("date_us").alias("d")).collect()
    }  # ≤ n_b rows — bounded by bucket count
    suffix = [-1] * n_b  # suffix[i] = max date over buckets > i
    run = -1
    for i in range(n_b - 1, -1, -1):
        suffix[i] = run
        run = max(run, maxima.get(i, -1))
    cand = ob.filter(
        F.col("date_us") > F.element_at(F.lit(suffix), F.col("bkt").cast("int") + 1)
    )
    perp = cand.groupBy("price_cents").agg(F.max("date_us").alias("pd"))
    w = (
        Window.orderBy(F.col("price_cents").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky_p = perp.withColumn("prev_max", F.max("pd").over(w)).filter(
        F.col("prev_max").isNull() | (F.col("pd") > F.col("prev_max"))
    )
    return (
        cand.join(F.broadcast(sky_p), "price_cents")
        .filter(F.col("date_us") == F.col("pd"))
        .select("o_orderkey", "price_cents", "date_us")
    )


# ---------------------------------------------------------------------------
# Robust outliers: median absolute deviation gate.
# ---------------------------------------------------------------------------
@query(
    "stats_outlier_mad",
    oracle="""
    WITH c AS (
      SELECT event_type, (value::DECIMAL(12,2) * 100)::BIGINT AS x
      FROM events
    ),
    m1 AS (
      SELECT event_type, quantile_cont(x, 0.5) AS med FROM c GROUP BY 1
    ),
    d AS (
      SELECT c.event_type, c.x, abs(c.x - m1.med) AS dev
      FROM c JOIN m1 USING (event_type)
    ),
    m2 AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1
    )
    SELECT d.event_type,
           max(m1.med) AS med_cents,
           max(m2.mad) AS mad_cents,
           count(*) AS n_total,
           sum(CASE WHEN d.dev > 3 * m2.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers
    FROM d JOIN m1 USING (event_type) JOIN m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def stats_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate per event type: |x − median| > 3·MAD, the
    median-absolute-deviation rule that — unlike the z-score gate —
    a few extreme values cannot drag (mean and stddev are both
    outlier-sensitive; medians are not). Values quantize to integer
    cents; both medians are exact interpolated percentiles whose only
    non-integer form is k.5 — exact in a double — so every comparison
    is deterministic cross-engine.

    Scale shape: two percentile aggregates (Spark's percentile() is a
    single-pass per-group aggregate) with the tiny (≤5-row) median
    tables broadcast back between them; the gate pass is the third and
    final scan. Medians don't map-side-combine the way moments do —
    the honest price of robustness (or swap in approx_percentile once
    exactness stops being the contract)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("x")
    )
    m1 = ev.groupBy("event_type").agg(
        F.expr("percentile(x, 0.5)").alias("med")
    )
    d = ev.join(F.broadcast(m1), "event_type").withColumn(
        "dev", F.abs(F.col("x") - F.col("med"))
    )
    m2 = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        d.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch set algebra: KMV union + inclusion-exclusion intersect.
# ---------------------------------------------------------------------------
@query(
    "sketch_set_algebra",
    oracle="""
    WITH ha AS (
      SELECT DISTINCT md5_number_lower(l_orderkey::VARCHAR)
               % 281474976710656 AS hv
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    hb AS (
      SELECT DISTINCT md5_number_lower(l_orderkey::VARCHAR)
               % 281474976710656 AS hv
      FROM lineitem WHERE l_returnflag = 'A'
    ),
    ka AS (SELECT hv FROM ha ORDER BY hv LIMIT 256),
    kb AS (SELECT hv FROM hb ORDER BY hv LIMIT 256),
    ku AS (SELECT hv FROM (SELECT hv FROM ka UNION SELECT hv FROM kb)
           ORDER BY hv LIMIT 256),
    ea AS (SELECT CAST((count(*) - 1) * 281474976710656 // max(hv) AS BIGINT)
             AS est FROM ka),
    eb AS (SELECT CAST((count(*) - 1) * 281474976710656 // max(hv) AS BIGINT)
             AS est FROM kb),
    eu AS (SELECT CAST((count(*) - 1) * 281474976710656 // max(hv) AS BIGINT)
             AS est FROM ku)
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           ea.est + eb.est - eu.est AS est_intersect,
           (SELECT count(DISTINCT l_orderkey) FROM lineitem
             WHERE l_returnflag IN ('R', 'A')) AS exact_union
    FROM ea, eb, eu
    """,
)
def sketch_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches DISTRIBUTED data structures:
    mergeability. Two KMV sketches (256 smallest md5-low-48 hashes of
    the 'R' and 'A' orderkey sets) merge by re-selecting the 256
    smallest of their union — a k-sized operation independent of set
    sizes — estimating |A∪B|; |A∩B| follows by inclusion-exclusion.
    Every step is exact integer arithmetic on deterministic hashes, so
    this approximation family carries a FULL value oracle (the exact
    union rides along to show the error in-plan).

    Scale shape: per-set hash+distinct shuffles, TakeOrdered k-smallest
    (per-partition top-k, k-sized driver merge), and the merge itself
    touches 512 rows. This is precisely how per-partition /
    per-day sketches roll up at 100 TB without rescanning history."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql

    li = load_table(spark, sf_dir, "lineitem")

    def kmv(flag: str):
        return (
            li.filter(F.col("l_returnflag") == flag)
            .select(
                F.expr(
                    md5_low_bytes_sql("cast(l_orderkey as string)", 6)
                ).alias("hv")
            )
            .distinct()
            .orderBy("hv")
            .limit(256)
        )

    ka, kb = kmv("R"), kmv("A")
    ku = ka.union(kb).distinct().orderBy("hv").limit(256)

    def est(k, name):
        return k.agg(
            F.expr("(count(*) - 1) * 281474976710656L div max(hv)")
            .cast("long")
            .alias(name)
        )

    exact = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .agg(F.countDistinct("l_orderkey").alias("exact_union"))
    )
    return (
        est(ka, "est_a")
        .crossJoin(F.broadcast(est(kb, "est_b")))
        .crossJoin(F.broadcast(est(ku, "est_union")))
        .withColumn(
            "est_intersect",
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        )
        .crossJoin(F.broadcast(exact))
    )


# ---------------------------------------------------------------------------
# Point-in-time (PIT) join against a versioned SCD2-style dimension.
# ---------------------------------------------------------------------------
@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_nationkey AS nat,
             TIMESTAMP '1000-01-01' AS vfrom, TIMESTAMP '1997-01-01' AS vto
      FROM customer
      UNION ALL
      SELECT c_custkey,
             (c_nationkey + CASE WHEN c_custkey % 7 = 3 THEN 1 ELSE 0 END)
               % 25,
             TIMESTAMP '1997-01-01', TIMESTAMP '1999-06-01'
      FROM customer
      UNION ALL
      SELECT c_custkey,
             (c_nationkey + CASE WHEN c_custkey % 7 = 3 THEN 1 ELSE 0 END
                          + CASE WHEN c_custkey % 5 = 1 THEN 2 ELSE 0 END)
               % 25,
             TIMESTAMP '1999-06-01', TIMESTAMP '3000-01-01'
      FROM customer
    )
    SELECT dim.nat AS effective_nationkey,
           count(*) AS n_orders,
           sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
             AS revenue_cents
    FROM orders
    JOIN dim ON dim.c_custkey = o_custkey
            AND o_orderdate >= dim.vfrom AND o_orderdate < dim.vto
    GROUP BY dim.nat
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every order joins the dimension VERSION that
    was valid on its order date (a deterministic 3-version SCD2-style
    customer history with id-mod attribute drift) — the lookup that
    makes SCD2 histories queryable, and the classic
    training-data-leakage guard (feature stores call it an as-of/PIT
    join: never join tomorrow's dimension onto today's fact).

    Scale shape: the join is an EQUI-join on the id with the validity
    range as a post-join filter — correct because versions-per-id is
    small and bounded (the SCD2 invariant), so the range predicate
    prunes ≤2 of 3 candidate rows per match. Never a blind range join:
    the id equi-key keeps it hash-partitioned. One shuffle + a ≤25-row
    rollup."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    ts = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    v1 = cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("nat"),
        ts("1000-01-01").alias("vfrom"),
        ts("1997-01-01").alias("vto"),
    )
    drift1 = F.when(F.col("c_custkey") % 7 == 3, 1).otherwise(0)
    drift2 = F.when(F.col("c_custkey") % 5 == 1, 2).otherwise(0)
    v2 = cust.select(
        "c_custkey",
        ((F.col("c_nationkey") + drift1) % 25).alias("nat"),
        ts("1997-01-01").alias("vfrom"),
        ts("1999-06-01").alias("vto"),
    )
    v3 = cust.select(
        "c_custkey",
        ((F.col("c_nationkey") + drift1 + drift2) % 25).alias("nat"),
        ts("1999-06-01").alias("vfrom"),
        ts("3000-01-01").alias("vto"),
    )
    dim = v1.unionByName(v2).unionByName(v3)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .filter(
            (F.col("o_orderdate") >= F.col("vfrom"))
            & (F.col("o_orderdate") < F.col("vto"))
        )
        .groupBy(F.col("nat").alias("effective_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution on read (mergeSchema across parquet file generations).
# ---------------------------------------------------------------------------
@query(
    "scan_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                ELSE '<pre-evolution>' END          AS priority,
           count(*)                                 AS n_orders,
           sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
                                                    AS revenue_cents
    FROM orders
    GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: half the orders are written as an
    OLD-generation parquet file set (no priority column), half as a
    NEW-generation set (priority added); one ``mergeSchema`` scan reads
    both generations, with the old rows surfacing NULL for the added
    column — exactly how a long-lived 100 TB table accretes columns
    without rewriting history. The aggregate buckets old rows under a
    sentinel so the evolution semantics themselves are value-checked
    (the oracle replays the generation split from the source table).

    Scale note: mergeSchema schema inference reads every file's FOOTER
    at planning time — fine per-batch, expensive across millions of
    files; production pins the merged schema explicitly (or uses a
    table format's schema log) once it stabilizes. The scan itself
    stays an ordinary parallel parquet read with pruning intact."""
    from zip_to_parquet_spark.runtime import session_scratch

    path = session_scratch(spark, "z2ps_evolve", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.filter(F.col("o_orderkey") % 2 == 0).drop(
        "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{path}/gen=old")
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=new")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return (
        merged.select(
            F.coalesce(
                F.col("o_orderpriority"), F.lit("<pre-evolution>")
            ).alias("priority"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling WITHOUT replacement (Efraimidis-Spirakis).
# ---------------------------------------------------------------------------
@query(
    "sample_weighted_aes",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             (md5_number_lower(doc_id::VARCHAR) % 281474976710656) AS hv
      FROM documents WHERE n_chars > 0
    ),
    s AS (
      SELECT doc_id, n_chars,
             ln((hv::DOUBLE + 1.0) / 281474976710656.0)
               / n_chars::DOUBLE AS score
      FROM h
    )
    SELECT doc_id, n_chars FROM s
    ORDER BY score DESC, doc_id LIMIT 100
    """,
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis 2006,
    the A-ES one-pass algorithm): each item draws u ∈ (0,1] and keeps
    key u^(1/w); the top-k keys ARE a weighted sample without
    replacement. Used for weighted mixture draws in training-data
    pipelines where rows must not repeat.

    Determinism: u derives from the md5-low-48 hash of the id
    ((h+1)/2^48 — never 0, so ln is finite), and the key compares as
    ln(u)/w (monotone in u^(1/w); one ln per row with the identical
    double expression in both engines). Same-id reruns produce the SAME
    sample — a reproducibility property random.rand sampling can't give.

    Accepted float seam (the idf_micro class from the round-4 advisor
    note): JVM Math.log and DuckDB libm are each ≤1 ulp but not
    guaranteed to round identically, so in principle two docs whose
    scores straddle the rank-k cutoff within ~1 ulp could order
    differently per engine. Adjacent order-statistic gaps here are
    ~1e-4 relative (48-bit uniform hashes over thousands of docs) vs
    1e-16 ulp — no change unless a parity flake ever appears.

    Scale shape: map-only scoring + TakeOrdered partial top-k; no
    shuffle beyond the k-sized merge. Weights here are n_chars (longer
    docs proportionally likelier)."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars")
    )
    hv = F.expr(md5_low_bytes_sql("cast(doc_id as string)", 6))
    score = F.log(
        (hv.cast("double") + F.lit(1.0)) / F.lit(281474976710656.0)
    ) / F.col("n_chars").cast("double")
    return (
        docs.withColumn("score", score)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Exact group-wise linear regression from integer moments.
# ---------------------------------------------------------------------------
@query(
    "stats_groupwise_linreg",
    oracle="""
    WITH m AS (
      SELECT event_type,
             (extract(hour FROM ts))::HUGEINT AS x,
             ((value::DECIMAL(18,2) * 100)::BIGINT)::HUGEINT AS y
      FROM events
    ),
    g AS (
      SELECT event_type,
             count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM m GROUP BY event_type
    )
    SELECT event_type,
           n::BIGINT AS n_rows,
           (n * sxy - sx * sy)::DECIMAL(38,0)::VARCHAR  AS slope_num,
           (n * sxx - sx * sx)::DECIMAL(38,0)::VARCHAR  AS slope_den,
           ((n * sxy - sx * sy) * 1000000
             // (n * sxx - sx * sx))::BIGINT   AS slope_micro
    FROM g
    """,
)
def stats_groupwise_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of event value (cents) against hour-of-day,
    per event type, computed ENTIRELY in integers from the one-pass
    moment sums: slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²), emitted as the
    exact 128-bit numerator/denominator pair plus an integer-div
    micro-slope — no float ever enters, so cross-engine parity is exact
    by construction (the regression sibling of stats_corr_exact's
    moments trick; at 100 TB the same single map-combinable pass fits
    any number of per-group regressions).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast(D38).alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast(D38)
        .alias("y"),
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("x").cast(D38).alias("sx"),
        F.sum("y").cast(D38).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(D38).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast(D38).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        # STRING output: values ~1e20+ exceed float64's 2^53 exact range
        # and the driver's DuckDB→pandas path would round them; a digit
        # string survives every materialization losslessly.
        num.cast(D38).cast("string").alias("slope_num"),
        den.cast(D38).cast("string").alias("slope_den"),
        # nullif: constant x within a group (sxx variance 0) must yield a
        # NULL slope in both engines — DuckDB's //0 is NULL while Spark's
        # ANSI div raises (degenerate_sweep.py finding, r11).
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000"
            " div nullif(n * sxx - sx * sx, 0) as long)"
        ).alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4): parse once, extract many.
# ---------------------------------------------------------------------------
@query(
    "json_variant_shredding",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT
             AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                         % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_even_k
    FROM events
    GROUP BY event_type
    """,
)
def json_variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics via the VARIANT type (new in Spark 4):
    ``parse_json`` decodes each props payload ONCE into the binary
    variant encoding, and every downstream extraction (``variant_get``
    with typed paths) reads the pre-parsed tree — versus
    ``get_json_object``, which re-parses the raw string per call. With
    three extractions per row the parse happens once instead of three
    times; at a 100 TB event stream that multiple is the whole game
    (and storage formats can shred the variant columnarly).

    The oracle reaches the same values through DuckDB's JSON path
    functions — typed extraction parity across two different
    semi-structured engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.sum(F.when(k % 2 == 0, 1).otherwise(0)).alias("n_even_k"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q4: order-priority checking (EXISTS semi-join + count).
# ---------------------------------------------------------------------------
@query(
    "q4_priority_count",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders in a window with at least one lineitem shipped
    after the order date, counted by priority. The correlated EXISTS
    carries a NON-key predicate (l_shipdate > o_orderdate), so it plans
    as a left-semi join whose condition spans both relations — the
    shape where rewriting to IN would be wrong (the comparison needs
    the outer row). Date filter pushes to the orders scan; the semi
    join ships only (l_orderkey, l_shipdate); one 5-value rollup."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10: returned-item reporting (top customers by lost revenue).
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           sum((l.l_extendedprice::DECIMAL(12,2) * 100)::BIGINT
               * (100 - (l.l_discount::DECIMAL(12,2) * 100)::BIGINT))
             ::BIGINT AS revenue_micro
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue_micro DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: the 20 customers who returned the most revenue in a
    half-year window — the classic fact-fact-dim reporting join with a
    top-k. Revenue price·(1−discount) is EXACT integer micro-money
    (cents × discount-complement-in-cents), never a float product.

    Scale shape: the returnflag + date filters push to both fact scans
    before the orderkey shuffle; customer joins on the aggregated
    custkey side; nation broadcasts; the top-20 is TakeOrdered. This is
    the plan AQE re-plans best (the filtered fact often shrinks below
    the broadcast threshold at runtime)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            _cents("l_extendedprice")
            * (F.lit(100) - _cents("l_discount"))
        ).alias("rev_micro"),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("rev_micro").cast("long").alias("revenue_micro"))
        .orderBy(F.col("revenue_micro").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# SQL LATERAL correlated subquery with LIMIT (top-1 per outer row).
# ---------------------------------------------------------------------------
@query(
    "join_lateral_top1",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber, t.cents
    FROM orders o,
    LATERAL (
      SELECT l_linenumber,
             (l_extendedprice::DECIMAL(12,2) * 100)::BIGINT AS cents
      FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY cents DESC, l_linenumber LIMIT 1
    ) t
    """,
)
def join_lateral_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table with ORDER BY + LIMIT: the
    priciest lineitem per order, written the way an analyst writes it —
    and Catalyst DECORRELATES the per-row subquery into a set-based
    plan (window/aggregate over the join) instead of executing one
    query per outer row. The inner ordering carries a deterministic
    tiebreak so the 1-row LIMIT is unambiguous in both engines.

    Scale note: LATERAL is sugar over the groupwise-top-k shape; the
    decorrelated plan shuffles once on the correlation key. Orders with
    no lineitems drop out (inner lateral semantics), mirrored by
    DuckDB's LATERAL."""
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey"
    ).createOrReplaceTempView("z2ps_lat_orders")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).createOrReplaceTempView("z2ps_lat_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.cents
        FROM z2ps_lat_orders o,
        LATERAL (
          SELECT l_linenumber,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                      AS BIGINT) AS cents
          FROM z2ps_lat_lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY cents DESC, l_linenumber LIMIT 1
        ) t
        """
    )
