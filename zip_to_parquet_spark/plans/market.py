"""Business-analytics shapes: time-weighted averages, OHLC bars,
market-basket lift, RFM quantile segmentation, weighted medians, and
chi-square independence cells.

Extension surface beyond the reference CLI (provenance: the reference is
zip→parquet only, /root/reference/src/builder.rs:1-322 — no aggregation
or statistics exist there; SURVEY.md §2's extension block mandates the
analytics family). Cross-engine exactness follows the house rules
(plans/analytics.py, plans/tpch_deco.py): 2-decimal money → integer
cents, durations → integer microseconds/days, ratios → integer
parts-per-million via ``div``, big products → Spark DECIMAL(38,0) vs
DuckDB HUGEINT. No float arithmetic reaches any output column, so every
key here carries a full DuckDB value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zip_to_parquet_spark.operators.stats import (
    quantile_disc_thresholds_multi,
    score_by_threshold_values,
)
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.runtime import spread
from zip_to_parquet_spark.schema import load_table

# Its own statement: the window-policy differ then counts only the keys
# that use D38 as changed by it, not every key that calls load_table.
from zip_to_parquet_spark.schema import D38  # noqa: E402
from zip_to_parquet_spark.schema import cents as _cents


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP-style): value held until the next event.
# ---------------------------------------------------------------------------
@query(
    "events_time_weighted_avg",
    oracle="""
    WITH s AS (
      SELECT user_id,
             (value::DECIMAL(12,2) * 100)::BIGINT AS vc,
             ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
      FROM events
    ),
    seg AS (
      SELECT user_id, vc,
             date_diff('microsecond', ts, nts)::BIGINT AS dt_us
      FROM s WHERE nts IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_segments,
           sum(dt_us)::BIGINT AS total_dt_us,
           (sum(vc::HUGEINT * dt_us) // sum(dt_us)::HUGEINT)::BIGINT
             AS twa_cents
    FROM seg GROUP BY user_id
    HAVING sum(dt_us) > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of ``value``: each reading is held
    until the user's next event, so the weight is the inter-event gap in
    integer microseconds (the TWAP / sensor-rollup semantics — a plain
    ``avg`` over irregular samples is biased toward bursts). The average
    is exact integer division of exact integer sums — cents × µs fits
    DECIMAL(38,0) far beyond 100 TB — so the DuckDB oracle hash-matches.

    Scale shape: ONE user-keyed shuffle for the ``lead`` window (state
    bounded per user), then a map-side-combinable aggregate on the same
    key — AQE coalesces the two stages onto one exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents("value").alias("vc")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.withColumn("nts", F.lead("ts").over(w))
        .filter(F.col("nts").isNotNull())
        .select(
            "user_id",
            "vc",
            (F.unix_micros("nts") - F.unix_micros("ts")).alias("dt_us"),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dt_us").alias("total_dt_us"),
            F.expr(
                f"sum(cast(vc as {D38}) * dt_us) div sum(cast(dt_us as {D38}))"
            ).alias("twa_cents"),
        )
        .filter(F.col("total_dt_us") > 0)
    )


# ---------------------------------------------------------------------------
# OHLC bars (candlestick rollup) per hour × event type.
# ---------------------------------------------------------------------------
# Shared by events_ohlc_bars (batch) and stream_ohlc_bars (Structured
# Streaming, complete mode): two physical engines, ONE hash-verified
# semantics, and one aggregation, _ohlc_bars.
_OHLC_ORACLE = """
    WITH b AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS bar_hour, event_type,
             (value::DECIMAL(12,2) * 100)::BIGINT AS vc, ts, event_id
      FROM events
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY bar_hour, event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY bar_hour, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM b
    )
    SELECT bar_hour, event_type,
           max(CASE WHEN rn_a = 1 THEN vc END)::BIGINT AS open_cents,
           max(vc)::BIGINT AS high_cents,
           min(vc)::BIGINT AS low_cents,
           max(CASE WHEN rn_z = 1 THEN vc END)::BIGINT AS close_cents,
           count(*) AS n_events,
           sum(vc)::BIGINT AS vol_cents
    FROM r GROUP BY bar_hour, event_type
    """


def _ohlc_bars(ev: DataFrame, bar, bar_hour) -> DataFrame:
    """The candlestick aggregates of both OHLC keys over ``ev`` (``ts``,
    ``event_id``, ``event_type``, ``vc``), grouped on (``bar`` aliased
    ``bar``, event type); ``bar_hour`` names the output hour from the
    grouped ``bar``. Each key keeps its own bar: ``date_trunc`` follows
    the session time zone, ``window`` does not. Open/close are
    ``min_by``/``max_by`` over the (ts, event_id) struct, a deterministic
    total order even under timestamp ties."""
    return (
        ev.groupBy(bar.alias("bar"), "event_type")
        .agg(
            F.expr("min_by(vc, struct(ts, event_id))").alias("open_cents"),
            F.max("vc").alias("high_cents"),
            F.min("vc").alias("low_cents"),
            F.expr("max_by(vc, struct(ts, event_id))").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("vol_cents"),
        )
        .select(
            bar_hour.alias("bar_hour"),
            "event_type",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
            "vol_cents",
        )
    )


@query("events_ohlc_bars", oracle=_OHLC_ORACLE)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick (open/high/low/close + volume) bars per hour and event
    type (_ohlc_bars). The oracle states the same open/close selection
    via row_number; both pick the identical row.

    Scale shape: a single groupBy on (hour, type) — map-side combinable
    (min_by/max_by/min/max/sum all have partial merge), ONE shuffle of
    bar-cardinality state, no window over the fact table."""
    ev = load_table(spark, sf_dir, "events").withColumn("vc", _cents("value"))
    return _ohlc_bars(ev, F.date_trunc("hour", "ts"), F.col("bar"))


@query("stream_ohlc_bars", oracle=_OHLC_ORACLE)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME OHLC semantics as events_ohlc_bars, computed by the
    Structured Streaming engine: watermarked event-time tumbling windows
    with min_by/max_by over the (ts, event_id) struct as the
    open/close selectors INSIDE streaming state (declarative aggregates
    merge across micro-batches, so the candlesticks are
    incremental-update-correct, not replay-batch). Complete-mode final
    state over the bounded fixture == the batch answer — identical
    oracle, two engines, one hash.

    Scale shape: state keyed on (window, event_type), store count pinned
    by run_stream_to_memory; the watermark bounds open windows to ~1
    hour per key on an unbounded topic."""
    from zip_to_parquet_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir).withColumn("vc", _cents("value"))
    agg = _ohlc_bars(
        ev.withWatermark("ts", "10 minutes"),
        F.window("ts", "1 hour"),
        F.col("bar.start"),
    )
    return run_stream_to_memory(agg, "complete", "ohlc")


# ---------------------------------------------------------------------------
# Market-basket pair lift (association mining over order baskets).
# ---------------------------------------------------------------------------
@query(
    "basket_pair_lift",
    oracle="""
    WITH po0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    po AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               count(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM po0)
      WHERE bsz <= 256
    ),
    n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM po),
    pc AS (SELECT l_partkey, count(*)::BIGINT AS n_part FROM po GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*)::BIGINT AS n_ab
      FROM po a JOIN po b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_ab,
           pa.n_part AS n_a, pb.n_part AS n_b,
           ((n_ab::HUGEINT * n.n_orders * 1000000)
              // (pa.n_part::HUGEINT * pb.n_part))::BIGINT AS lift_ppm
    FROM pairs
    JOIN pc pa ON pairs.part_a = pa.l_partkey
    JOIN pc pb ON pairs.part_b = pb.l_partkey, n
    WHERE n_ab >= 2
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for every part pair
    co-occurring in ≥2 orders, support counts and lift in integer ppm
    (``lift = P(ab) / (P(a)P(b))`` ⇒ ``n_ab·N·1e6 div (n_a·n_b)`` —
    exact 128-bit integer arithmetic, no float probabilities).

    Scale shape: the pair generation is a self-equi-join ON THE ORDER KEY
    — candidate volume is Σ|basket|², never |parts|² — and |basket| is
    DATA-dependent, so baskets above operators.graph.BASKET_CAP distinct
    parts are dropped before the join (r13, VERDICT r12 finding #1: one
    pathological 10⁶-item bot basket is 5×10¹¹ pairs in a single task;
    a jumbo basket carries ≈0 pairwise-affinity signal, so the cap drops
    only noise — mirrored verbatim in the oracle and in the capped
    order-count/part-frequency denominators, and it never fires on the
    fixtures: max basket 17 at sf0.1, ≤66 pairs/order). The
    part-frequency table is part-dimension-sized (size-aware broadcast),
    and the scalar order count is a broadcast 1-row cross join — the
    house pattern for global denominators."""
    from zip_to_parquet_spark.operators.graph import (
        basket_pair_counts,
        capped_baskets,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    po = capped_baskets(li.distinct())
    n = po.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    pc = po.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    pairs = basket_pair_counts(po)
    pa = pc.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    pb = pc.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    # The part-frequency dim is PART-cardinality (the degree-dim lesson,
    # VERDICT r11 finding #1): force-broadcast only under the bounded
    # size probe, else shuffle-join on the part key.
    from zip_to_parquet_spark.runtime import size_aware_side

    return (
        pairs.join(size_aware_side(pa, pc, 2_000_000), "part_a")
        .join(size_aware_side(pb, pc, 2_000_000), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                f"(cast(n_ab as {D38}) * n_orders * 1000000)"
                f" div (cast(n_a as {D38}) * n_b)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation via distributed exact quartile thresholds.
# ---------------------------------------------------------------------------
def _rfm_threshold_cte(metric: str) -> str:
    """Histogram-cumsum quartile thresholds of one per-customer metric —
    the counting percentile_disc definition mirrored by
    operators/stats.quantile_disc_thresholds."""
    return f"""(
      SELECT k, min(v) AS t
      FROM (
        SELECT v,
               sum(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM (SELECT {metric} AS v, count(*) AS cnt FROM pc GROUP BY 1)
      ), n, (VALUES (1), (2), (3)) ks(k)
      WHERE cum * 4 >= k * n.n
      GROUP BY k
    )"""


@query(
    "customer_rfm_segments",
    oracle=f"""
    WITH ref AS (SELECT max(o_orderdate) AS mx FROM orders),
    pc AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate)::DATE,
                       (SELECT mx FROM ref)::DATE)::BIGINT AS r_days,
             count(*)::BIGINT AS f_orders,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS m_cents
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT count(*)::BIGINT AS n FROM pc),
    rth AS {_rfm_threshold_cte('r_days')},
    fth AS {_rfm_threshold_cte('f_orders')},
    mth AS {_rfm_threshold_cte('m_cents')},
    scored AS (
      SELECT
        1 + (r_days > (SELECT t FROM rth WHERE k = 1))::INT
          + (r_days > (SELECT t FROM rth WHERE k = 2))::INT
          + (r_days > (SELECT t FROM rth WHERE k = 3))::INT AS r_score,
        1 + (f_orders > (SELECT t FROM fth WHERE k = 1))::INT
          + (f_orders > (SELECT t FROM fth WHERE k = 2))::INT
          + (f_orders > (SELECT t FROM fth WHERE k = 3))::INT AS f_score,
        1 + (m_cents > (SELECT t FROM mth WHERE k = 1))::INT
          + (m_cents > (SELECT t FROM mth WHERE k = 2))::INT
          + (m_cents > (SELECT t FROM mth WHERE k = 3))::INT AS m_score,
        m_cents
      FROM pc
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           sum(m_cents)::BIGINT AS m_cents_total
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order,
    against the corpus max date), Frequency (order count), Monetary
    (lifetime spend in cents), each bucketed into exact quartiles, then
    segment sizes and spend per (R,F,M) cell.

    The quartile thresholds come from
    ``operators/stats.quantile_disc_thresholds`` — the two-pass
    range-bucketed histogram cumsum, NOT ``ntile() OVER (ORDER BY …)``
    whose empty PARTITION BY collapses every customer onto one task.
    Thresholds are integer-exact (the smallest value whose ≤-count
    reaches ceil(k·n/4)), so the DuckDB oracle mirrors the definition
    verbatim and hash-matches.

    Scale shape: one custkey shuffle for the per-customer rollup; per
    metric, a value-cardinality histogram + ≤16-row driver prefix sum;
    scoring is a broadcast of nine threshold scalars onto the customer
    table; the final cell rollup has ≤64 groups."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", _cents("o_totalprice").alias("cents")
    )
    ref = orders.agg(F.max("o_orderdate").alias("mx"))
    pc = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_od"),
            F.count(F.lit(1)).alias("f_orders"),
            F.sum("cents").alias("m_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            # datediff is calendar-day based (DATE subtraction) — the same
            # semantics as the oracle's date_diff('day', …::DATE, …::DATE),
            # and cast-safe for the fixture's TIMESTAMP_NTZ orderdate.
            F.datediff(F.to_date("mx"), F.to_date("last_od"))
            .cast("long")
            .alias("r_days"),
            "f_orders",
            "m_cents",
        )
    )
    # The per-customer rollup feeds the shared threshold passes plus the
    # final scoring scan — persist it once (customer-cardinality, 1000×
    # smaller than orders) instead of re-shuffling orders per job. The
    # multi-metric operator computes all nine thresholds in THREE bounded
    # jobs (shared melt/histogram), not three per metric.
    pc = pc.persist()
    th = quantile_disc_thresholds_multi(pc, ["r_days", "f_orders", "m_cents"])
    scored = pc
    for metric, out in (
        ("r_days", "r_score"),
        ("f_orders", "f_score"),
        ("m_cents", "m_score"),
    ):
        scored = score_by_threshold_values(scored, metric, th[metric], out)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("m_cents").alias("m_cents_total"),
    )


# ---------------------------------------------------------------------------
# Weighted median over the (flag, price) histogram.
# ---------------------------------------------------------------------------
@query(
    "stats_weighted_median",
    oracle="""
    WITH h AS (
      SELECT l_returnflag AS flag,
             (l_extendedprice::DECIMAL(12,2) * 100)::BIGINT AS price_cents,
             sum(l_quantity::BIGINT)::BIGINT AS w
      FROM lineitem GROUP BY 1, 2
    ),
    t AS (SELECT flag, sum(w)::BIGINT AS total_weight FROM h GROUP BY flag),
    r AS (
      SELECT flag, price_cents,
             sum(w) OVER (PARTITION BY flag ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    )
    SELECT r.flag, t.total_weight,
           min(price_cents)::BIGINT AS weighted_median_cents
    FROM r JOIN t USING (flag)
    WHERE 2 * cum >= total_weight
    GROUP BY r.flag, t.total_weight
    """,
)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest price
    whose cumulative quantity reaches half the total — the exact discrete
    weighted median, integer cents and integer weights throughout.

    Scale shape: the cumulative sum runs over the (flag, price)
    HISTOGRAM — value cardinality, not row cardinality — after a
    map-side-combinable rollup of the fact table; the 3-row totals table
    broadcast-joins back. The naive per-row window (PARTITION BY flag
    over the raw fact) would sort a third of the corpus per task."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        _cents("l_extendedprice").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    h = li.groupBy("flag", "price_cents").agg(F.sum("q").alias("w"))
    t = h.groupBy("flag").agg(F.sum("w").alias("total_weight"))
    w = Window.partitionBy("flag").orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.withColumn("cum", F.sum("w").over(w))
    return (
        r.join(F.broadcast(t), "flag")
        .filter(2 * F.col("cum") >= F.col("total_weight"))
        .groupBy("flag", "total_weight")
        .agg(F.min("price_cents").alias("weighted_median_cents"))
    )


# ---------------------------------------------------------------------------
# Rolling anomaly gate: trailing-window integer moments per event.
# ---------------------------------------------------------------------------
@query(
    "events_rolling_anomaly",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, epoch_us(ts)::BIGINT AS us,
             (value::DECIMAL(12,2) * 100)::BIGINT AS xc
      FROM events
    ),
    m AS (
      SELECT event_id, user_id, us, xc,
             (count(*) OVER w)::HUGEINT AS n,
             sum(xc::HUGEINT) OVER w AS s,
             sum(xc::HUGEINT * xc) OVER w AS q
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, us, n::BIGINT AS n_win,
           (n >= 5 AND (n * xc - s) * (n * xc - s) > 4 * (n * q - s * s))
             AS is_anomaly
    FROM m
    """,
)
def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event anomaly flag against the user's OWN trailing hour: |z| > 2
    over the value-based RANGE frame, with the float test (x−μ)² > 4σ²
    rewritten over raw in-frame moments as (n·x − S)² > 4(nQ − S²) —
    every term an exact 128-bit integer (Spark DECIMAL(38,0) vs DuckDB
    HUGEINT), so both engines classify every boundary event identically.
    Frames with fewer than 5 events never flag (cold-start guard). This
    is the streaming-adjacent outlier gate (fraud/telemetry spike
    detection) that the GLOBAL z-score key (stats_outlier_zscore) can't
    express here: μ and σ are per-row, per-user, time-local.

    Scale shape: ONE user-keyed shuffle; the RANGE frame keeps state
    bounded by each user's events-per-hour, and peers-at-equal-timestamp
    are in-frame on both engines, so the result is independent of
    intra-timestamp row order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        _cents("value").alias("xc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, 0)
    )
    m = ev.select(
        "event_id",
        "user_id",
        "us",
        "xc",
        F.count(F.lit(1)).over(w).cast(D38).alias("n"),
        F.sum(F.col("xc").cast(D38)).over(w).alias("s"),
        F.sum((F.col("xc") * F.col("xc")).cast(D38)).over(w).alias("q"),
    )
    dev = F.col("n") * F.col("xc") - F.col("s")
    var4 = (F.col("n") * F.col("q") - F.col("s") * F.col("s")) * 4
    return m.select(
        "event_id",
        "user_id",
        "us",
        F.col("n").cast("long").alias("n_win"),
        ((F.col("n") >= 5) & (dev * dev > var4)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Distribution drift between corpus snapshots (PSI per bucket).
# ---------------------------------------------------------------------------
def _drift_oracle() -> str:
    from zip_to_parquet_spark.operators.pipeline import simulated_refresh_sql

    return f"""
    WITH old AS (SELECT length(text)::BIGINT AS len FROM documents),
    refreshed AS ({simulated_refresh_sql()}),
    new AS (SELECT length(text)::BIGINT AS len FROM refreshed),
    ob AS (SELECT len // 100 AS bucket, count(*)::BIGINT AS n_old
           FROM old GROUP BY 1),
    nb AS (SELECT len // 100 AS bucket, count(*)::BIGINT AS n_new
           FROM new GROUP BY 1),"""


@query(
    "dq_distribution_drift",
    oracle=_drift_oracle()
    + """
    j AS (
      SELECT coalesce(ob.bucket, nb.bucket) AS bucket,
             coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new,
             (SELECT sum(n_old) FROM ob)::BIGINT AS t_old,
             (SELECT sum(n_new) FROM nb)::BIGINT AS t_new
      FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket
    )
    SELECT bucket, n_old, n_new,
           (n_old::HUGEINT * 1000000 // t_old)::BIGINT AS p_ppm,
           (n_new::HUGEINT * 1000000 // t_new)::BIGINT AS q_ppm,
           CASE WHEN n_old::HUGEINT * 1000000 // t_old > 0
                 AND n_new::HUGEINT * 1000000 // t_new > 0 THEN
             floor(((n_old::HUGEINT * 1000000 // t_old)
                    - (n_new::HUGEINT * 1000000 // t_new))::DOUBLE / 1000000.0
                   * ln((n_old::HUGEINT * 1000000 // t_old)::DOUBLE
                        / (n_new::HUGEINT * 1000000 // t_new)::DOUBLE)
                   * 1000000.0)::BIGINT
           ELSE NULL END AS psi_micro
    FROM j
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    drift monitor a recurring pipeline runs before retraining: document
    lengths bucket into 100-char bins, each snapshot's bucket mass
    becomes integer ppm (exact ``div``), and the per-bucket PSI
    contribution (p−q)·ln(p/q) lands in integer micro-nats via the
    repo's accepted one-floor-per-type log seam (the surprisal/BM25
    convention — everything except the single ``ln`` is exact integer
    arithmetic in both engines). NULL psi marks buckets whose mass in
    EITHER snapshot is absent or floors below 1 ppm — the epsilon-free
    convention; their raw counts still surface, which IS the
    novel/vanished-mass signal. The 'new' snapshot is
    operators.pipeline.simulated_refresh — the same planted edit set as
    corpus_snapshot_delta and matview_incremental_refresh, shared as ONE
    function (and its SQL twin), so the cross-query guarantee is
    structural, not conventional.

    Scale shape: two map-side-combinable bucket rollups (bucket
    cardinality = length-range/100, never rows), a bucket-keyed full
    outer join PERSISTED once (the totals and the final projection both
    read the tiny cached bucket table instead of re-scanning the corpus),
    and one broadcast 1-row totals join."""
    from zip_to_parquet_spark.operators.pipeline import simulated_refresh

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = simulated_refresh(docs)

    def buckets(df, out):
        return (
            df.select(
                F.expr("cast(length(text) as bigint) div 100").alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    base = (
        buckets(docs, "n_old")
        .join(buckets(new, "n_new"), "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .persist()  # bucket-cardinality; both consumers below reuse it
    )
    tot = base.agg(
        F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new")
    )
    j = base.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_old",
        "n_new",
        F.expr(
            "cast((cast(n_old as decimal(38,0)) * 1000000)"
            " div t_old as bigint)"
        ).alias("p_ppm"),
        F.expr(
            "cast((cast(n_new as decimal(38,0)) * 1000000)"
            " div t_new as bigint)"
        ).alias("q_ppm"),
    )
    psi = F.when(
        (F.col("p_ppm") > 0) & (F.col("q_ppm") > 0),
        F.floor(
            (F.col("p_ppm") - F.col("q_ppm")).cast("double")
            / 1000000.0
            * F.log(
                F.col("p_ppm").cast("double") / F.col("q_ppm").cast("double")
            )
            * 1000000.0
        ),
    )
    return j.withColumn("psi_micro", psi.cast("long"))


# ---------------------------------------------------------------------------
# ANALYZE-style column profiling in one melted pass.
# ---------------------------------------------------------------------------
@query(
    "scan_column_profile",
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           (count(*) - count(l_quantity))::BIGINT AS n_nulls,
           count(DISTINCT l_quantity::BIGINT)::BIGINT AS ndv,
           min(l_quantity::BIGINT)::BIGINT AS min_long,
           max(l_quantity::BIGINT)::BIGINT AS max_long,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*),
           (count(*) - count(l_extendedprice))::BIGINT,
           count(DISTINCT (l_extendedprice::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           min((l_extendedprice::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           max((l_extendedprice::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           (count(*) - count(l_discount))::BIGINT,
           count(DISTINCT (l_discount::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           min((l_discount::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           max((l_discount::DECIMAL(12,2)*100)::BIGINT)::BIGINT,
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*),
           (count(*) - count(l_shipdate))::BIGINT,
           count(DISTINCT epoch_us(l_shipdate)::BIGINT)::BIGINT,
           min(epoch_us(l_shipdate)::BIGINT)::BIGINT,
           max(epoch_us(l_shipdate)::BIGINT)::BIGINT,
           NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*),
           (count(*) - count(l_returnflag))::BIGINT,
           count(DISTINCT l_returnflag)::BIGINT,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', count(*),
           (count(*) - count(l_linestatus))::BIGINT,
           count(DISTINCT l_linestatus)::BIGINT,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           min(l_linestatus), max(l_linestatus)
    FROM lineitem
    """,
)
def scan_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style column profile (rows, nulls, EXACT ndv,
    min/max) for six lineitem columns — the statistics pass behind CBO
    stats, data-contract drift monitors, and skew pre-flight. ONE melted
    scan (``stack``) feeds a two-level exact-distinct: per-(column,
    value) counts (map-side-combined, value-cardinality state) then the
    per-column rollup — instead of six separate count-distinct scans of
    the table (the oracle does exactly that; the melt must agree).
    Numeric values are profiled as exact integers (cents / epoch-µs), so
    min/max/ndv carry no float seam; strings keep their own min/max
    columns.

    Scale shape: one scan, then shuffle state is Σ per-column ndv —
    value cardinality, never row cardinality; the final rollup is
    6 groups."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        _cents("l_extendedprice").alias("pc"),
        _cents("l_discount").alias("dc"),
        F.unix_micros(F.to_timestamp("l_shipdate")).alias("sd"),
        "l_returnflag",
        "l_linestatus",
    )
    melted = li.selectExpr(
        """stack(6,
           'l_quantity',      q,                    cast(null as string),
           'l_extendedprice', pc,                   cast(null as string),
           'l_discount',      dc,                   cast(null as string),
           'l_shipdate',      sd,                   cast(null as string),
           'l_returnflag',    cast(null as bigint), l_returnflag,
           'l_linestatus',    cast(null as bigint), l_linestatus
        ) as (col_name, v_long, v_str)"""
    )
    per_val = melted.groupBy("col_name", "v_long", "v_str").agg(
        F.count(F.lit(1)).alias("n")
    )
    is_null = F.col("v_long").isNull() & F.col("v_str").isNull()
    return per_val.groupBy("col_name").agg(
        F.sum("n").alias("n_rows"),
        F.sum(F.when(is_null, F.col("n")).otherwise(0)).alias("n_nulls"),
        F.sum(F.when(is_null, 0).otherwise(1)).cast("long").alias("ndv"),
        F.min("v_long").alias("min_long"),
        F.max("v_long").alias("max_long"),
        F.min("v_str").alias("min_str"),
        F.max("v_str").alias("max_str"),
    )


def _user_cent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's event ``value``s in cents, ordered by ``(ts,
    event_id)`` → ``(user_id, vals)`` — the sequence the per-user
    fixed-point smoothing folds run over. ONE user-keyed shuffle; state is
    the user's own event list."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents("value").alias("xc")
    )
    return ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "xc"))),
            lambda s: s["xc"],
        ).alias("vals")
    )


# ---------------------------------------------------------------------------
# Fixed-point EWMA per user (ordered array fold — sequential recursion
# expressed exactly, no float).
# ---------------------------------------------------------------------------
@query(
    "events_ewma_fixed_point",
    oracle="""
    WITH s AS (
      SELECT user_id,
             list((value::DECIMAL(12,2) * 100)::BIGINT
                  ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id
    )
    SELECT user_id, len(vals)::BIGINT AS n_events,
           list_reduce(vals, (acc, x) -> (acc * 7 + x) // 8)::BIGINT
             AS ewma_cents
    FROM s
    """,
)
def events_ewma_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value`` with
    α = 1/8 in FIXED-POINT integer arithmetic: ewma₀ = x₀,
    ewmaᵢ = (7·ewmaᵢ₋₁ + xᵢ) div 8 over the (ts, event_id)-ordered
    event sequence. EWMA is an inherently sequential recursion — not
    map-side-combinable — so it is expressed as an ordered array fold
    (``F.aggregate`` over the sorted per-user value array), the same
    bounded-per-key pattern as the funnel FSM; integer division at every
    step means DuckDB's ``list_reduce`` replays the identical fold and
    hash-matches (a float α would diverge in the last ulp after enough
    steps). Note the engines' integer-division conventions differ on
    negatives (Spark ``div`` truncates toward zero, DuckDB ``//``
    floors) — irrelevant here because cents are non-negative at every
    step (fixture min 0.03), which keeps the fold in the agreeing
    domain; a signed-value variant would rewrite the step as
    ``floordiv`` on both sides.

    Scale shape: ONE user-keyed shuffle; state is each user's own event
    list (the per-user bound every sequential-semantics operator in this
    repo accepts and documents); the fold itself is codegen'd JVM, no
    Python."""
    return _user_cent_sequences(spark, sf_dir).select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
            " (acc, x) -> (acc * 7L + x) div 8)"
        ).alias("ewma_cents"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence cells (exact integer contributions).
# ---------------------------------------------------------------------------
@query(
    "stats_chi_square_cells",
    oracle="""
    WITH o AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             count(*)::HUGEINT AS obs
      FROM customer GROUP BY 1, 2
    ),
    r AS (SELECT seg, sum(obs) AS rt FROM o GROUP BY seg),
    c AS (SELECT nat, sum(obs) AS ct FROM o GROUP BY nat),
    n AS (SELECT sum(obs) AS n FROM o)
    SELECT seg, nat, obs::BIGINT AS obs,
           ((rt * ct * 1000000) // n.n)::BIGINT AS exp_ppm,
           (((obs * n.n - rt * ct) * (obs * n.n - rt * ct) * 1000000)
              // (n.n * rt * ct))::BIGINT AS contrib_ppm
    FROM o JOIN r USING (seg) JOIN c USING (nat), n
    """,
)
def stats_chi_square_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test cells for market segment × nation:
    observed count, expected count in ppm, and the per-cell χ² contribution
    ``(obs − exp)²/exp`` rewritten over integers as
    ``(obs·N − r·c)² · 1e6 div (N·r·c)`` — every term a 128-bit integer
    (Spark DECIMAL(38,0) vs DuckDB HUGEINT), so boundary cells floor
    identically in both engines; a float expected-count version can
    never hash-match. Per-cell output also sidesteps float-summation
    order entirely (the total χ² is an exact integer sum if needed).

    Scale shape: one map-side-combinable cell rollup (|segments|×|nations|
    groups), then the marginals are cell-cardinality tables —
    broadcast joins; the scalar N is a broadcast 1-row cross join."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    )
    o = cust.groupBy("seg", "nat").agg(
        F.count(F.lit(1)).cast(D38).alias("obs")
    )
    r = o.groupBy("seg").agg(F.sum("obs").cast(D38).alias("rt"))
    c = o.groupBy("nat").agg(F.sum("obs").cast(D38).alias("ct"))
    n = o.agg(F.sum("obs").cast(D38).alias("n"))
    return (
        o.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "nat")
        .crossJoin(F.broadcast(n))
        .select(
            "seg",
            "nat",
            F.col("obs").cast("long").alias("obs"),
            F.expr("(rt * ct * 1000000) div n").alias("exp_ppm"),
            F.expr(
                "((obs * n - rt * ct) * (obs * n - rt * ct) * 1000000)"
                " div (n * rt * ct)"
            ).alias("contrib_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (weekly seasonality MAE)
# ---------------------------------------------------------------------------
@query(
    "ts_seasonal_naive_mae",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    paired AS (
      SELECT a.d, abs(a.rev_cents - b.rev_cents) AS abs_err
      FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 7 DAY
    )
    SELECT date_trunc('month', d)::TIMESTAMP AS month,
           count(*)::BIGINT AS n_days,
           sum(abs_err)::BIGINT AS total_abs_err_cents,
           CAST(sum(abs_err) // count(*) AS BIGINT) AS mae_cents
    FROM paired GROUP BY 1
    """,
)
def ts_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting with the seasonal-naive baseline (forecast
    for day d = actual of d−7), the first model every demand-forecasting
    pipeline must beat: per month, the mean absolute error of weekly
    persistence on daily order revenue — exact integer cents throughout
    (MAE as floor division; both operands non-negative, so truncating
    ``div`` and flooring ``//`` agree). Days lacking a d−7 observation
    drop out (inner join): the backtest scores only days where the
    baseline HAS a forecast, the standard protocol.

    Scale shape: the fact collapses to a per-day rollup first (one
    shuffle; the day relation is |calendar|, thousands of rows at any
    corpus size), the lag-7 pairing is a self-equi-join on the derived
    calendar key over that tiny relation, and the month rollup is
    |calendar|/30 groups — nothing further touches the fact."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d"))
        .agg(
            F.sum(_cents("o_totalprice")).cast("long").alias("rev_cents")
        )
        # Materialize the |calendar|-sized rollup once: without this the
        # self-join's two legs each re-scan the fact (plan-tested).
        .localCheckpoint(eager=True)
    )
    prev = daily.select(
        (F.col("d") + F.expr("INTERVAL 7 DAY")).alias("d"),
        F.col("rev_cents").alias("prev_cents"),
    )
    return (
        daily.join(prev, "d")
        .select(
            F.date_trunc("month", F.col("d")).alias("month"),
            F.abs(F.col("rev_cents") - F.col("prev_cents")).alias("abs_err"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("abs_err").cast("long").alias("total_abs_err_cents"),
            F.expr("sum(abs_err) div count(*)").alias("mae_cents"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------
@query(
    "dq_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             c_mktsegment,
             (c_acctbal::DECIMAL(12,2) * 100)::BIGINT // 100000 AS bal_band,
             count(*) AS gsize
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           count(*)::BIGINT AS n_groups,
           sum(gsize)::BIGINT AS n_rows,
           sum(CASE WHEN gsize < 5 THEN 1 ELSE 0 END)::BIGINT
             AS risky_groups,
           sum(CASE WHEN gsize < 5 THEN gsize ELSE 0 END)::BIGINT
             AS risky_rows,
           min(gsize)::BIGINT AS min_group_size
    FROM g GROUP BY 1
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002), the release gate a governed
    data product runs before publishing: bucket customers by the
    quasi-identifier tuple (nation, market segment, $1000 account-balance
    band) and report, per nation, how many quasi-identifier groups fall
    below k=5 members and how many ROWS sit in those re-identifiable
    groups. Every quantity is an exact integer count; the balance band
    is integer cents floor-divided (non-negative fixture domain — the
    positive-operand invariant the repo's integer-division keys share).

    Scale shape: one groupBy over the quasi-identifier tuple (the only
    fact-sized shuffle), then a per-nation rollup of the already
    group-sized relation. The CASE-sums compute the risk profile in the
    same pass — no second scan, no join."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
                " div 100000"
            ).alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("gsize"))
    )
    risky = F.col("gsize") < 5
    return g.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("gsize").cast("long").alias("n_rows"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("long").alias("risky_groups"),
        F.sum(F.when(risky, F.col("gsize")).otherwise(0)).cast("long")
        .alias("risky_rows"),
        F.min("gsize").cast("long").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# CUSUM change detection (windowed closed form)
# ---------------------------------------------------------------------------
@query(
    "events_cusum_alarm",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             (value::DECIMAL(12,2) * 100)::BIGINT - 6000 AS dev
      FROM events
    ),
    p AS (
      SELECT user_id, ts, event_id, dev,
             sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS prefix,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM d
    ),
    s AS (
      SELECT user_id, rn,
             prefix - least(0, min(prefix) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)) AS cusum
      FROM p
    )
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           sum(CASE WHEN cusum > 15000 THEN 1 ELSE 0 END)::BIGINT
             AS n_alarms,
           max(cusum)::BIGINT AS max_cusum_cents,
           min(CASE WHEN cusum > 15000 THEN rn END)::BIGINT
             AS first_alarm_rn
    FROM s GROUP BY user_id
    """,
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection (Page 1954) per user — the
    sequential drift detector behind SPC dashboards and data-quality
    monitors: Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − k)) with reference k = $60 and
    alarm threshold h = $150, all exact integer cents. The recursion
    LOOKS inherently sequential (like EWMA), but has a windowed closed
    form — Sᵢ = prefixᵢ − min(0, running-min(prefix)) — so it runs as
    TWO stacked prefix windows over one user-keyed shuffle instead of a
    collect_list array fold: no per-user array materialization, and the
    window state streams. No division anywhere, so negative deviations
    are safe cross-engine (the div-convention caveat the EWMA key
    documents does not arise).

    Output per user: event count, alarm count, the CUSUM peak, and the
    ordinal position of the first alarm (NULL when the user never
    crosses h). Scale shape: ONE user-keyed shuffle shared by both
    windows and the final rollup; state is a scalar per window frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", (_cents("value") - 6000).alias("dev")
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = ev.select(
        "user_id",
        F.sum("dev").over(wrun).alias("prefix"),
        F.row_number().over(wseq).alias("rn"),
    ).withColumn(
        "runmin",
        F.min("prefix").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    s = p.select(
        "user_id",
        "rn",
        (F.col("prefix") - F.least(F.lit(0), F.col("runmin"))).alias("cusum"),
    )
    alarm = F.col("cusum") > 15000
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.max("cusum").cast("long").alias("max_cusum_cents"),
        F.min(F.when(alarm, F.col("rn"))).cast("long").alias("first_alarm_rn"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley drift detection (adaptive-reference sequential test)
# ---------------------------------------------------------------------------
@query(
    "events_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type, ts::DATE AS d,
             count(*)::BIGINT AS cnt,
             sum((value::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, d,
             (1000 * cents) // cnt AS m_milli,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
             sum((1000 * cents) // cnt) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS cum_m
      FROM daily
    ),
    dev AS (
      SELECT event_type, d, t,
             1000 * m_milli - (1000 * cum_m) // t - 50000000 AS dv
      FROM s
    ),
    pre AS (
      SELECT event_type, d, t,
             sum(dv) OVER (PARTITION BY event_type ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS cum_dv
      FROM dev
    ),
    ph AS (
      SELECT event_type, t,
             cum_dv - least(0, min(cum_dv) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)) AS ph_micro
      FROM pre
    )
    SELECT event_type, count(*)::BIGINT AS n_days,
           sum(CASE WHEN ph_micro > 2000000000 THEN 1 ELSE 0 END)::BIGINT
             AS n_alarms,
           max(ph_micro)::BIGINT AS max_ph_micro,
           min(CASE WHEN ph_micro > 2000000000 THEN t END)::BIGINT
             AS first_alarm_t
    FROM ph GROUP BY event_type
    """,
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection on the daily MEAN event value per
    type — the sequential test a data-quality monitor runs on an
    INTENSITY metric (mean value is scale-free: it does not grow with
    corpus size, unlike counts). Where events_cusum_alarm tests against
    a FIXED reference, Page-Hinkley's reference is the RUNNING MEAN of
    the series so far — the standard formulation (Page 1954, §Hinkley
    1971 variant): PHₜ = Σ(xᵢ − x̄ᵢ − δ) − min≤ₜ Σ(...), alarm when
    PHₜ > λ.

    Exactness contract: daily means quantize to MILLI-cents by
    truncating division (positive operands — div ↔ //), the running
    mean of those to MICRO-cents the same way; deviations (which may
    be negative) are then summed and run-min'd only — no further
    division, so the sign-convention caveat never arises. The
    cumulative terms (cum_m, cum_dv) are decimal(38,0) on the Spark
    side to mirror DuckDB's automatic BIGINT→HUGEINT window-sum
    escalation — 128-bit headroom by construction, no 2^63 envelope to
    police (r8 convention). δ = 50¢ and λ = $20 in micro-cents are
    policy constants (λ sized so the fixture series alarms on some
    types and not others — a discriminative threshold, not a
    tripwire).

    Scale shape: the corpus-sized stage is one map-side-combinable
    (type, day) rollup; the three stacked prefix windows run over
    SERIES LENGTH per type on one type-keyed shuffle (the cusum
    closed-form trick — running mean, prefix sum, and running min are
    all windowed, no sequential collect); k-row output."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("d"),
                _cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    wseq = Window.partitionBy("event_type").orderBy("d")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = "decimal(38,0)"
    s = daily.withColumn(
        "m_milli", F.expr("(1000 * cents) div cnt")
    ).withColumn("t", F.row_number().over(wseq)).withColumn(
        "cum_m", F.sum(F.col("m_milli").cast(dec)).over(wrun)
    )
    dev = s.withColumn(
        "dv",
        F.expr("1000 * m_milli - (1000 * cum_m) div t - 50000000").cast(dec),
    )
    ph = (
        dev.withColumn("cum_dv", F.sum("dv").over(wrun))
        .withColumn("runmin", F.min(F.sum("dv").over(wrun)).over(wrun))
        .withColumn(
            "ph_micro",
            F.col("cum_dv") - F.least(F.lit(0), F.col("runmin")),
        )
    )
    alarm = F.col("ph_micro") > 2000000000
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.max("ph_micro").cast("long").alias("max_ph_micro"),
        F.min(F.when(alarm, F.col("t"))).cast("long").alias("first_alarm_t"),
    )


# ---------------------------------------------------------------------------
# Period-over-period reporting: MoM and YoY revenue deltas
# ---------------------------------------------------------------------------
@query(
    "revenue_mom_yoy",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT a.month, a.rev_cents,
           a.rev_cents - b.rev_cents AS mom_delta_cents,
           CASE WHEN b.rev_cents > 0
                THEN ((a.rev_cents - b.rev_cents) * 1000) // b.rev_cents
           END::BIGINT AS mom_delta_permille,
           a.rev_cents - c.rev_cents AS yoy_delta_cents,
           CASE WHEN c.rev_cents > 0
                THEN ((a.rev_cents - c.rev_cents) * 1000) // c.rev_cents
           END::BIGINT AS yoy_delta_permille
    FROM m a
    JOIN m b ON b.month = a.month - INTERVAL 1 MONTH
    JOIN m c ON c.month = a.month - INTERVAL 12 MONTH
    """,
)
def revenue_mom_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting, the BI staple: monthly revenue with
    month-over-month and year-over-year deltas (absolute cents and
    integer permille). Calendar-aligned self-joins on month−1 / month−12
    — NOT lag() over observed months, which silently compares against
    the previous month WITH DATA instead of the previous calendar month
    when a month is empty; months lacking either comparison drop (inner
    join), the honest reporting convention. Permille division guards
    zero denominators to NULL and TRUNCATES toward zero on both sides —
    DuckDB's integer ``//`` and Spark's ``div`` share that convention
    for integer operands (it is DOUBLE ``//`` that floors in DuckDB), so
    a −17.75% delta reports as −177‰ in both engines.

    Scale shape: the fact collapses to |calendar months| rows in one
    shuffle; both calendar joins and the delta math run on that tiny
    checkpointed relation."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.sum(_cents("o_totalprice")).cast("long").alias("rev_cents"))
        .localCheckpoint(eager=True)
    )

    def shifted(n, name):
        return m.select(
            (F.col("month") + F.expr(f"INTERVAL {n} MONTH")).alias("month"),
            F.col("rev_cents").alias(name),
        )

    out = (
        m.join(shifted(1, "prev_cents"), "month")
        .join(shifted(12, "yoy_cents"), "month")
        .withColumn("mom_delta_cents", F.col("rev_cents") - F.col("prev_cents"))
        .withColumn("yoy_delta_cents", F.col("rev_cents") - F.col("yoy_cents"))
    )
    return out.select(
        "month",
        "rev_cents",
        "mom_delta_cents",
        F.when(
            F.col("prev_cents") > 0,
            F.expr("(mom_delta_cents * 1000) div prev_cents"),
        ).alias("mom_delta_permille"),
        "yoy_delta_cents",
        F.when(
            F.col("yoy_cents") > 0,
            F.expr("(yoy_delta_cents * 1000) div yoy_cents"),
        ).alias("yoy_delta_permille"),
    )


# ---------------------------------------------------------------------------
# Holt's linear trend (double exponential smoothing), exact fixed point
# ---------------------------------------------------------------------------
@query(
    "events_holt_linear_trend",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT user_id, (value::DECIMAL(12,2) * 100)::BIGINT AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    h AS (
      SELECT user_id, rn, x AS l, 0::BIGINT AS b FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
             (s.x + 3 * (h.l + h.b)) >> 2 AS l,
             (((s.x + 3 * (h.l + h.b)) >> 2) - h.l + 3 * h.b) >> 2 AS b
      FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1
    )
    SELECT user_id, rn::BIGINT AS n_events,
           l::BIGINT AS level_cents, b::BIGINT AS trend_cents,
           (l + b)::BIGINT AS forecast_cents
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY rn DESC) AS rr FROM h)
    WHERE rr = 1
    """,
)
def events_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend method (double exponential smoothing, Holt
    1957) per user in exact fixed-point integers — the one-step-ahead
    forecaster a notch above EWMA (which cannot follow a trend):
    level lᵢ = α·xᵢ + (1−α)(lᵢ₋₁+bᵢ₋₁), trend bᵢ = β(lᵢ−lᵢ₋₁) + (1−β)bᵢ₋₁
    with α = β = 1/4 realized as ``>> 2`` — the arithmetic right shift
    FLOORS on negatives in both the JVM and DuckDB (measured), which
    matters here because the trend term goes negative on declining
    series; a ``div 4`` would truncate and diverge between a float
    replica and the engines. Init l₁ = x₁, b₁ = 0; output the final
    state and the one-step forecast l + b.

    Two engines, two faithful realizations of one recursion: Spark runs
    it as an ordered array fold with a STRUCT accumulator (the EWMA
    pattern widened to two state variables); the oracle replays it as a
    RECURSIVE CTE stepping rn → rn+1 — the first recursive-CTE oracle in
    the registry (the iterative keys to date unrolled fixed iteration
    counts; per-row recursion needs true recursion).

    Scale shape: ONE user-keyed shuffle; per-user state is the user's
    own ordered value array (the documented sequential-semantics bound);
    the fold is codegen'd JVM, no Python."""
    return _user_cent_sequences(spark, sf_dir).select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1),"
            " named_struct('l', element_at(vals, 1), 'b', 0L),"
            " (acc, x) -> named_struct("
            "   'l', shiftright(x + 3L * (acc.l + acc.b), 2),"
            "   'b', shiftright(shiftright(x + 3L * (acc.l + acc.b), 2)"
            "        - acc.l + 3L * acc.b, 2)))"
        ).alias("st"),
    ).select(
        "user_id",
        "n_events",
        F.col("st.l").alias("level_cents"),
        F.col("st.b").alias("trend_cents"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_cents"),
    )


# ---------------------------------------------------------------------------
# Conversion latency: first view → first subsequent purchase
# ---------------------------------------------------------------------------
@query(
    "events_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             min(e.ts) AS first_purchase
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
      GROUP BY e.user_id
    ),
    d AS (
      SELECT v.user_id,
             date_diff('microsecond', v.first_view, p.first_purchase)::BIGINT
               AS latency_us
      FROM v JOIN p ON p.user_id = v.user_id
    )
    SELECT count(*)::BIGINT AS n_converted,
           min(latency_us) AS min_us,
           quantile_cont(latency_us, 0.50) AS p50_us,
           quantile_cont(latency_us, 0.90) AS p90_us,
           max(latency_us) AS max_us
    FROM d
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency, the product-funnel metric funnels alone don't
    give: for each user, microseconds from their FIRST view to their
    first purchase AT OR AFTER it (a purchase that precedes any view is
    not a conversion of that view — the temporal-precedence constraint
    the funnel keys enforce, applied to latency), summarized as exact
    min/max and interpolated p50/p90 (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, bit-verified by agg_percentiles).

    Scale shape: two user-keyed min-aggregates (map-side combinable)
    and one user-keyed equi-join — the purchase leg filters on the
    broadcast-joinable first-view relation BEFORE its aggregate, so
    only purchases after the view survive to shuffle; the final rollup
    is a single 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    d = v.join(p, "user_id").select(
        (F.unix_micros("first_purchase") - F.unix_micros("first_view"))
        .alias("latency_us")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_us").alias("min_us"),
        F.percentile("latency_us", 0.5).alias("p50_us"),
        F.percentile("latency_us", 0.9).alias("p90_us"),
        F.max("latency_us").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# Gini concentration coefficient per nation (sorted prefix-sum identity)
# ---------------------------------------------------------------------------
@query(
    "stats_gini_permille",
    oracle="""
    WITH x AS (
      SELECT c_nationkey,
             (c_acctbal::DECIMAL(12,2) * 100)::BIGINT AS v,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY (c_acctbal::DECIMAL(12,2) * 100)
                                         ::BIGINT, c_custkey) AS i
      FROM customer
    )
    SELECT c_nationkey,
           count(*)::BIGINT AS n,
           sum(v)::BIGINT AS total_cents,
           CAST(((2 * sum(i::HUGEINT * v) - (count(*)::HUGEINT + 1) * sum(v))
                 * 1000) // (count(*)::HUGEINT * sum(v)) AS BIGINT)
             AS gini_permille
    FROM x GROUP BY c_nationkey
    HAVING sum(v) > 0
    """,
)
def stats_gini_permille(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient per nation over customer balances —
    the inequality/concentration diagnostic (is 90% of the revenue in 5%
    of the accounts?) — via the sorted prefix-sum identity
    ``G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)`` in exact integer permille:
    rank-weighted sums replace the O(n²) pairwise |xᵢ−xⱼ| definition, so
    the cost is ONE per-nation sort window plus a rollup. The numerator
    is non-negative (rank-sorted), so truncating/flooring division
    agree; HUGEINT/DECIMAL(38,0) carries the rank×cents products.

    Scale shape: one nation-keyed window shuffle (rank within nation),
    one same-key rollup — the two-stage shape every per-group order
    statistic here uses. Ties rank deterministically by customer id;
    the identity is tie-order-invariant (equal values commute)."""
    x = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        _cents("c_acctbal").alias("v"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("v", "c_custkey")
    xi = x.withColumn("i", F.row_number().over(w))
    return (
        xi.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("long").alias("total_cents"),
            F.expr(
                f"cast(((2 * sum(cast(i as {D38}) * v)"
                f" - (cast(count(*) as {D38}) + 1) * sum(v)) * 1000)"
                f" div (cast(count(*) as {D38}) * sum(v)) as bigint)"
            ).alias("gini_permille"),
        )
        .filter(F.col("total_cents") > 0)
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification of parts by cumulative revenue share.
# ---------------------------------------------------------------------------
@query(
    "parts_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(cents)::HUGEINT AS t FROM rev),
    ranked AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING)::HUGEINT AS cum
      FROM rev
    ),
    classed AS (
      SELECT CASE WHEN cum * 1000 <= 800 * tot.t THEN 'A'
                  WHEN cum * 1000 <= 950 * tot.t THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked CROSS JOIN tot
    )
    SELECT abc_class, count(*)::BIGINT AS n_parts,
           sum(cents)::BIGINT AS revenue_cents
    FROM classed GROUP BY abc_class
    """,
)
def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts rank by revenue and
    class A holds the leading items up to 80% of cumulative revenue,
    B to 95%, C the tail — the 80/15/5 discipline behind stocking and
    slotting decisions (distinct from ``skyline_orders_pareto``, which
    is multi-dimensional dominance; this is one-dimensional concentration
    banding). Boundary items class by ``cum·1000 ≤ permille·total`` in
    exact integers, ties broken by part key.

    Scale shape: a part-keyed revenue rollup (map-side combine), then a
    global rank-ordered running sum over the PART-LEVEL table — at
    catalog scale (~10⁶ parts, not fact scale) a single-partition
    ordered window is the honest cost, and the two-pass
    ``global_rank_two_pass`` pattern swaps in when even the catalog
    outgrows one partition.

    Exactness: integer cents, HUGEINT/DECIMAL(38,0) running sums, the
    permille comparison is integer-only."""
    li = spread(load_table(spark, sf_dir, "lineitem"), "l_partkey")
    rev = li.groupBy("l_partkey").agg(
        F.sum(_cents("l_extendedprice")).cast("long").alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("decimal(38,0)").alias("t"))
    w = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(w).cast("decimal(38,0)").alias("cum"),
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.expr("cum * 1000 <= 800 * t"), "A")
        .when(F.expr("cum * 1000 <= 950 * t"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Robust location estimates over histograms: trimmed + winsorized means.
# ---------------------------------------------------------------------------
@query(
    "stats_trimmed_mean",
    oracle="""
    WITH h AS (
      SELECT o_orderpriority AS prio,
             (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS cents,
             count(*)::BIGINT AS w
      FROM orders GROUP BY 1, 2
    ),
    c AS (
      SELECT prio, cents, w,
             coalesce(sum(w) OVER (PARTITION BY prio ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_lo,
             coalesce(sum(w) OVER (PARTITION BY prio ORDER BY cents DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_hi,
             sum(w) OVER (PARTITION BY prio) AS n,
             sum(w * cents) OVER (PARTITION BY prio) AS total
      FROM h
    ),
    t AS (
      SELECT prio, n, total, n // 20 AS k,
             sum(cents * least(w, greatest(n // 20 - cum_lo, 0)))
               AS lo_drop,
             sum(cents * least(w, greatest(n // 20 - cum_hi, 0)))
               AS hi_drop,
             max(CASE WHEN cum_lo < n // 20 + 1
                       AND n // 20 + 1 <= cum_lo + w
                      THEN cents END) AS lo_bound,
             max(CASE WHEN cum_hi < n // 20 + 1
                       AND n // 20 + 1 <= cum_hi + w
                      THEN cents END) AS hi_bound
      FROM c GROUP BY prio, n, total
    )
    SELECT prio, n::BIGINT AS n, k::BIGINT AS k,
           (total - lo_drop - hi_drop)::BIGINT AS trimmed_sum_cents,
           (n - 2 * k)::BIGINT AS trimmed_n,
           (((total - lo_drop - hi_drop)::HUGEINT * 1000)
              // (n - 2 * k))::BIGINT AS trimmed_mean_millicents,
           (total - lo_drop - hi_drop + k * lo_bound + k * hi_bound)::BIGINT
             AS winsor_sum_cents,
           (((total - lo_drop - hi_drop + k * lo_bound + k * hi_bound)
             ::HUGEINT * 1000) // n)::BIGINT AS winsor_mean_millicents
    FROM t
    """,
)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed and 5%-winsorized mean order value per priority — the
    robust location estimates a metrics pipeline swaps in when heavy
    tails make the plain mean unstable (Tukey; Huber). Exactly k = n div
    20 observations are dropped (trimmed) or clamped to the boundary
    order statistics (winsorized) at EACH tail, with the boundary = the
    (k+1)-th order statistic from that tail.

    Exactness contract: computed entirely over the (priority, cents)
    HISTOGRAM — a straddling histogram bucket contributes
    min(w, k - cum_before) of its weight to the drop, the exact
    multiplicity split; bounds come from the bucket covering rank k+1.
    All integer cents; means in millicents by integer division (all
    operands positive, so Spark div == DuckDB //).

    Scale shape: one map-side-combinable rollup to value-histogram
    cardinality, cumulative windows over the histogram (never raw
    rows), a 5-row result. Same geometry as stats_weighted_median."""
    from pyspark.sql.window import Window as W

    h = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("prio"),
            _cents("o_totalprice").alias("cents"),
        )
        .groupBy("prio", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    wlo = W.partitionBy("prio").orderBy("cents").rowsBetween(
        W.unboundedPreceding, -1
    )
    whi = W.partitionBy("prio").orderBy(F.col("cents").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    wall = W.partitionBy("prio")
    c = (
        h.withColumn("cum_lo", F.coalesce(F.sum("w").over(wlo), F.lit(0)))
        .withColumn("cum_hi", F.coalesce(F.sum("w").over(whi), F.lit(0)))
        .withColumn("n", F.sum("w").over(wall))
        .withColumn("total", F.sum(F.col("w") * F.col("cents")).over(wall))
        .withColumn("k", F.expr("n div 20"))
    )
    t = c.groupBy("prio", "n", "total", "k").agg(
        F.sum(
            F.col("cents")
            * F.least(F.col("w"), F.greatest(F.col("k") - F.col("cum_lo"), F.lit(0)))
        ).alias("lo_drop"),
        F.sum(
            F.col("cents")
            * F.least(F.col("w"), F.greatest(F.col("k") - F.col("cum_hi"), F.lit(0)))
        ).alias("hi_drop"),
        F.max(
            F.when(
                (F.col("cum_lo") < F.col("k") + 1)
                & (F.col("k") + 1 <= F.col("cum_lo") + F.col("w")),
                F.col("cents"),
            )
        ).alias("lo_bound"),
        F.max(
            F.when(
                (F.col("cum_hi") < F.col("k") + 1)
                & (F.col("k") + 1 <= F.col("cum_hi") + F.col("w")),
                F.col("cents"),
            )
        ).alias("hi_bound"),
    )
    tsum = F.col("total") - F.col("lo_drop") - F.col("hi_drop")
    wsum = tsum + F.col("k") * F.col("lo_bound") + F.col("k") * F.col("hi_bound")
    return t.select(
        "prio",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        tsum.cast("long").alias("trimmed_sum_cents"),
        (F.col("n") - 2 * F.col("k")).cast("long").alias("trimmed_n"),
        F.expr(
            "cast((cast(total - lo_drop - hi_drop as decimal(38,0)) * 1000)"
            " div (n - 2 * k) as bigint)"
        )
        .cast("long")
        .alias("trimmed_mean_millicents"),
        wsum.cast("long").alias("winsor_sum_cents"),
        F.expr(
            "cast((cast(total - lo_drop - hi_drop + k * lo_bound"
            " + k * hi_bound as decimal(38,0)) * 1000) div n as bigint)"
        )
        .cast("long")
        .alias("winsor_mean_millicents"),
    )


# ---------------------------------------------------------------------------
# Bloom filter with MEASURED false-positive rate (sketch-family closer).
# ---------------------------------------------------------------------------
def _bf_hash_duck(salt: int, key: str) -> str:
    return (
        f"(md5_number_lower('bf{salt}|' || {key}::VARCHAR)::HUGEINT"
        f" % 16777216) % 8192"
    )


@query(
    "sketch_bloom_fpr",
    oracle=f"""
    WITH build AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bh AS (
      SELECT ({_bf_hash_duck(0, 'k')}) AS h FROM build
      UNION ALL SELECT ({_bf_hash_duck(1, 'k')}) FROM build
      UNION ALL SELECT ({_bf_hash_duck(2, 'k')}) FROM build
    ),
    words AS (
      SELECT h // 32 AS w, bit_or(1::BIGINT << (h % 32)) AS bits
      FROM bh GROUP BY 1
    ),
    stats AS (
      SELECT (SELECT count(*) FROM build)::BIGINT AS n_build,
             sum(bit_count(bits))::BIGINT AS bits_set
      FROM words
    ),
    probes AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             ({_bf_hash_duck(0, 'c_custkey')}) AS h0,
             ({_bf_hash_duck(1, 'c_custkey')}) AS h1,
             ({_bf_hash_duck(2, 'c_custkey')}) AS h2
      FROM customer WHERE c_mktsegment != 'BUILDING'
    ),
    tested AS (
      SELECT p.seg,
             (coalesce(w0.bits >> (p.h0 % 32), 0) & 1) = 1
             AND (coalesce(w1.bits >> (p.h1 % 32), 0) & 1) = 1
             AND (coalesce(w2.bits >> (p.h2 % 32), 0) & 1) = 1 AS guess
      FROM probes p
      LEFT JOIN words w0 ON w0.w = p.h0 // 32
      LEFT JOIN words w1 ON w1.w = p.h1 // 32
      LEFT JOIN words w2 ON w2.w = p.h2 // 32
    )
    SELECT t.seg, s.n_build, s.bits_set,
           count(*)::BIGINT AS n_probes,
           sum(CASE WHEN t.guess THEN 1 ELSE 0 END)::BIGINT AS false_pos,
           ((1000 * sum(CASE WHEN t.guess THEN 1 ELSE 0 END))
              // count(*))::BIGINT AS fpr_permille
    FROM tested t, stats s
    GROUP BY t.seg, s.n_build, s.bits_set
    """,
)
def sketch_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (Bloom 1970) with its false-positive rate MEASURED
    in-plan — the sketch-family discipline (CMS overcount, HLL error,
    KMV error) applied to the membership sketch: build an m=8192-bit /
    k=3 filter over one customer segment's keys, probe with every
    OTHER segment's keys (all true negatives by construction), and
    report observed FPR per probe segment alongside the filter's fill
    (bits_set/m drives the theoretical (bits_set/m)^k). Hashes are the
    sampling family's md5 low-3-byte uniforms with per-slot salts, so
    both engines build the IDENTICAL filter; 32-bit words keep every
    shift below the sign bit.

    Scale shape: the filter materializes as a <=256-row (word, bits)
    relation via map-side-combinable bit_or — the distributed bloom
    build (the same shape join_bloom_prefilter collects and
    broadcasts); probes LEFT-join it on the word index (a broadcast at
    any m). Integer outputs only."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql

    def bf_hash(salt: int, key: str):
        return (
            F.expr(md5_low_bytes_sql(f"concat('bf{salt}|', cast({key} as string))", 3))
            % 8192
        )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    build = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    bh = None
    for s in range(3):
        part = build.select(bf_hash(s, "k").alias("h"))
        bh = part if bh is None else bh.unionByName(part)
    words = bh.groupBy(F.expr("h div 32").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, cast(h % 32 as int)))").alias("bits")
    )
    stats = words.agg(
        F.sum(F.bit_count("bits")).cast("long").alias("bits_set")
    ).crossJoin(
        F.broadcast(build.agg(F.count(F.lit(1)).cast("long").alias("n_build")))
    )
    probes = c.filter(F.col("c_mktsegment") != "BUILDING").select(
        F.col("c_mktsegment").alias("seg"),
        bf_hash(0, "c_custkey").alias("h0"),
        bf_hash(1, "c_custkey").alias("h1"),
        bf_hash(2, "c_custkey").alias("h2"),
    )
    tested = probes
    for i in range(3):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        tested = tested.join(
            F.broadcast(wi),
            F.expr(f"h{i} div 32") == F.col(f"w{i}"),
            "left",
        )
    guess = (
        (F.expr("coalesce(shiftright(bits0, cast(h0 % 32 as int)), 0L) & 1") == 1)
        & (F.expr("coalesce(shiftright(bits1, cast(h1 % 32 as int)), 0L) & 1") == 1)
        & (F.expr("coalesce(shiftright(bits2, cast(h2 % 32 as int)), 0L) & 1") == 1)
    )
    return (
        tested.withColumn("guess", guess)
        .crossJoin(F.broadcast(stats))
        .groupBy("seg", "n_build", "bits_set")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(F.col("guess").cast("long")).cast("long").alias("false_pos"),
            F.expr("(1000 * sum(cast(guess as long))) div count(*)")
            .cast("long")
            .alias("fpr_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Functional-dependency profiling (TANE-style single-pass violation counts).
# ---------------------------------------------------------------------------
@query(
    "dq_functional_dependency",
    oracle="""
    WITH fd1 AS (
      SELECT source AS lhs, count(DISTINCT lang) AS k, count(*) AS n
      FROM documents GROUP BY source
    ),
    fd2 AS (
      SELECT text AS lhs, count(DISTINCT lang) AS k, count(*) AS n
      FROM documents GROUP BY text
    ),
    fd3 AS (
      SELECT user_id AS lhs, count(DISTINCT event_type) AS k, count(*) AS n
      FROM events GROUP BY user_id
    )
    SELECT 'documents: source -> lang' AS fd,
           count(*)::BIGINT AS n_lhs,
           sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating_lhs,
           sum(CASE WHEN k > 1 THEN n ELSE 0 END)::BIGINT AS n_violating_rows,
           max(k)::BIGINT AS max_rhs_per_lhs
    FROM fd1
    UNION ALL
    SELECT 'documents: text -> lang',
           count(*)::BIGINT, sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN k > 1 THEN n ELSE 0 END)::BIGINT, max(k)::BIGINT
    FROM fd2
    UNION ALL
    SELECT 'events: user_id -> event_type',
           count(*)::BIGINT, sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN k > 1 THEN n ELSE 0 END)::BIGINT, max(k)::BIGINT
    FROM fd3
    """,
)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profiling (the TANE/Metanome
    primitive, reduced to the single-FD check a data-quality gate
    actually runs): for each candidate FD ``LHS -> RHS``, count LHS
    groups, groups carrying >1 distinct RHS (violations), the rows
    inside violating groups, and the worst per-group RHS cardinality.
    Three FDs profile the fixture's real structure: ``source -> lang``
    (violated — multilingual sources), ``text -> lang`` (violated
    exactly where cross-language duplicate texts exist — the FD view of
    the dedup fixture), ``user_id -> event_type`` (massively violated —
    the negative control).

    Exactness: pure counts.

    Scale shape: one map-side-combinable groupBy per FD (the classic
    single-pass stripped-partition check; countDistinct under a group
    key is a partial-aggregate two-phase plan, not an expensive exact
    distinct), then a 1-row rollup each and a 3-row union. A mega-hot
    LHS (one source = half the corpus) skews one reduce partition; AQE
    splits it. No windows, no joins, no collect."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "events")

    def fd(df: DataFrame, lhs: str, rhs: str, label: str) -> DataFrame:
        g = df.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("k"), F.count(F.lit(1)).alias("n")
        )
        return g.agg(
            F.lit(label).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum((F.col("k") > 1).cast("long"))
            .cast("long")
            .alias("n_violating_lhs"),
            F.sum(F.when(F.col("k") > 1, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_violating_rows"),
            F.max("k").cast("long").alias("max_rhs_per_lhs"),
        )
    return (
        fd(d, "source", "lang", "documents: source -> lang")
        .unionByName(fd(d, "text", "lang", "documents: text -> lang"))
        .unionByName(
            fd(e, "user_id", "event_type", "events: user_id -> event_type")
        )
    )
