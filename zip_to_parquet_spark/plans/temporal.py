"""As-of and range join queries over the events stream (extension surface;
the reference has no joins — SURVEY.md §2 C)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.temporal import asof_join, range_join_pairs
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.schema import load_table


@query(
    "join_asof_last_click",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error'
    ), clk AS (
      SELECT user_id AS cu, event_id AS click_event_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, e.value, c.click_event_id, c.click_ts
    FROM err e ASOF LEFT JOIN clk c
      ON e.user_id = c.cu AND e.ts >= c.click_ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event picks up the latest click of the same
    user at or before it. Linear union+sort formulation (operators.temporal
    — one shuffle on user_id, no theta-join blow-up); oracle is DuckDB's
    native ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
    )
    return asof_join(
        errors,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_event_id", "click_ts"],
    )


@query(
    "join_range_within_5min",
    oracle="""
    SELECT a.user_id,
           a.event_id AS event_a, a.ts AS ts_a,
           b.event_id AS event_b, b.ts AS ts_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '5 minutes'
    """,
)
def join_range_within_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join: ordered event pairs of the same user within
    5 minutes, via the 2-bucket equi-join (operators.temporal) — the
    shuffle key is (user_id, time-bucket), candidate volume is local
    density × 2 buckets, never n²."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    pairs = range_join_pairs(ev, key="user_id", payload=["event_id", "ts"])
    return pairs.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("ts").alias("ts_a"),
        F.col("event_id_b").alias("event_b"),
        F.col("ts_b").alias("ts_b"),
    )


@query(
    "cogroup_user_attribution",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.event_id AS purchase_event_id,
           CAST(count(c.ts) AS BIGINT) AS n_prior_clicks,
           count(c.ts) > 0 AS attributed
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
    GROUP BY 1, 2
    """,
)
def cogroup_user_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase click attribution via cogrouped applyInPandas
    (operators/temporal.cogroup_attribution): purchases and clicks
    shuffle once on user_id and meet as per-user pandas frames — the
    imperative two-table per-key mechanism, hash-verified against the
    declarative interval-join oracle (same 30-minute window semantics
    as stream_stream_join)."""
    from zip_to_parquet_spark.operators.temporal import cogroup_attribution

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return cogroup_attribution(purchases, clicks)


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           (n * 1000000 // sum(n) OVER (PARTITION BY prev_type))::BIGINT
             AS prob_ppm
    FROM t
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix of user event streams: per
    user, consecutive event pairs (lag over the per-user time order),
    counted into a |types|² matrix with row-normalized transition
    probabilities in integer parts-per-million (``n·1e6 div row_total``
    — no float division). The sequence-mining primitive under session
    analysis, next-event prediction features, and bot detection
    (improbable transition chains).

    Scale shape: ONE user-keyed shuffle for the lag window (state
    bounded per user), a map-combinable pair count, and the
    normalization window runs over the |types|²-row matrix — value
    cardinality, not events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    t = seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return t.withColumn(
        "prob_ppm",
        F.expr(
            "(n * 1000000) div sum(n) OVER (PARTITION BY prev_type)"
        ),  # exact integer div, matching the oracle's //
    )


@query(
    "join_asof_nearest_click",
    oracle="""
    WITH pur AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clk AS (
      SELECT user_id AS cu, event_id AS c_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    back AS (
      SELECT p.event_id, c.c_id AS b_id, c.c_ts AS b_ts
      FROM pur p ASOF LEFT JOIN clk c
        ON p.user_id = c.cu AND p.ts >= c.c_ts
    ),
    fwd AS (
      SELECT p.event_id, c.c_id AS f_id, c.c_ts AS f_ts
      FROM pur p ASOF LEFT JOIN clk c
        ON p.user_id = c.cu AND p.ts < c.c_ts
    )
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN f.f_id IS NULL THEN b.b_id
                WHEN b.b_id IS NULL THEN f.f_id
                WHEN epoch_us(p.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(p.ts) THEN b.b_id
                ELSE f.f_id END AS click_event_id,
           CASE WHEN f.f_id IS NULL THEN epoch_us(p.ts) - epoch_us(b.b_ts)
                WHEN b.b_id IS NULL THEN epoch_us(p.ts) - epoch_us(f.f_ts)
                WHEN epoch_us(p.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(p.ts)
                THEN epoch_us(p.ts) - epoch_us(b.b_ts)
                ELSE epoch_us(p.ts) - epoch_us(f.f_ts) END AS delta_us
    FROM pur p
    JOIN back b ON b.event_id = p.event_id
    JOIN fwd f ON f.event_id = p.event_id
    """,
)
def join_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (pandas ``merge_asof
    direction='nearest'``): each purchase attaches the click of the same
    user closest in time in EITHER direction — backward ties beat
    forward at equal distance (the earlier row wins, pandas semantics).
    ``join_asof_last_click`` is the backward member; this completes the
    direction family. ``delta_us`` is signed: positive when the match is
    in the past, negative when in the future.

    Both directional passes are the linear union+sort formulation
    (``operators.temporal.asof_join`` idiom) over the SAME user_id
    partitioning — the backward pass carries the last click forward, the
    forward pass carries the next click backward in one descending
    window — so the whole nearest join costs one shuffle, never a
    theta-join.

    Exactness: deltas are integer microseconds; ties break toward the
    backward match by the ``<=`` in the final CASE."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    tagged_p = pur.select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__side"),
        "event_id",
        "ts",
        F.lit(None).cast("long").alias("c_id"),
        F.lit(None).cast("timestamp").alias("c_ts"),
    )
    tagged_c = clk.select(
        F.col("cu").alias("__k"),
        F.col("c_ts").alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        "c_id",
        "c_ts",
    )
    u = tagged_p.unionByName(tagged_c)
    # Backward: clicks at ts <= purchase ts (right rows sort first at ties).
    wb = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward: clicks at ts > purchase ts — descending scan, clicks sort
    # first at equal __ts IN DESCENDING ORDER means side desc; a same-ts
    # click must NOT match forward (strict >), so purchases (side 1)
    # come first descending: order by (__ts desc, __side desc).
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").desc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        "*",
        F.last("c_id", ignorenulls=True).over(wb).alias("b_id"),
        F.last("c_ts", ignorenulls=True).over(wb).alias("b_ts"),
        F.last("c_id", ignorenulls=True).over(wf).alias("f_id"),
        F.last("c_ts", ignorenulls=True).over(wf).alias("f_ts"),
    ).filter(F.col("__side") == 1)
    d_b = F.expr("unix_micros(ts) - unix_micros(b_ts)")
    d_f = F.expr("unix_micros(f_ts) - unix_micros(ts)")
    pick_b = F.col("f_id").isNull() | (
        F.col("b_id").isNotNull() & (d_b <= d_f)
    )
    return filled.select(
        "event_id",
        F.col("__k").alias("user_id"),
        "ts",
        F.when(pick_b, F.col("b_id")).otherwise(F.col("f_id"))
        .alias("click_event_id"),
        F.when(pick_b, d_b).otherwise(-d_f).cast("long").alias("delta_us"),
    )
