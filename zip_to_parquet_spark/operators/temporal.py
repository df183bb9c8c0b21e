"""Temporal join operators Spark's built-ins don't provide directly:
as-of join and bounded range join, in shuffle-bounded formulations.

The reference has no joins at all (SURVEY.md §2 C — exhaustive absence);
these belong to the extension surface, shaped for 100 TB:

- ``asof_join``: the naive formulation (theta-join on key AND ts<=ts, then
  argmax) explodes to |left| × |matching right| intermediate rows. The
  union + sort + last(ignorenulls) formulation here is linear: ONE shuffle
  on the key, ONE sort per partition, no join blow-up — the standard
  fill-forward trick, and exactly what a time-series engine's as-of does
  physically (merge join on sorted streams).
- ``range_join_pairs``: bounded-interval self-pairing via time-bucket
  equi-join. Each left row joins only its own and the next bucket, so the
  shuffle key is (key, bucket) and candidate volume is bounded by local
  density × 2 buckets, never n².

``daily_revenue`` is the daily order-revenue series the time-series keys
(decomposition, rolling median, Theil-Sen, runs test) read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "asof_join",
    "range_join_pairs",
    "cogroup_attribution",
    "daily_revenue",
    "funnel_stage_counts",
    "retention_cohorts",
]


def funnel_stage_counts(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-sequence funnel over ``(user_id, ts, event_type)`` events:
    how many users reached step 1, then step 2
    strictly after their matched step 1, and so on (the product-analytics
    funnel; greedy earliest-match semantics, which equals the staged
    ``min(ts) > previous`` formulation and is what the oracle computes).

    One shuffle total: events filtered to funnel steps groupBy the user,
    each user's (few) step events fold in timestamp order through a
    codegen'd ``aggregate`` state machine — no join per stage, no repeated
    passes over the events table. The per-user partial lists are bounded
    by that user's step-event count, not corpus size. The stage→count
    rollup at the end runs over one row per user.

    Returns ``(stage, step_name, users_reached)`` — one row per step,
    ``users_reached`` counting users whose fold reached at least that
    stage.

    The one funnel operator. A chunked form (per-(user, day) transition
    tables composed per user) bounded a hot user's per-task state, but it
    paid a second shuffle and ran slower: events_funnel at sf0.1, local[4],
    five interleaved ``scripts/ab.py`` passes with the key alone in each
    fresh process, 1.54 s here against 1.98 s (minima; every pass
    slower). It was deleted.
    """
    ev = events.filter(F.col("event_type").isin(*steps)).select(
        F.col("user_id").alias("__u"),
        F.unix_micros(F.col("ts")).alias("__us"),
        F.col("event_type").alias("__t"),
    )
    per_user = ev.groupBy("__u").agg(
        F.array_sort(F.collect_list(F.struct("__us", "__t"))).alias("__evs")
    )
    zero = F.struct(
        F.lit(0).alias("stage"), F.lit(-(2**62)).cast("long").alias("last_us")
    )

    def step_fold(acc, x):
        out = None
        for i, name in enumerate(steps):
            cond = (
                (acc.getField("stage") == i)
                & (x.getField("__t") == name)
                & (x.getField("__us") > acc.getField("last_us"))
            )
            adv = F.struct(
                F.lit(i + 1).alias("stage"),
                x.getField("__us").alias("last_us"),
            )
            out = F.when(cond, adv) if out is None else out.when(cond, adv)
        return out.otherwise(acc)

    reached = per_user.select(
        F.aggregate("__evs", zero, step_fold).getField("stage").alias("stage")
    )
    return _stage_rollup(reached, steps)


def _stage_rollup(reached: DataFrame, steps: list[str]) -> DataFrame:
    """(stage) per user → one row per step with users_reached counts.
    Right join FROM the (broadcast, |steps|-row) step table so a stage
    nobody reached still emits its row with users_reached = 0 (count of
    matched rows, not of join rows)."""
    stage_tbl = reached.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], "stage INT, step_name STRING"
    )
    return (
        reached.join(
            F.broadcast(stage_tbl),
            reached["stage"] >= stage_tbl["stage"],
            "right",
        )
        .groupBy(stage_tbl["stage"].alias("stage"), "step_name")
        .agg(F.count(reached["stage"]).cast("bigint").alias("users_reached"))
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix of ``(user_id, ts)`` events: users grouped
    by first-active date, counted
    on each later active date as a day offset — the classic growth-
    analytics triangle.

    Everything is pre-aggregated before any join: active days are
    ``distinct (user, date)``, cohorts are a ``min`` over that, and the
    user-keyed shuffle join runs aggregated-side × aggregated-side (never
    raw events × raw events). All shuffles key on ``user_id`` /
    ``(cohort_date, day_offset)`` — uniform keys at any scale.
    """
    days = events.select(
        F.col("user_id").alias("__u"), F.to_date(F.col("ts")).alias("__d")
    ).distinct()
    first = days.groupBy("__u").agg(F.min("__d").alias("cohort_date"))
    return (
        days.join(first, "__u")
        .groupBy(
            "cohort_date",
            F.datediff(F.col("__d"), F.col("cohort_date"))
            .cast("int")
            .alias("day_offset"),
        )
        .agg(F.count_distinct(F.col("__u")).cast("bigint").alias("users"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """For each left row, attach the payload of the latest right row with
    ``right.ts <= left.ts`` and the same key (left join: nulls if none).

    Both inputs are unioned with a side tag, sorted once per key by
    (ts, side) — right rows sort before left rows at equal timestamps, so
    an exactly-simultaneous right row IS matched (``<=`` semantics, the
    same as DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``).
    """
    lcols = left.columns
    tagged_r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
        *[F.lit(None).alias(f"__l_{c}") for c in lcols],
    )
    tagged_l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_payload],
        *[F.col(c).alias(f"__l_{c}") for c in lcols],
    )
    unioned = tagged_l.unionByName(tagged_r)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__f_{c}")
            for c in right_payload
        ],
    )
    return filled.filter(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in lcols],
        *[F.col(f"__f_{c}").alias(c) for c in right_payload],
    )


def range_join_pairs(df: DataFrame, key: str, payload: list[str]) -> DataFrame:
    """Self range join: all ordered pairs (a, b) with the same key and
    ``a.ts < b.ts <= a.ts + 300 s``.

    Bucketing: with bucket width == the 300 s gap, any qualifying b lives in
    a's bucket or the next one. The left side duplicates each row into
    those two bucket keys, then an equi-join on (key, bucket) + the exact
    range filter gives completeness without any theta/cross join.
    """
    gap_us = 300_000_000
    us = F.unix_micros(F.col("ts"))
    base = df.select(
        F.col(key).alias("__k"),
        us.alias("__us"),
        *[F.col(c) for c in payload],
    )
    a = base.select(
        "*", F.explode(F.array(us_b := (F.col("__us") / gap_us).cast("long"), us_b + 1)).alias("__bucket")
    )
    b = base.select(
        F.col("__k").alias("__k_b"),
        (F.col("__us") / gap_us).cast("long").alias("__bucket"),
        F.col("__us").alias("__us_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return (
        a.join(
            b,
            (F.col("__k") == F.col("__k_b"))
            & (a["__bucket"] == b["__bucket"])
            & (F.col("__us_b") > F.col("__us"))
            & (F.col("__us_b") <= F.col("__us") + gap_us),
        )
        .select(
            F.col("__k").alias(key),
            *[F.col(c) for c in payload],
            *[F.col(f"{c}_b") for c in payload],
        )
    )


def cogroup_attribution(purchases, clicks):
    """Per-user conversion attribution via COGROUPED applyInPandas → one
    row per purchase ``(user_id, purchase_event_id, n_prior_clicks,
    attributed)``: the count of the same user's clicks strictly before
    the purchase and within 30 minutes (the stream_stream_join
    interval semantics, batch-side).

    Exists to exercise the one Pandas-on-Spark execution mechanism the
    library didn't yet use: ``groupBy().cogroup().applyInPandas`` — both
    relations shuffle ONCE on the user key and arrive as per-user pandas
    frames in the same task (Arrow both ways), the right tool when the
    per-key logic wants imperative two-table code (attribution models,
    reconciliation, replay) that neither a join nor a single-table UDF
    expresses cleanly.

    Scale: one user-keyed shuffle per side; a hot user's whole history
    lands in one task — the documented trade of every cogroup/grouped-map
    (the skew-resilient alternative when that bites is an FSM/join
    formulation). Timestamp math is
    integer microseconds on datetime64 values — exact, no float seam.
    """
    import numpy as np
    import pandas as pd

    delta = np.timedelta64(30 * 60_000_000, "us")

    def reconcile(pdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "purchase_event_id": pd.Series(dtype="int64"),
                    "n_prior_clicks": pd.Series(dtype="int64"),
                    "attributed": pd.Series(dtype="bool"),
                }
            )
        # Vectorized interval count: clicks in [pts − delta, pts) per
        # purchase via two binary searches over the sorted click times —
        # O((P+C) log C), so a hot user's task does numpy work, not an
        # O(P·C) interpreted loop. Exact integer-microsecond datetime64
        # comparisons; c == pts−delta included, c == pts excluded —
        # identical to the interval-join oracle.
        cts = np.sort(cdf["ts"].to_numpy()) if not cdf.empty else np.array(
            [], dtype="datetime64[ns]"
        )
        pts = pdf["ts"].to_numpy()
        n = (
            np.searchsorted(cts, pts, side="left")
            - np.searchsorted(cts, pts - delta, side="left")
        ).astype("int64")
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].astype("int64"),
                "purchase_event_id": pdf["event_id"].astype("int64"),
                "n_prior_clicks": pd.Series(n, dtype="int64"),
                "attributed": pd.Series(n > 0, dtype="bool"),
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            schema=(
                "user_id long, purchase_event_id long,"
                " n_prior_clicks long, attributed boolean"
            ),
        )
    )


def daily_revenue(orders: DataFrame) -> DataFrame:
    """Daily order revenue ``(i, rev)`` of the ``orders`` table: ``i`` the
    tz-free epoch-day index of ``o_orderdate``, ``rev`` the day's summed
    ``o_totalprice`` in integer cents. The one corpus-sized stage of the
    daily time-series keys; everything after it runs on the
    calendar-bounded series."""
    return (
        orders.select(
            F.expr("datediff(cast(o_orderdate as date), date'1970-01-01')")
            .cast("long")
            .alias("i"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("i")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
