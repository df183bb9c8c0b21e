"""Oracle-checked Structured Streaming queries (SURVEY.md §2 E extension).

Each callable runs a real streaming query (file source → watermark →
stateful operator → memory sink) drained with ``Trigger.AvailableNow`` over
the bounded events fixture, then returns the sink contents as a batch
DataFrame. On bounded single-file input the final state is deterministic,
so these get FULL value oracles, not rows-only checks:

- complete-mode aggregations emit exactly the final state;
- update-mode emissions equal final state because one file → one
  micro-batch (documented single-batch caveat in streams.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zip_to_parquet_spark.plans.analytics import (
    _STRICT_FUNNEL_ORACLE,
    _strict_pairs_daily,
)
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.plans.relational import _TUMBLE_ORACLE
from zip_to_parquet_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    sessionized_stream,
    stateful_user_totals,
    windowed_counts,
)


@query("stream_tumbling_window", oracle=_TUMBLE_ORACLE)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming tumbling-window agg; complete-mode final state
    == the batch answer, hence the same oracle as events_tumbling_window."""
    return run_stream_to_memory(
        windowed_counts(read_events_stream(spark, sf_dir)), "complete", "tumble"
    )


@query(
    "stream_hopping_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - (o.off * INTERVAL '30 minutes') AS window_start,
           event_type,
           count(*) AS n_events,
           (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    GROUP BY 1, 2
    """,
)
def stream_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window streaming agg: 1-hour windows every 30
    minutes — each event contributes to exactly window/slide = 2 windows.
    The oracle replicates each event into its 2 hop starts
    (time_bucket(slide) minus hop offsets; Spark hop starts are
    epoch-aligned to the slide, and both engines' 30-minute origins
    coincide). Complete-mode final state == the batch answer."""
    return run_stream_to_memory(
        windowed_counts(read_events_stream(spark, sf_dir), slide="30 minutes"),
        "complete",
        "hop",
    )


@query(
    "stream_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events,
           (sum(value::DECIMAL(18,2)))::DOUBLE AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30 min gap). Note the boundary
    semantics: Spark's session_window merges an event only if it falls
    STRICTLY inside [start, last+gap), so a gap of exactly 30:00 starts a
    new session — hence `>=` in the oracle's new-session flag (the batch
    events_sessionize keeps the reference `>` semantics; the fixture's µs
    timestamps make exact-boundary gaps measure-zero anyway)."""
    return run_stream_to_memory(
        sessionized_stream(read_events_stream(spark, sf_dir)), "complete", "sess"
    )


@query(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, (sum(value::DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user totals; single-batch update emissions == final totals."""
    return run_stream_to_memory(
        stateful_user_totals(read_events_stream(spark, sf_dir)), "update", "totals"
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id,
           c.event_id AS click_event_id,  c.ts AS click_ts,
           p.event_id AS purchase_event_id, p.ts AS purchase_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts < p.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ← clicks within 30 min, same
    user), both sides watermarked so join state expires. Inner join ⇒
    bounded append-mode drain == the batch interval join, hence the full
    oracle."""
    from zip_to_parquet_spark.streaming import clicks_to_purchases_join

    ev1 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    ev2 = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return run_stream_to_memory(
        clicks_to_purchases_join(ev1, ev2), "append", "ssjoin"
    )


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first arrival per (user_id, event_type) via
    dropDuplicatesWithinWatermark — dedup state is keyed by the subset and
    expires with the watermark, so it stays bounded on an infinite stream
    (plain dropDuplicates would grow state forever). Projected to the key
    columns, the bounded drain equals DISTINCT keys — full oracle."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return run_stream_to_memory(
        deduped.select("user_id", "event_type"), "append", "dedupkeys"
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_nationkey AS nation_key, count(*) AS n_events,
           (sum(e.value::DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining streaming join
    mechanism (vs the stream-stream interval join): each micro-batch
    joins against a STATIC broadcast dimension (no state, no watermark
    needed on the static side — Spark re-plans the broadcast per batch,
    which is also how slowly-changing dims get picked up on restart).
    Events enrich with the customer's nation, then a complete-mode
    per-nation rollup; final state == the batch join + groupBy, hence
    the full oracle. Exact-decimal value sums (the q1 discipline)."""
    from zip_to_parquet_spark.schema import load_table

    ev = read_events_stream(spark, sf_dir)
    dims = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = ev.join(F.broadcast(dims), ev["user_id"] == dims["c_custkey"])
    agg = joined.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_stream_to_memory(agg, "complete", "enrich")


@query(
    "stream_watermark_late_drop",
    oracle="""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
    ),
    th AS (
      SELECT mn + (mx - mn) * 6 // 10 AS t1,
             mn + (mx - mn) * 9 // 10 AS t2,
             mx - 600000000           AS wm   -- max event time − 10 min
      FROM b
    ),
    kept AS (  -- the late file (t1 <= ts < t2) is dropped wholesale
      SELECT e.* FROM events e, th
      WHERE epoch_us(e.ts) < th.t1 OR epoch_us(e.ts) >= th.t2
    )
    SELECT time_bucket(INTERVAL '1 hour', k.ts) AS window_start,
           k.event_type,
           count(*) AS n_events,
           (sum(k.value::DECIMAL(18,2)))::DOUBLE AS total_value
    FROM kept k, th
    -- append mode emits only windows the final watermark has closed
    WHERE epoch_us(time_bucket(INTERVAL '1 hour', k.ts)) + 3600000000
          <= th.wm
    GROUP BY 1, 2
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked aggregation over a 3-stage replay proving
    both halves of the watermark contract on real micro-batches:

    1. LATE DATA IS DROPPED: the middle 30% of the events (by time)
       arrives two batches after the newest data, far below the
       then-current watermark (global max − 10 min), so every row of it
       is discarded — the oracle's ``kept`` set excludes that time band
       entirely.
    2. APPEND EMITS ONLY CLOSED WINDOWS: the final sink contents are the
       windows whose end ≤ final watermark; the newest partial window
       stays in state and never reaches the sink — the oracle's emission
       predicate mirrors this exactly.

    Window ends are hour-aligned while the watermark carries the max
    event's sub-hour offset, so no window end ever EQUALS the watermark
    and the ≤-vs-< eviction boundary cannot flake the hash.

    Scale shape: identical to stream_tumbling_window (state keyed on
    (window, event_type), store count pinned by run_stream_to_memory);
    the watermark bounds state at ~1 open hour per key no matter how long
    the stream runs — THE property that makes this viable on an unbounded
    100 TB/day topic."""
    from zip_to_parquet_spark.streaming import read_events_stream_staged

    return run_stream_to_memory(
        windowed_counts(read_events_stream_staged(spark, sf_dir)),
        "append",
        "late_drop",
    )


@query(
    "stream_stream_left_outer",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 10 MINUTE AS w
    ),
    pairs AS (
      SELECT p.user_id,
             c.event_id AS click_event_id,  c.ts AS click_ts,
             p.event_id AS purchase_event_id, p.ts AS purchase_ts
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND c.ts < p.ts
       AND p.ts <= c.ts + INTERVAL '30 minutes'
    )
    SELECT * FROM pairs
    UNION ALL
    SELECT p.user_id,
           NULL::BIGINT    AS click_event_id,
           NULL::TIMESTAMP AS click_ts,
           p.event_id      AS purchase_event_id,
           p.ts            AS purchase_ts
    FROM events p, wm
    WHERE p.event_type = 'purchase'
      AND p.event_id NOT IN (SELECT purchase_event_id FROM pairs)
      AND p.ts < wm.w
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantic the inner
    key can't show: a purchase with no qualifying click emits ONCE with
    NULL click columns, but only after the watermark proves no future
    click can still match it. Two empirically-pinned subtleties the
    oracle mirrors exactly:

    * the global watermark is the MIN of the two sides' own watermarks
      (each derived from ITS stream's max event time — here the click
      stream ends hours before the purchase stream, so the LAST CLICK
      gates every null emission; Spark's multipleWatermarkPolicy=min
      default);
    * unmatched purchases NEWER than that watermark stay in join state,
      unemitted on a bounded drain (the oracle's ``ts < wm`` predicate;
      window ends carry microsecond offsets so the <-vs-≤ boundary
      cannot flake).

    Matched pairs are watermark-independent (emitted on match, any
    batch). State stays bounded exactly as in the inner case: the event-
    time bound lets Spark expire both sides' buffers."""
    from pyspark.sql import functions as SF

    from zip_to_parquet_spark.streaming.streams import (
        clicks_to_purchases_join,
    )

    ev = read_events_stream(spark, sf_dir)
    clicks = ev.filter(SF.col("event_type") == "click")
    purchases = ev.filter(SF.col("event_type") == "purchase")
    return run_stream_to_memory(
        clicks_to_purchases_join(clicks, purchases, how="left_outer"),
        "append",
        "ss_left_outer",
    )


@query("stream_pattern_strict_funnel", oracle=_STRICT_FUNNEL_ORACLE)
def stream_pattern_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strict-contiguity CEP funnel (events_pattern_strict_funnel) as
    a STREAMING stateful automaton: three time-ordered micro-batches,
    per-user state = the last (type, µs) pair only, matches emitted as
    they complete — including the pairs whose view and purchase arrive in
    DIFFERENT micro-batches, which the carried state stitches. The drain
    equals the batch answer, so the SAME full value oracle checks a
    custom applyInPandasWithState operator bit-for-bit (the streaming
    family's strongest correctness contract: mechanism changes, hash
    must not). The daily rollup runs batch-side on the drained matches."""
    from zip_to_parquet_spark.streaming.streams import (
        read_events_stream_ordered,
        strict_pairs_stateful,
    )

    ev = read_events_stream_ordered(spark, sf_dir)
    matches = run_stream_to_memory(
        strict_pairs_stateful(ev), "update", "strict_pairs"
    )
    return _strict_pairs_daily(matches)
