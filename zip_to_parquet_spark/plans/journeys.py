"""User-journey & document-analysis wave: multi-touch attribution,
session path mining, readability grading, seasonal decomposition, and
two-factor exact OLS.

Five operator families the registry did not yet cover: conversion-credit
assignment across prior touchpoints (the marketing-attribution staple —
distinct from the funnel keys, which count stage reachability, and the
Markov key, which models transitions), ordered session-path frequency
mining (the "top user journeys" report), Flesch–Kincaid-style
readability scoring (a named text-quality metric the Gopher-rule and
quality-score keys don't compute), classical additive seasonal
decomposition by centered moving average (the trend/seasonal split the
forecast keys consume), and multiple linear regression via exact normal
equations (the two-predictor extension of ``stats_groupwise_linreg``).

House determinism rules throughout (see plans/analytics.py): money →
integer cents, ratios → integer milli/micro via truncating ``div``
(Spark ``div`` and DuckDB ``//`` both truncate toward zero, verified
including negatives), big products → Spark DECIMAL(38,0) ↔ DuckDB
HUGEINT, ties broken on ids. No float arithmetic reaches any output
column, so every key carries a full DuckDB value-hash oracle.

Reference provenance: the reference CLI (/root/reference/src/builder.rs
:1-322) has no analytics surface; these keys extend the mandated
training-data/analytics pipeline families on the fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zip_to_parquet_spark.operators.graph import basket_pair_counts
from zip_to_parquet_spark.operators.multimodal import (
    png_ahash_bands,
    synth_png,
)
from zip_to_parquet_spark.operators.temporal import daily_revenue
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.runtime import spread
from zip_to_parquet_spark.schema import load_table

# Its own statement: the window-policy differ then counts only the keys
# that use D38 as changed by it, not every key that calls load_table.
from zip_to_parquet_spark.schema import D38  # noqa: E402


def _touches_before_conversion(events: DataFrame) -> DataFrame:
    """Every ``purchase`` (a conversion) of ``events`` paired with the
    same user's ``view``/``click`` touches in the strict 7-day lookback
    before it → ``(user_id, conv_id, conv_ts, t_id, t_ts, t_type)``. An
    equi-join on user_id: per-user fanout is bounded by one user's 7-day
    activity, never a cross join."""
    conv = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = events.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
    )
    return conv.join(touch, "user_id").filter(
        (F.col("t_ts") < F.col("conv_ts"))
        & (F.col("t_ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS"))
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution: split each conversion's credit evenly
# across its prior touches inside a lookback window.
# ---------------------------------------------------------------------------
@query(
    "events_attribution_linear",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS t_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT c.conv_id, t.t_id, t.t_type, t.t_ts
      FROM conv c JOIN touch t ON c.user_id = t.user_id
      WHERE t.t_ts < c.conv_ts AND t.t_ts >= c.conv_ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT t_type,
             CASE WHEN row_number() OVER
                         (PARTITION BY conv_id
                          ORDER BY t_ts DESC, t_id DESC) = 1
                  THEN 1000 - (count(*) OVER (PARTITION BY conv_id) - 1)
                             * (1000 // count(*) OVER (PARTITION BY conv_id))
                  ELSE 1000 // count(*) OVER (PARTITION BY conv_id)
             END AS credit
      FROM j
    )
    SELECT t_type AS event_type,
           count(*)::BIGINT AS touches,
           sum(credit)::BIGINT AS credit_milli
    FROM credited GROUP BY t_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (even-split) multi-touch attribution: every ``purchase`` is a
    conversion worth 1000 credit-milli, divided evenly across that user's
    ``view``/``click`` touches in the strict 7-day lookback before it;
    the integer-division remainder goes to the most recent touch (ties on
    event_id) so each conversion's credit sums to exactly 1000. Rolled up
    by touch type — the channel-credit report.

    Exactness: timestamps compare at native microsecond precision; the
    per-conversion split is pure integer arithmetic (``1000 div n``
    truncates identically in both engines), so credit conservation and
    the rollup are bit-exact.

    Scale shape: an equi-join on user_id (per-user fanout is bounded by
    one user's 7-day activity — never a cross join; AQE handles hot
    users), then two windows both partitioned by conversion id (same
    shuffle key) and one 2-row rollup. No corpus-sized window, no
    collect."""
    j = _touches_before_conversion(load_table(spark, sf_dir, "events"))
    wn = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    n = F.count(F.lit(1)).over(wn)
    base = F.expr("1000").cast("long")
    share = F.expr(f"{1000} div __n")
    credited = j.select(
        "t_type", n.alias("__n"), F.row_number().over(wr).alias("__rn")
    ).select(
        "t_type",
        F.when(
            F.col("__rn") == 1,
            base - (F.col("__n") - 1) * share,
        )
        .otherwise(share)
        .alias("credit"),
    )
    return credited.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("touches"),
        F.sum("credit").cast("long").alias("credit_milli"),
    )


# ---------------------------------------------------------------------------
# Session path mining: top-20 event-type journeys (first 4 steps).
# ---------------------------------------------------------------------------
@query(
    "events_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    ranked AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER
               (PARTITION BY user_id, session_id
                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 4
      GROUP BY user_id, session_id
    )
    SELECT path, count(*)::BIGINT AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys: 30-minute-gap sessionization (the
    ``events_sessionize`` idiom — lag → flag → running sum, one shuffle
    on user_id shared by all three window steps), then each session's
    path is its first four event types in time order joined with ``>``,
    counted across sessions. The "common user journeys" report that
    funnels (fixed stage order) and Markov transitions (memoryless
    pairs) don't give.

    Exactness: path assembly is ordered string concatenation with
    (ts, event_id) tie-breaks; counts are integers; the final top-20 is
    totally ordered by (count DESC, path ASC) — paths are unique after
    the group-by, so the cut is deterministic.

    Scale shape: all three windows and the path group-by partition by
    user_id(, session_id) — one shuffle; the path-frequency rollup keys
    on path strings whose cardinality is bounded by |event_type|^4
    (here ≤ 5^4), so the global top-20 sort is on a tiny aggregate,
    the two-pass topk contract."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    wrn = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(wrn))
    paths = (
        ranked.filter(F.col("rn") <= 4)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Flesch–Kincaid-style readability grading in integer milli.
# ---------------------------------------------------------------------------
@query(
    "text_readability_fk",
    oracle="""
    WITH m AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '[a-z]+'))::BIGINT AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
               AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
               AS syllables
      FROM documents
    ),
    g AS (
      SELECT source, words, sentences, syllables,
             (390 * words) // sentences
               + (11800 * syllables) // greatest(words, 1)
               - 15590 AS grade_milli
      FROM m
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(words)::BIGINT AS total_words,
           sum(syllables)::BIGINT AS total_syllables,
           (sum(grade_milli) // count(*))::BIGINT AS avg_grade_milli
    FROM g GROUP BY source
    """,
)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade-level readability, the named text-quality
    metric (Kincaid et al. 1975): ``0.39·(words/sentence) +
    11.8·(syllables/word) − 15.59``, computed per document in exact
    integer milli (syllables ≈ vowel-group count, the standard cheap
    heuristic) and averaged per source. Complements the ratio-based
    ``text_quality_score`` and Gopher gates with the formula corpus
    curators actually quote. The fixture corpus has no sentence
    punctuation, so ``greatest(sentences, 1)`` treats each document as
    one sentence — the guard, not an assumption, and it is exercised.

    Exactness: the three token counters are non-overlapping regex match
    counts over simple ASCII classes (identical RE semantics in Spark's
    Java regex and DuckDB's RE2); the grade and the per-source mean use
    truncating integer division only.

    Scale shape: map-only per-document scoring inside the scan stage
    (no UDF — ``regexp_count`` is codegen'd), then one partial-agg
    group-by on the low-cardinality source key."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    m = d.select(
        "source",
        F.regexp_count(lowered, F.lit("[a-z]+")).cast("long").alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
        F.regexp_count(lowered, F.lit("[aeiouy]+"))
        .cast("long")
        .alias("syllables"),
    )
    g = m.withColumn(
        "grade_milli",
        F.expr(
            "(390 * words) div sentences"
            " + (11800 * syllables) div greatest(words, 1) - 15590"
        ),
    )
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("total_words"),
        F.sum("syllables").cast("long").alias("total_syllables"),
        F.expr("sum(grade_milli) div count(*)")
        .cast("long")
        .alias("avg_grade_milli"),
    )


def _detrended_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-revenue series minus its centred 7-row moving-average
    trend → ``(i, weekday_idx, detrended)``; edge rows without a full
    7-row window drop out. Shared by ``ts_ma_decompose`` and
    ``events_anomaly_deseasonalized``."""
    w = Window.orderBy("i").rowsBetween(-3, 3)
    t = daily_revenue(load_table(spark, sf_dir, "orders")).select(
        "i",
        "rev",
        F.sum("rev").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    )
    return t.filter(F.col("c7") == 7).select(
        "i",
        F.expr("i % 7").alias("weekday_idx"),
        F.expr("rev - s7 div 7").alias("detrended"),
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition by centered moving average.
# ---------------------------------------------------------------------------
@query(
    "ts_ma_decompose",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
               AS i,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT i, rev,
             sum(rev) OVER w AS s7,
             count(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY i ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    d AS (
      SELECT i % 7 AS weekday_idx, rev - s7 // 7 AS detrended
      FROM t WHERE c7 = 7
    )
    SELECT weekday_idx,
           count(*)::BIGINT AS n_days,
           (sum(detrended) // count(*))::BIGINT AS seasonal_cents
    FROM d GROUP BY weekday_idx
    """,
)
def ts_ma_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the ``decompose`` every
    stats package ships): centered 7-row moving-average trend over the
    observed daily-revenue series, detrend, then the weekly seasonal
    component as the per-weekday mean of the detrended values — the
    trend/seasonal split the seasonal-naive and Holt forecast keys
    consume. Edge rows without a full 7-row window are excluded (the
    textbook treatment); the fixture's few missing days make this a
    rows-window over the observed series, the same contract as
    ``ts_rolling_median``.

    Exactness: revenue is integer cents; trend is ``sum div 7`` and the
    seasonal mean ``sum div n`` — truncating division toward zero in
    both engines, including negative detrended values (the pinned
    div-parity rule); weekday is ``epoch_day % 7`` (positive), not a
    locale-dependent dayofweek.

    Scale shape: one corpus-sized rollup to the daily grain, then one
    ordered 7-row window over the calendar-bounded series (entity-
    partitioned in a multi-series deployment) and a 7-row group-by."""
    return _detrended_daily(spark, sf_dir).groupBy("weekday_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("sum(detrended) div count(*)")
        .cast("long")
        .alias("seasonal_cents"),
    )


# ---------------------------------------------------------------------------
# Two-predictor OLS by exact normal equations (Cramer's rule).
# ---------------------------------------------------------------------------
@query(
    "stats_ols_two_factor",
    oracle="""
    WITH per_order AS (
      SELECT l.l_orderkey,
             (((o.o_totalprice::DECIMAL(12,2) * 100)::BIGINT) // 100)::BIGINT
               AS y,
             count(*)::BIGINT AS x1,
             sum(l.l_quantity::BIGINT)::BIGINT AS x2
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey, o.o_totalprice
    ),
    s AS (
      SELECT count(*)::HUGEINT AS n,
             sum(x1)::HUGEINT AS sx1, sum(x2)::HUGEINT AS sx2,
             sum(y)::HUGEINT AS sy,
             sum(x1 * x1)::HUGEINT AS sx11,
             sum(x2 * x2)::HUGEINT AS sx22,
             sum(x1 * x2)::HUGEINT AS sx12,
             sum(x1 * y)::HUGEINT AS sx1y,
             sum(x2 * y)::HUGEINT AS sx2y
      FROM per_order
    ),
    m AS (
      SELECT n, sx1, sx2, sy,
             n * sx11 - sx1 * sx1 AS a11,
             n * sx22 - sx2 * sx2 AS a22,
             n * sx12 - sx1 * sx2 AS a12,
             n * sx1y - sx1 * sy AS b1,
             n * sx2y - sx2 * sy AS b2
      FROM s
    )
    SELECT n::BIGINT AS n_orders,
           ((1000000 * (a22 * b1 - a12 * b2))
              // (a11 * a22 - a12 * a12))::BIGINT AS beta1_micro,
           ((1000000 * (a11 * b2 - a12 * b1))
              // (a11 * a22 - a12 * a12))::BIGINT AS beta2_micro,
           ((1000000 * sy
             - ((1000000 * (a22 * b1 - a12 * b2))
                  // (a11 * a22 - a12 * a12)) * sx1
             - ((1000000 * (a11 * b2 - a12 * b1))
                  // (a11 * a22 - a12 * a12)) * sx2)
              // n)::BIGINT AS intercept_micro
    FROM m
    """,
)
def stats_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression with two predictors by exact normal
    equations: regress order value (whole currency units) on line count
    and total quantity, solving the 2×2 system via Cramer's rule on
    integer moment sums — the multi-factor extension of
    ``stats_groupwise_linreg`` (which is single-predictor). Slopes and
    intercept come out in micro-units via one truncating division each,
    so both engines floor the same rationals. Orders with no lineitems
    (257 in the fixture) are outside the sample by the inner join.

    Exactness: all nine moment sums are exact integers; the normal-
    equation determinants multiply in Spark DECIMAL(38,0) ↔ DuckDB
    HUGEINT. Magnitude envelope: |1e6·(a·b)| ≤ ~1e35 at sf0.1
    (documented headroom to DECIMAL(38)); at sf≥1 the same plan needs
    group-scoped regressions (per region/segment) to stay in range —
    the per-group variant is exactly ``stats_groupwise_linreg``'s
    shape.

    Scale shape: one equi-join lineitem⋈orders on the order key, one
    partial-agg rollup to per-order rows, then a single 9-sum reduce to
    one row — no window, no collect, no second pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "cast(cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)"
            " div 100 as bigint)"
        ).alias("y"),
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x1"),
            F.sum("qty").cast("long").alias("x2"),
        )
    )
    s = per_order.agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("x1").cast(D38).alias("sx1"),
        F.sum("x2").cast(D38).alias("sx2"),
        F.sum("y").cast(D38).alias("sy"),
        F.sum(F.expr("x1 * x1")).cast(D38).alias("sx11"),
        F.sum(F.expr("x2 * x2")).cast(D38).alias("sx22"),
        F.sum(F.expr("x1 * x2")).cast(D38).alias("sx12"),
        F.sum(F.expr("x1 * y")).cast(D38).alias("sx1y"),
        F.sum(F.expr("x2 * y")).cast(D38).alias("sx2y"),
    )
    m = s.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        F.expr("n * sx11 - sx1 * sx1").alias("a11"),
        F.expr("n * sx22 - sx2 * sx2").alias("a22"),
        F.expr("n * sx12 - sx1 * sx2").alias("a12"),
        F.expr("n * sx1y - sx1 * sy").alias("b1"),
        F.expr("n * sx2y - sx2 * sy").alias("b2"),
    )
    # nullif: collinear factors (singular normal matrix, det = 0) must
    # yield NULL betas in both engines — DuckDB's //0 is NULL while
    # Spark's ANSI div raises (degenerate_sweep.py finding, r11). The
    # intercept then NULLs through the b1m/b2m casts.
    det = "nullif(a11 * a22 - a12 * a12, 0)"
    b1m = f"(cast(1000000 as {D38}) * (a22 * b1 - a12 * b2)) div {det}"
    b2m = f"(cast(1000000 as {D38}) * (a11 * b2 - a12 * b1)) div {det}"
    return m.select(
        F.col("n").cast("long").alias("n_orders"),
        F.expr(b1m).cast("long").alias("beta1_micro"),
        F.expr(b2m).cast("long").alias("beta2_micro"),
        F.expr(
            f"(cast(1000000 as {D38}) * sy"
            f" - cast({b1m} as {D38}) * sx1"
            f" - cast({b2m} as {D38}) * sx2) div n"
        )
        .cast("long")
        .alias("intercept_micro"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dedup (aHash + band LSH + hamming verify).
# ---------------------------------------------------------------------------
@query(
    "multimodal_ahash_dedup",
    oracle="""
    WITH img AS (
      SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id % 7) * 3 AS h
      FROM documents WHERE doc_id % 2 = 0
    ),
    grid AS (SELECT gx.range AS x, gy.range AS y
             FROM range(0, 8) gx, range(0, 8) gy),
    samp AS (
      SELECT i.doc_id, g.x, g.y,
             (((g.x * i.w) // 8) + 2 * ((g.y * i.h) // 8) + i.doc_id) % 251
               AS px
      FROM img i, grid g
    ),
    tot AS (SELECT doc_id, sum(px) AS s FROM samp GROUP BY doc_id),
    bits AS (
      SELECT s.doc_id, (s.y * 8 + s.x) AS k,
             CASE WHEN 64 * s.px > t.s THEN 1 ELSE 0 END AS b
      FROM samp s JOIN tot t USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, (k // 16) AS band_idx,
             sum(b * (1::BIGINT << (k % 16)))::BIGINT AS band_val
      FROM bits GROUP BY doc_id, k // 16
    ),
    safe AS (
      SELECT band_idx, band_val FROM bands
      GROUP BY 1, 2 HAVING count(*) <= 64
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN safe s USING (band_idx, band_val)
           JOIN bands b USING (band_idx, band_val)
      WHERE a.doc_id < b.doc_id
    ),
    sig AS (SELECT doc_id, list(band_val ORDER BY band_idx) AS sg
            FROM bands GROUP BY doc_id),
    ham AS (
      SELECT bit_count(xor(sa.sg[1], sb.sg[1]))
           + bit_count(xor(sa.sg[2], sb.sg[2]))
           + bit_count(xor(sa.sg[3], sb.sg[3]))
           + bit_count(xor(sa.sg[4], sb.sg[4])) AS d
      FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                  JOIN sig sb ON sb.doc_id = c.id_b
    )
    SELECT d::BIGINT AS hamming_d, count(*)::BIGINT AS n_pairs
    FROM ham WHERE d <= 6 GROUP BY d
    """,
)
def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual average-hash: decode
    each synthetic PNG through the REAL codec path, point-sample an 8×8
    aHash (64 bits as four 16-bit band ints), generate candidates via
    the simhash pigeonhole rule (any shared band ⇒ hamming candidate),
    verify by exact popcount distance, and report the near-dup pair
    histogram at d ≤ 6. The image-modality member of the dedup family
    (exact/minhash/simhash/embedding cover text; this covers pixels).
    The hot-bucket guard is ON by default — band values with df > 64
    are excluded from candidate generation (the r4 lesson: skew guards
    must be the registered default), and the oracle applies the same df
    filter, so the contract is hash-checked, not advisory.

    Exactness: the oracle predicts every sampled pixel from the
    generative spec ``(x + 2y + id) mod 251`` — so the decode chain
    (CRC, inflate, defilter, grid sampling, strict 64·px > Σ threshold)
    is value-verified end-to-end; distances are integer popcounts.

    Scale shape: map-only Arrow decode, then an inverted-index band
    join (bounded buckets by the df guard) — candidate volume is
    Σ bucket², never n²; the verify step joins two int columns per side
    and the output is a ≤7-row histogram."""
    d = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 0)
    )
    feats = png_ahash_bands(synth_png(d))
    long = feats.selectExpr(
        "doc_id",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (band_idx, band_val)",
    )
    safe = (
        long.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 64)
        .drop("__df")
    )
    guarded = long.join(safe, ["band_idx", "band_val"])
    a = guarded.select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_val"
    )
    b = long.select(F.col("doc_id").alias("id_b"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fa = feats.select(
        F.col("doc_id").alias("id_a"),
        F.col("b0").alias("a0"),
        F.col("b1").alias("a1"),
        F.col("b2").alias("a2"),
        F.col("b3").alias("a3"),
    )
    fb = feats.select(
        F.col("doc_id").alias("id_b"),
        F.col("b0").alias("c0"),
        F.col("b1").alias("c1"),
        F.col("b2").alias("c2"),
        F.col("b3").alias("c3"),
    )
    ham = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            F.expr(
                "bit_count(a0 ^ c0) + bit_count(a1 ^ c1)"
                " + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)"
            ).alias("d")
        )
    )
    return (
        ham.filter(F.col("d") <= 6)
        .groupBy(F.col("d").cast("long").alias("hamming_d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback: BM25 → expansion terms → expanded BM25.
# ---------------------------------------------------------------------------
_PRF_SEED = ("table", "spark", "fast")

_PRF_BM25 = """
    base AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM base),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents),
    tf0 AS (
      SELECT doc_id, t, count(*)::BIGINT AS tf
      FROM tok WHERE t IN ('table', 'spark', 'fast')
      GROUP BY doc_id, t
    ),
    df0 AS (SELECT t, count(*)::BIGINT AS df FROM tf0 GROUP BY t),
    c0 AS (
      SELECT tf0.doc_id, tf0.t,
             ln((stats.n_docs - df0.df + 0.5) / (df0.df + 0.5) + 1.0)
             * (tf0.tf * 2.2)
             / (tf0.tf + 1.2 * (0.25 + 0.75 * base.dl / stats.avgdl)) AS c
      FROM tf0 JOIN df0 USING (t) JOIN base USING (doc_id) CROSS JOIN stats
    ),
    p0 AS (
      SELECT doc_id,
             round(list_aggregate(list(c ORDER BY t), 'sum'), 6) AS score
      FROM c0 GROUP BY doc_id
    ),
    top0 AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM p0
      ) WHERE rn <= 10
    ),
    fb AS (
      SELECT t, count(DISTINCT tok.doc_id)::BIGINT AS fb_df
      FROM tok JOIN top0 USING (doc_id)
      WHERE t NOT IN ('table', 'spark', 'fast')
      GROUP BY t
    ),
    exp3 AS (SELECT t FROM fb ORDER BY fb_df DESC, t LIMIT 3),
    terms AS (
      SELECT t FROM exp3
      UNION SELECT unnest(['table', 'spark', 'fast']) AS t
    )
"""


@query(
    "retrieval_prf_expansion",
    oracle="WITH "
    + _PRF_BM25
    + """,
    tf1 AS (
      SELECT doc_id, t, count(*)::BIGINT AS tf
      FROM tok WHERE t IN (SELECT t FROM terms)
      GROUP BY doc_id, t
    ),
    df1 AS (SELECT t, count(*)::BIGINT AS df FROM tf1 GROUP BY t),
    c1 AS (
      SELECT tf1.doc_id, tf1.t,
             ln((stats.n_docs - df1.df + 0.5) / (df1.df + 0.5) + 1.0)
             * (tf1.tf * 2.2)
             / (tf1.tf + 1.2 * (0.25 + 0.75 * base.dl / stats.avgdl)) AS c
      FROM tf1 JOIN df1 USING (t) JOIN base USING (doc_id) CROSS JOIN stats
    ),
    p1 AS (
      SELECT doc_id,
             round(list_aggregate(list(c ORDER BY t), 'sum'), 6) AS score
      FROM c1 GROUP BY doc_id
    )
    SELECT doc_id, score, rank FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM p1
    ) WHERE rank <= 10
    """,
)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio/RM1-lite): score the seed query
    {table, spark, fast} with BM25, take the top-10 feedback docs, mine
    the 3 terms with the highest feedback-set document frequency (seed
    terms excluded, ties on term asc), and re-run BM25 with the expanded
    6-term query — the classic two-pass query-expansion loop on top of
    the ``bm25_topk_docs`` machinery.

    The expansion terms are data-dependent but never leave the cluster:
    ``bm25_topk`` accepts a terms DATAFRAME and filters tokens by
    broadcast semi join, so the whole two-pass retrieval is one Catalyst
    plan — no driver collect anywhere (the round-3 lesson: bounded
    collects are tolerable, absent collects are better).

    Exactness: both BM25 passes use the pinned float contract of
    ``bm25_topk_docs`` (term-sorted sequential fold, round to 6) and the
    feedback/expansion steps are integer counts with total-order cuts.

    Scale shape: inverted-index token filtering both passes (only
    query-term postings shuffle); the feedback-doc semi join is a
    broadcast of 10 ids; expansion selection is a TakeOrdered over the
    feedback vocabulary. Two passes over postings is the canonical PRF
    cost — no corpus-sized window, no cross join."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    from zip_to_parquet_spark.operators.retrieval import bm25_topk
    from zip_to_parquet_spark.operators.textops import words

    top0 = bm25_topk(docs, list(_PRF_SEED), k=10).select("doc_id")
    tok = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("t")
    )
    fb = (
        tok.join(F.broadcast(top0), "doc_id", "semi")
        .filter(~F.col("t").isin(*_PRF_SEED))
        .groupBy("t")
        .agg(F.count_distinct("doc_id").alias("fb_df"))
    )
    exp3 = fb.orderBy(F.col("fb_df").desc(), "t").limit(3).select("t")
    seed_df = spark.createDataFrame(
        [(t,) for t in _PRF_SEED], ["t"]
    )
    terms = exp3.unionByName(seed_df).distinct()
    return bm25_topk(docs, terms, k=10)


# ---------------------------------------------------------------------------
# Anomaly detection on the deseasonalized daily series (decompose + MAD).
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_deseasonalized",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
               AS i,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT i, rev, sum(rev) OVER w AS s7, count(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY i ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    d AS (
      SELECT i, i % 7 AS weekday_idx, rev - s7 // 7 AS detrended
      FROM t WHERE c7 = 7
    ),
    season AS (
      SELECT weekday_idx, sum(detrended) // count(*) AS seasonal
      FROM d GROUP BY weekday_idx
    ),
    resid AS (
      SELECT d.i, d.detrended - season.seasonal AS r
      FROM d JOIN season USING (weekday_idx)
    ),
    m1 AS (SELECT quantile_cont(r, 0.5) AS med FROM resid),
    dev AS (SELECT r, abs(r - m1.med) AS dv FROM resid CROSS JOIN m1),
    m2 AS (SELECT quantile_cont(dv, 0.5) AS mad FROM dev)
    SELECT count(*)::BIGINT AS n_days,
           max(m1.med) AS med_cents,
           max(m2.mad) AS mad_cents,
           sum(CASE WHEN dev.dv > 3 * m2.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_anomalies
    FROM dev CROSS JOIN m1 CROSS JOIN m2
    """,
)
def events_anomaly_deseasonalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection the way production monitors actually run it: strip
    trend (centered MA-7) and weekly seasonality (the ``ts_ma_decompose``
    components) from the daily-revenue series FIRST, then apply the
    robust MAD gate (``stats_outlier_mad``'s |r − median| > 3·MAD rule)
    to the residuals — a raw-series gate would flag every weekend as an
    anomaly; the composed pipeline flags only days that deviate from
    their own weekday's norm.

    Exactness: residuals are exact integers (trend and seasonal both use
    truncating div); the two medians are interpolated percentiles whose
    only non-integer form is k.5 — exact in a double (the pinned MAD
    contract), so the 3·MAD comparison is deterministic cross-engine.

    Scale shape: daily rollup → one 7-row ordered window → broadcast
    7-row seasonal join → two series-level percentile aggregates with
    1-row broadcasts back — the ``stats_outlier_mad`` shape on a
    calendar-bounded series."""
    d = _detrended_daily(spark, sf_dir)
    season = d.groupBy("weekday_idx").agg(
        F.expr("sum(detrended) div count(*)").alias("seasonal")
    )
    resid = d.join(F.broadcast(season), "weekday_idx").select(
        (F.col("detrended") - F.col("seasonal")).alias("r")
    )
    m1 = resid.agg(F.expr("percentile(r, 0.5)").alias("med"))
    dev = resid.crossJoin(F.broadcast(m1)).select(
        "r", "med", F.abs(F.col("r") - F.col("med")).alias("dv")
    )
    m2 = dev.agg(F.expr("percentile(dv, 0.5)").alias("mad"))
    return (
        dev.crossJoin(F.broadcast(m2))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("med").alias("med_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                F.when(F.col("dv") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction: stopword-delimited phrases, degree/freq scores.
# ---------------------------------------------------------------------------
@query(
    "text_rake_keywords",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    positions AS (
      SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM ws
    ),
    tok AS (
      SELECT doc_id, ws[pos] AS w, pos,
             CASE WHEN ws[pos] IN ('a', 'the') THEN 1 ELSE 0 END AS is_stop
      FROM positions
    ),
    isl AS (
      SELECT doc_id, w, pos, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS island
      FROM tok
    ),
    pw AS (
      SELECT doc_id, island, pos, w FROM isl WHERE is_stop = 0
    ),
    inst AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*)::BIGINT AS n_words
      FROM pw GROUP BY doc_id, island
      HAVING count(*) <= 4
    ),
    wstat AS (
      SELECT pw.w,
             count(*)::BIGINT AS freq,
             sum(inst.n_words)::BIGINT AS degree
      FROM pw JOIN inst USING (doc_id, island)
      GROUP BY pw.w
    ),
    iscore AS (
      SELECT inst.doc_id, inst.island, inst.phrase,
             sum((wstat.degree * 1000) // wstat.freq)::BIGINT AS score
      FROM pw
      JOIN inst USING (doc_id, island)
      JOIN wstat ON wstat.w = pw.w
      GROUP BY inst.doc_id, inst.island, inst.phrase
    )
    SELECT phrase, count(*)::BIGINT AS n_occurrences,
           max(score)::BIGINT AS score_permille
    FROM iscore GROUP BY phrase
    ORDER BY score_permille DESC, phrase LIMIT 20
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free word runs (delimiters here: the corpus's two
    function words 'a'/'the' — the fixture has no punctuation), capped
    at 4 words per the standard; each word scores ``degree/freq`` over
    all phrase instances (degree = Σ lengths of phrases containing it,
    held exact as permille via truncating div), and a phrase scores the
    sum of its word scores — an order-free integer sum. Top-20 phrases
    by (score DESC, phrase ASC). The PHRASE-level member of the keyword
    family (``tfidf_topk_terms`` ranks terms per doc;
    ``text_collocations_pmi`` ranks bigrams corpus-wide).

    Exactness: phrase segmentation is the gaps-and-islands idiom on
    integer positions (running stopword count); word and phrase scores
    are integer permille; every cut totally ordered.

    Scale shape: one doc-keyed island window sharing its shuffle with
    the phrase rollup; word stats are vocabulary-sized and join back by
    word (size-aware at corpus scale — the tfidf broadcast contract);
    final TakeOrdered over distinct phrases."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).withColumn(
        "is_stop", F.when(F.col("w").isin("a", "the"), 1).otherwise(0)
    )
    wisl = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = tok.withColumn("island", F.sum("is_stop").over(wisl))
    pw = isl.filter(F.col("is_stop") == 0).select(
        "doc_id", "island", "pos", "w"
    )
    inst = (
        pw.groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x.w,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .filter(F.col("n_words") <= 4)
    )
    wstat = (
        pw.join(inst.select("doc_id", "island", "n_words"), ["doc_id", "island"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("degree"),
        )
    )
    iscore = (
        pw.join(inst, ["doc_id", "island"])
        .join(wstat, "w")
        .groupBy("doc_id", "island", "phrase")
        .agg(
            F.sum(F.expr("(degree * 1000) div freq"))
            .cast("long")
            .alias("score")
        )
    )
    return (
        iscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score").cast("long").alias("score_permille"),
        )
        .orderBy(F.col("score_permille").desc(), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Bot/automation detection: inter-arrival regularity + event-rate report.
# ---------------------------------------------------------------------------
@query(
    "events_bot_regularity",
    oracle="""
    WITH g AS (
      SELECT user_id,
             date_diff('microsecond', lag(ts) OVER w, ts)::BIGINT AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    peru AS (
      SELECT user_id,
             count(gap)::BIGINT AS n_gaps,
             sum(gap)::HUGEINT AS sg,
             sum(gap::HUGEINT * gap) AS sg2
      FROM g WHERE gap IS NOT NULL
      GROUP BY user_id HAVING count(gap) >= 20
    )
    SELECT user_id,
           (n_gaps + 1)::BIGINT AS n_events,
           ((1000 * (n_gaps * sg2 - sg * sg)) // (sg * sg))::BIGINT
             AS cv2_permille,
           (((n_gaps + 1) * 86400000000000::HUGEINT) // greatest(sg, 1))
             ::BIGINT AS events_per_day_milli
    FROM peru
    ORDER BY cv2_permille, user_id LIMIT 20
    """,
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation candidate report: the 20 users whose inter-arrival
    gaps are most REGULAR — squared coefficient of variation of the gap
    sequence in exact integer permille (``cv² = (n·Σg² − (Σg)²)/(Σg)²``;
    machines fire on timers, humans don't), alongside the event rate in
    events-per-day-milli. The traffic-curation gate every production
    event pipeline runs before sessionizing or training on clickstreams;
    ≥20 gaps required so the statistic means something.

    Exactness: gaps are integer microseconds; Σg² runs in DECIMAL(38,0)
    ↔ HUGEINT (g² alone reaches ~1e25 for month-long gaps); the cv² and
    rate divisions truncate identically; the top-20 cut is total-ordered
    by (cv² ASC, user_id). Note ``sg`` spans the user's active window,
    so the rate denominator is the observed span (n_gaps·mean_gap = sg
    exactly), not a calendar constant.

    Scale shape: one user-keyed lag window sharing its shuffle with the
    per-user moment rollup, then TakeOrdered(20) over the user
    dimension — no corpus-sized window, no join."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap"
        ),
    ).filter(F.col("gap").isNotNull())
    peru = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum(F.col("gap").cast(D38)).alias("sg"),
            F.sum(F.expr(f"cast(gap as {D38}) * gap")).alias("sg2"),
        )
        .filter(F.col("n_gaps") >= 20)
    )
    return (
        peru.select(
            "user_id",
            (F.col("n_gaps") + 1).cast("long").alias("n_events"),
            F.expr(
                "(1000 * (n_gaps * sg2 - sg * sg)) div (sg * sg)"
            )
            .cast("long")
            .alias("cv2_permille"),
            F.expr(
                f"((n_gaps + 1) * cast(86400000000000 as {D38}))"
                " div greatest(sg, cast(1 as decimal(38,0)))"
            )
            .cast("long")
            .alias("events_per_day_milli"),
        )
        .orderBy("cv2_permille", "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: top-3 neighbors by co-order Jaccard.
# ---------------------------------------------------------------------------
@query(
    "recsys_item_item_topn",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pc AS (
      SELECT l_partkey, count(*)::BIGINT AS n_ord FROM po GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*)::BIGINT AS n_ab
      FROM po a JOIN po b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    jac AS (
      SELECT p.part_a, p.part_b,
             (p.n_ab * 1000 // (ca.n_ord + cb.n_ord - p.n_ab))::BIGINT
               AS jac_permille
      FROM pairs p
      JOIN pc ca ON ca.l_partkey = p.part_a
      JOIN pc cb ON cb.l_partkey = p.part_b
    ),
    sym AS (
      SELECT part_a AS item, part_b AS neighbor, jac_permille FROM jac
      UNION ALL
      SELECT part_b AS item, part_a AS neighbor, jac_permille FROM jac
    )
    SELECT item, neighbor, jac_permille, rank FROM (
      SELECT item, neighbor, jac_permille,
             row_number() OVER (PARTITION BY item
                                ORDER BY jac_permille DESC, neighbor)
               AS rank
      FROM sym
    ) WHERE rank <= 3
    """,
)
def recsys_item_item_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001 /
    Linden et al. 2003, the Amazon-style neighborhood model): parts
    co-occurring in ≥2 orders score by exact Jaccard over their order
    sets (integer permille), symmetrized, and each item keeps its top-3
    neighbors — the "customers who bought X also bought" table.
    Downstream of ``basket_pair_lift`` in spirit but produces the
    per-item RANKED neighbor list (the serving artifact), not the global
    pair report.

    Exactness: co-occurrence and order counts are integers; Jaccard =
    ``n_ab·1000 div (n_a + n_b − n_ab)`` truncates identically; the
    top-3 cut is total-ordered by (jaccard DESC, neighbor ASC).

    Scale shape: pair generation is the basket idiom — a self-equi-join
    ON THE ORDER KEY, candidate volume Σ|basket|² (≤66 pairs/order at
    this fixture's 12-line cap), never |parts|²; the n_ab ≥ 2 support
    floor prunes before the count-table joins; the rank window
    partitions by item over ≤ its neighbor count."""
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pc = po.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_ord"))
    pairs = basket_pair_counts(po)
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("n_a"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("n_b"))
    jac = (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            F.expr("(n_ab * 1000) div (n_a + n_b - n_ab)")
            .cast("long")
            .alias("jac_permille"),
        )
    )
    sym = jac.select(
        F.col("part_a").alias("item"),
        F.col("part_b").alias("neighbor"),
        "jac_permille",
    ).unionByName(
        jac.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("neighbor"),
            "jac_permille",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("jac_permille").desc(), "neighbor"
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("item", "neighbor", "jac_permille", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog with exact-register parity.
# ---------------------------------------------------------------------------
@query(
    "sketch_hll_registers",
    oracle="""
    WITH h AS (
      SELECT (md5_number_lower('hll' || o_custkey::VARCHAR)
                % 72057594037927936)::BIGINT AS h7
      FROM orders
    ),
    split AS (
      SELECT h7 % 256 AS reg, h7 // 256 AS w FROM h
    ),
    pow2 AS (SELECT range AS t, (1::BIGINT << range) AS p FROM range(0, 48)),
    rho AS (
      SELECT s.reg, coalesce(pow2.t + 1, 49)::BIGINT AS rho
      FROM split s LEFT JOIN pow2 ON (s.w & -s.w) = pow2.p
    ),
    regs AS (SELECT reg, max(rho) AS r FROM rho GROUP BY reg),
    full_regs AS (
      SELECT j.range AS reg, coalesce(regs.r, 0) AS r
      FROM range(0, 256) j LEFT JOIN regs ON j.range = regs.reg
    ),
    s AS (
      SELECT sum(1::BIGINT << (49 - r))::BIGINT AS ssum,
             sum(CASE WHEN r = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
      FROM full_regs
    ),
    ex AS (SELECT count(DISTINCT o_custkey)::BIGINT AS n_exact FROM orders)
    SELECT 256::BIGINT AS m,
           ex.n_exact,
           s.n_empty AS n_empty_regs,
           ((718297::HUGEINT * 65536 * 562949953421312)
              // (1000000::HUGEINT * s.ssum))::BIGINT AS est_raw,
           ((((718297::HUGEINT * 65536 * 562949953421312)
               // (1000000::HUGEINT * s.ssum)) - ex.n_exact) * 1000
              // ex.n_exact)::BIGINT AS err_permille
    FROM s CROSS JOIN ex
    """,
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (Flajolet et al. 2007) with EXACT
    register parity: hash each order's customer key to 56 bits via the
    md5-low-bytes contract, low byte → one of m=256 registers, trailing-
    zero rank ρ of the remaining 48 bits via a branch-free
    ``w & −w`` lowest-set-bit isolate joined to a broadcast 48-row
    power-of-two table (no loop, no float log), keep max ρ per register,
    and evaluate the raw HLL estimate ``α·m²/Σ2^−ρ`` entirely in
    integers (Σ2^−ρ scaled by 2^49 stays under 2^57; the α=0.718297
    constant rides as a micro literal; the big product runs in
    DECIMAL(38,0) ↔ HUGEINT). Completes the sketch family — KMV,
    bitmap, Count-Min, and now HLL — each evaluated in-plan against the
    exact answer (err_permille), the same contract as
    ``sketch_count_min``'s overcount column.

    Scale shape: map-only hashing, one 256-group aggregate, two 1-row
    reduces — the mergeable-sketch shape (registers combine by max, so
    partial aggregation is the whole point at 100 TB). No small-range
    linear-counting correction: that branch needs ln() — documented
    contract, the raw estimator is what's verified."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql

    orders = load_table(spark, sf_dir, "orders")
    h7 = md5_low_bytes_sql("concat('hll', cast(o_custkey as string))", 7)
    split = orders.select(F.expr(h7).alias("h7")).select(
        F.expr("h7 % 256").alias("reg"), F.expr("h7 div 256").alias("w")
    )
    spark_pow2 = spark.range(48).select(
        F.col("id").alias("t"),
        F.expr("shiftleft(cast(1 as bigint), cast(id as int))").alias("p"),
    )
    rho = split.join(
        F.broadcast(spark_pow2), F.expr("(w & -w) = p"), "left"
    ).select("reg", F.coalesce(F.col("t") + 1, F.lit(49)).cast("long").alias("rho"))
    regs = rho.groupBy("reg").agg(F.max("rho").alias("r"))
    full_regs = (
        spark.range(256)
        .select(F.col("id").alias("reg"))
        .join(F.broadcast(regs), "reg", "left")
        .select(F.coalesce(F.col("r"), F.lit(0)).alias("r"))
    )
    s = full_regs.agg(
        F.expr("sum(shiftleft(cast(1 as bigint), cast(49 - r as int)))")
        .cast("long")
        .alias("ssum"),
        F.sum(F.when(F.col("r") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_empty"),
    )
    ex = orders.agg(F.count_distinct("o_custkey").cast("long").alias("n_exact"))
    est = (
        f"(cast(718297 as {D38}) * 65536 * 562949953421312)"
        f" div (cast(1000000 as {D38}) * ssum)"
    )
    return (
        s.crossJoin(F.broadcast(ex)).select(
            F.lit(256).cast("long").alias("m"),
            "n_exact",
            F.col("n_empty").alias("n_empty_regs"),
            F.expr(est).cast("long").alias("est_raw"),
            # nullif: zero distinct customers (empty corpus) has no
            # relative error — NULL in both engines, not a Spark ANSI
            # error (empty-fixture sweep, r11).
            F.expr(
                f"(({est} - n_exact) * 1000) div nullif(n_exact, 0)"
            )
            .cast("long")
            .alias("err_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution.
# ---------------------------------------------------------------------------
@query(
    "events_attribution_ushape",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS t_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT c.conv_id, t.t_id, t.t_type, t.t_ts
      FROM conv c JOIN touch t ON c.user_id = t.user_id
      WHERE t.t_ts < c.conv_ts AND t.t_ts >= c.conv_ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT t_type,
             CASE WHEN count(*) OVER (PARTITION BY conv_id) = 1 THEN 1000
                  WHEN count(*) OVER (PARTITION BY conv_id) = 2 THEN 500
                  WHEN row_number() OVER
                         (PARTITION BY conv_id
                          ORDER BY t_ts DESC, t_id DESC) = 1
                  THEN 600 - (count(*) OVER (PARTITION BY conv_id) - 2)
                           * (200 // (count(*) OVER (PARTITION BY conv_id) - 2))
                  WHEN row_number() OVER
                         (PARTITION BY conv_id
                          ORDER BY t_ts DESC, t_id DESC)
                       = count(*) OVER (PARTITION BY conv_id)
                  THEN 400
                  ELSE 200 // (count(*) OVER (PARTITION BY conv_id) - 2)
             END AS credit
      FROM j
    )
    SELECT t_type AS event_type,
           count(*)::BIGINT AS touches,
           sum(credit)::BIGINT AS credit_milli
    FROM credited GROUP BY t_type
    """,
)
def events_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based ("U-shaped") multi-touch attribution: 40% of each
    conversion's credit to the FIRST touch, 40% to the LAST, the middle
    20% split evenly over interior touches — the standard alternative
    to ``events_attribution_linear`` when first discovery and final
    nudge are believed to matter most. Degenerate journeys follow the
    convention: a single touch takes all 1000 milli, a two-touch
    journey splits 500/500.

    Exactness: interior base = 200 div (k−2); the integer remainder
    200 − (k−2)·base rides on the LAST touch (most recent absorbs
    rounding — same house rule as the linear key), so every conversion
    conserves exactly 1000 milli. All window ties break on event id.

    Scale shape: identical to the linear key — one user equi-join
    bounds candidates to each user's own touches, conversion-keyed
    windows share the join's shuffle, and a tiny type rollup ends the
    plan. No cartesian anywhere (locked by the shared attribution plan
    test)."""
    j = _touches_before_conversion(
        spread(load_table(spark, sf_dir, "events"), "user_id")
    )
    wc = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    k = F.count(F.lit(1)).over(wc)
    rn = F.row_number().over(wr)
    base = F.expr("200 div (k - 2)")
    credited = j.select(
        "t_type", k.alias("k"), rn.alias("rn")
    ).select(
        "t_type",
        F.when(F.col("k") == 1, 1000)
        .when(F.col("k") == 2, 500)
        .when(F.col("rn") == 1, 600 - (F.col("k") - 2) * base)
        .when(F.col("rn") == F.col("k"), 400)
        .otherwise(base)
        .alias("credit"),
    )
    return credited.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("touches"),
        F.sum("credit").cast("long").alias("credit_milli"),
    )


# ---------------------------------------------------------------------------
# Within-session ordered-pair mining (sequential association, gaps allowed).
# ---------------------------------------------------------------------------
@query(
    "events_sequence_pairs",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    ranked AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER
               (PARTITION BY user_id, session_id
                ORDER BY ts, event_id) AS rn
      FROM sess
    ),
    spans AS (
      SELECT user_id, session_id, event_type,
             min(rn) AS first_rn, max(rn) AS last_rn
      FROM ranked GROUP BY user_id, session_id, event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM spans a
      JOIN spans b ON a.user_id = b.user_id
                  AND a.session_id = b.session_id
                  AND a.event_type <> b.event_type
      WHERE a.first_rn < b.last_rn
    )
    SELECT type_a, type_b, count(*)::BIGINT AS n_sessions
    FROM pairs GROUP BY type_a, type_b
    ORDER BY n_sessions DESC, type_a, type_b LIMIT 20
    """,
)
def events_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pair mining with gaps (the 2-item case of
    PrefixSpan/SPADE sequence mining): how many sessions contain event
    type ``a`` somewhere STRICTLY BEFORE type ``b`` — intervening events
    allowed, unlike ``events_session_paths`` (contiguous prefixes) and
    ``events_markov_transitions`` (adjacent pairs only). Top-20 ordered
    pairs by supporting-session count.

    The scale trick: "a before b in this session" ⟺ min_pos(a) <
    max_pos(b), so the per-event quadratic self-join collapses to a
    per-(session, type) span rollup joined within session —
    ≤ |types|² = 25 candidate rows per session regardless of session
    length. Session positions are the usual (ts, event_id)-ordered row
    numbers; 30-min inactivity gap per the house sessionize.

    Scale shape: one user-keyed shuffle drives sessionize + position
    windows; the span rollup re-keys to (user, session) for the tiny
    within-session join; a |types|²-row rollup + TakeOrdered ends the
    plan."""
    ev = spread(load_table(spark, sf_dir, "events"), "user_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
                > 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ranked = sess.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "session_id").orderBy(
                "ts", "event_id"
            )
        )
        .alias("rn"),
    )
    spans = ranked.groupBy("user_id", "session_id", "event_type").agg(
        F.min("rn").alias("first_rn"), F.max("rn").alias("last_rn")
    )
    a = spans.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("type_a"),
        "first_rn",
    )
    b = spans.select(
        "user_id",
        "session_id",
        F.col("event_type").alias("type_b"),
        "last_rn",
    )
    pairs = a.join(b, ["user_id", "session_id"]).filter(
        (F.col("type_a") != F.col("type_b"))
        & (F.col("first_rn") < F.col("last_rn"))
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "type_a", "type_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per signup cohort by day offset.
# ---------------------------------------------------------------------------
@query(
    "events_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             min(epoch_ms(ts) // 86400000) AS cohort_day
      FROM events GROUP BY user_id
    ),
    cohort_size AS (
      SELECT cohort_day, count(*)::BIGINT AS n_users
      FROM first_seen GROUP BY cohort_day
    ),
    rev AS (
      SELECT f.cohort_day,
             (epoch_ms(e.ts) // 86400000) - f.cohort_day AS day_offset,
             sum((e.value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS cents
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND (epoch_ms(e.ts) // 86400000) - f.cohort_day <= 7
      GROUP BY 1, 2
    )
    SELECT r.cohort_day::BIGINT AS cohort_day,
           r.day_offset::BIGINT AS day_offset,
           c.n_users,
           sum(r.cents) OVER (
             PARTITION BY r.cohort_day ORDER BY r.day_offset
             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_revenue_cents
    FROM rev r JOIN cohort_size c ON c.cohort_day = r.cohort_day
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users cohort by FIRST-SEEN day, and
    each cohort accumulates purchase revenue over its first week of day
    offsets — the money companion to ``events_retention_cohort`` (which
    counts distinct active users): retention says who comes back, LTV
    says what that's worth, and the payback-period read is where the
    cumulative curve crosses acquisition cost.

    Exactness: days are epoch-day integers, revenue integer cents, and
    the cumulative curve is a running integer sum over a totally-ordered
    (cohort, offset) grid.

    Scale shape: one user-keyed shuffle shared by first-seen and the
    revenue join (aggregate-before-join on the cohort-size side), then a
    cohort-day-keyed running-sum window over the tiny
    (cohorts × offsets) rollup."""
    ev = spread(load_table(spark, sf_dir, "events"), "user_id")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.expr("unix_millis(ts) div 86400000")).alias("cohort_day")
    )
    cohort_size = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("unix_millis(ts) div 86400000").alias("eday"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .join(first_seen, "user_id")
        .select(
            "cohort_day",
            (F.col("eday") - F.col("cohort_day")).alias("day_offset"),
            "cents",
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.join(F.broadcast(cohort_size), "cohort_day").select(
        F.col("cohort_day").cast("long").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "n_users",
        F.sum("cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Data-freshness SLA audit per ingestion source.
# ---------------------------------------------------------------------------
@query(
    "dq_freshness_lag",
    oracle="""
    WITH ref AS (SELECT max(ts) AS corpus_max FROM events),
    per_type AS (
      SELECT event_type, max(ts) AS last_ts, count(*)::BIGINT AS n_events
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.n_events, p.last_ts,
           ((epoch_us(r.corpus_max) - epoch_us(p.last_ts)) // 1000000)
             ::BIGINT AS lag_seconds,
           ((epoch_us(r.corpus_max) - epoch_us(p.last_ts)) // 1000000)
             > 3600 AS sla_breach
    FROM per_type p CROSS JOIN ref r
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit: per event stream, how far its latest
    arrival lags the corpus frontier, alarmed at 1 hour — the check
    every warehouse ingestion pipeline runs before trusting a partition
    (a stream whose max(ts) trails the rest has a stuck producer; the
    ROW-level sibling of ``dq_expectations_report``'s column checks and
    ``dq_referential_integrity``'s key checks). The reference frontier
    is the corpus max — a deterministic anchor, where production would
    use now().

    Exactness: lags are epoch-microsecond differences floored to whole
    seconds; the breach flag compares integers.

    Scale shape: one map-side-combinable (type) rollup + a 1-row
    frontier broadcast; the rollup and frontier share the single fact
    scan only through Spark's scan reuse — no window, no collect."""
    ev = spread(load_table(spark, sf_dir, "events"), "event_id")
    ref = ev.agg(F.max("ts").alias("corpus_max"))
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    lag = F.expr(
        "(unix_micros(corpus_max) - unix_micros(last_ts)) div 1000000"
    )
    return per_type.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "n_events",
        "last_ts",
        lag.cast("long").alias("lag_seconds"),
        (lag > 3600).alias("sla_breach"),
    )


# ---------------------------------------------------------------------------
# Built-in session_window mechanism parity vs first-principles islands.
# ---------------------------------------------------------------------------
@query(
    "events_session_window_builtin",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*)::BIGINT AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN ``session_window`` grouping function, hash-proved
    equal to the first-principles gaps-and-islands construction: the
    engine primitive and the hand-built SQL must agree row-for-row or one
    of them is lying. Note the boundary
    semantics differ from ``events_sessionize``'s lag rule: the builtin
    merges events while the gap is STRICTLY under 30 min (an exactly-
    1800 s gap starts a new session), so the oracle's island flag uses
    ``>=`` where the sessionize key uses ``>``.

    Scale shape: session_window is a single user-keyed aggregation with
    state merging inside the group — the same one-shuffle cost as the
    window formulation, with the merge logic in native code."""
    ev = spread(load_table(spark, sf_dir, "events"), "user_id")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival latency histogram in power-of-two buckets.
# ---------------------------------------------------------------------------
@query(
    "events_gap_log2_histogram",
    oracle="""
    WITH g AS (
      SELECT event_type,
             date_diff('microsecond', lag(ts) OVER w, ts)::BIGINT AS gap
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    b AS (
      SELECT event_type,
             CASE WHEN gap <= 0 THEN -1
                  ELSE length(bin(gap::BIGINT)) - 1 END AS bucket,
             gap
      FROM g WHERE gap IS NOT NULL
    )
    SELECT event_type, bucket::BIGINT AS bucket,
           count(*)::BIGINT AS n,
           min(gap)::BIGINT AS min_gap_us,
           max(gap)::BIGINT AS max_gap_us
    FROM b GROUP BY event_type, bucket
    """,
)
def events_gap_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival latency histogram in power-of-two
    buckets — the HdrHistogram/latency-telemetry shape (bucket k holds
    gaps in [2^k, 2^(k+1)) microseconds; simultaneous events land in
    bucket -1). The distribution every streaming/watermark tuning pass
    reads before picking session gaps and late-data allowances; the
    log2 geometry keeps the output bounded (<= 64 buckets/type) at any
    corpus size.

    Exactness: floor(log2(gap)) is computed as ``length(bin(gap)) - 1``
    — pure integer bit-length, no float log anywhere, identical by
    construction in both engines (Spark ``bin`` and DuckDB ``bin`` both
    emit the minimal binary string).

    Scale shape: one user-keyed lag window (the gap family's shared
    shuffle), then a map-side-combinable groupBy on (type, bucket) —
    bounded output cardinality, so the final rollup is a broadcast-size
    relation. No joins, no collect."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.withColumn(
        "gap", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ).filter(F.col("gap").isNotNull())
    b = g.withColumn(
        "bucket",
        F.when(F.col("gap") <= 0, F.lit(-1)).otherwise(
            F.length(F.bin("gap")) - 1
        ).cast("long"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("gap").cast("long").alias("min_gap_us"),
        F.max("gap").cast("long").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution: recency-weighted conversion credit.
# ---------------------------------------------------------------------------
@query(
    "events_attribution_time_decay",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS t_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT c.conv_id, t.t_id, t.t_type, t.t_ts,
             1000000 >> ((epoch_us(c.conv_ts) - epoch_us(t.t_ts))
                         // 86400000000) AS w
      FROM conv c JOIN touch t ON c.user_id = t.user_id
      WHERE t.t_ts < c.conv_ts AND t.t_ts >= c.conv_ts - INTERVAL 7 DAY
    ),
    sh1 AS (
      SELECT conv_id, t_type,
             (1000 * w) // sum(w) OVER (PARTITION BY conv_id) AS share,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY t_ts DESC, t_id DESC) AS rn
      FROM j
    ),
    shared AS (
      SELECT conv_id, t_type, share, rn,
             sum(share) OVER (PARTITION BY conv_id) AS tot_shares
      FROM sh1
    )
    SELECT t_type AS event_type,
           count(*)::BIGINT AS touches,
           sum(CASE WHEN rn = 1 THEN 1000 - (tot_shares - share)
                    ELSE share END)::BIGINT AS credit_milli
    FROM shared GROUP BY t_type
    """,
)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — the recency-weighted member of
    the attribution family (linear = even split, U-shape = position,
    this = exponential decay): each ``purchase``'s 1000 credit-milli is
    split across the user's prior 7-day ``view``/``click`` touches with
    weight halving per day of age (half-life = 1 day), the standard
    "recent touches close deals" model in marketing analytics.

    Exactness contract: the decay weight is a RIGHT SHIFT —
    ``1000000 >> gap_days`` (gap in whole days from the exact µs
    difference, truncating division) — not an exp()/pow() float, so both
    engines produce identical integer weights (gap 0..7 days → 1000000,
    500000, …, 15625, and 7812 for a touch landing exactly on the
    INCLUSIVE 7-day lookback boundary). Shares quantize by one
    truncating division per
    touch; the integer-division remainder goes to the MOST RECENT touch
    (ties on event_id), so each conversion's credit sums to exactly
    1000 — the same conservation law events_attribution_linear proves.
    1000·w ≤ 10⁹ and Σw ≤ touches·10⁶ sit far inside BIGINT for any
    per-user activity bound (the 7-day lookback caps touches per
    conversion by policy).

    Scale shape: identical to the linear key — one user-keyed equi-join
    (per-user fanout bounded by a user's 7-day activity, AQE handles hot
    users), THREE windows all partitioned by the SAME conv_id key (one
    shuffle), and a k-row rollup. No corpus-sized window, no collect."""
    j = (
        _touches_before_conversion(load_table(spark, sf_dir, "events"))
        .withColumn(
            "w",
            F.expr(
                "shiftright(1000000, cast((unix_micros(conv_ts)"
                " - unix_micros(t_ts)) div 86400000000 as int))"
            ),
        )
    )
    wn = Window.partitionBy("conv_id")
    wr = Window.partitionBy("conv_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    shared = j.select(
        "conv_id",
        "t_type",
        F.expr("1000 * w").alias("nw"),
        F.sum("w").over(wn).alias("tot"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "conv_id",
        "t_type",
        "rn",
        F.expr("nw div tot").alias("share"),
    )
    shared = shared.withColumn("tot_shares", F.sum("share").over(wn))
    return shared.groupBy(F.col("t_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("touches"),
        F.sum(
            F.when(
                F.col("rn") == 1,
                1000 - (F.col("tot_shares") - F.col("share")),
            ).otherwise(F.col("share"))
        )
        .cast("long")
        .alias("credit_milli"),
    )
