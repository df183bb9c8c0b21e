"""Experimentation / privacy / feature-engineering wave.

The A/B-test battery every experimentation platform runs around a
metric readout: the sample-ratio-mismatch chi-square gate (broken
assignment rejected before any metric is trusted), CUPED variance
reduction from pre-period covariates (Deng et al. WSDM'13), the Welch
t² significance test as one exact integer rational, stratified-ATE
subclassification (Imbens–Rubin), the canonical 2×2
difference-in-differences, and Poisson-bootstrap confidence intervals
(Chamandy et al. 2012 — the bootstrap that distributes). Plus the
privacy pair — local-DP collection via Warner 1965 randomized response
and central-DP release via the Ghosh–Roughgarden–Sundararajan
geometric mechanism, both with integer-exact deterministic noise —
next to the existing ``pii_redact_counts`` scrubbing and
``dq_k_anonymity`` audit keys; leave-one-out target encoding (the
categorical encoder that avoids self-leakage), proportional stratified
sampling with per-stratum determinism (the split discipline
``dataset_split`` applies corpus-wide, here enforced exactly within
every stratum), and last-observation-carried-forward imputation
(``events_timeseries_gapfill`` fills missing CALENDAR rows, this fills
missing VALUES on existing rows).

House determinism rules (see plans/analytics.py): money → integer
cents, ratios → integer milli/micro via truncating ``div`` (Spark
``div`` and DuckDB ``//`` both truncate toward zero, verified including
negatives), big products → Spark DECIMAL(38,0) ↔ DuckDB HUGEINT,
randomness → md5 low bytes (``operators.layout.md5_low_bytes_sql`` ↔
DuckDB ``md5_number_lower``), ties broken on ids. No float arithmetic
reaches any output column, so every key carries a full DuckDB
value-hash oracle.

Reference provenance: the reference CLI (/root/reference/src/builder.rs
:1-322) has no analytics surface; these keys extend the mandated
training-data/analytics pipeline families on the fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.runtime import spread
from zip_to_parquet_spark.schema import load_table

# Its own statement: the window-policy differ then counts only the keys
# that use D38 as changed by it, not every key that calls load_table.
from zip_to_parquet_spark.schema import D38  # noqa: E402

# Deterministic 50/50 assignment: low byte of md5(user_id), even → A.
# DuckDB md5_number_lower(x) % 256 is the same little-endian low byte.
_VARIANT_SQL = f"({md5_low_bytes_sql('cast(user_id as string)', 1)}) % 2"
_DUCK_VARIANT = "(md5_number_lower(user_id::VARCHAR) % 256) % 2"

# Pre/post cutoff for CUPED: the fixture generator spans January 2024 at
# every sf, so the month midpoint splits both periods non-degenerately.
_CUTOFF = "2024-01-16 00:00:00"


def _pre_post_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts before (``x``) and from (``y``) the
    ``_CUTOFF`` midpoint → ``(user_id, x, y)``, one user-keyed
    partial-agg shuffle."""
    return (
        spread(load_table(spark, sf_dir, "events"), "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )


def _arm_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm moments of per-user event counts as one row ``(na, sa, qa,
    nb, sb, qb)``: users, Σy and Σy² of arm A (variant 0) and arm B —
    one user-keyed partial-agg shuffle, a 2-row variant rollup, a 1-row
    pivot."""
    per_user = (
        spread(load_table(spark, sf_dir, "events"), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .withColumn("variant", F.expr(_VARIANT_SQL))
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("y").cast(D38).alias("s"),
        F.sum(F.expr("y * y")).cast(D38).alias("q"),
    )
    return v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("variant") == 0, F.col("q"))).alias("qa"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("variant") == 1, F.col("q"))).alias("qb"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout (Deng et al. WSDM'13).
# ---------------------------------------------------------------------------
@query(
    "experiment_cuped_adjust",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             {_DUCK_VARIANT} AS variant,
             sum(CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN 1 ELSE 0 END)
               ::BIGINT AS x,
             sum(CASE WHEN ts >= TIMESTAMP '{_CUTOFF}' THEN 1 ELSE 0 END)
               ::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT count(*)::HUGEINT AS n,
             sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
             sum(x * x)::HUGEINT AS sxx, sum(x * y)::HUGEINT AS sxy
      FROM per_user
    ),
    m AS (
      SELECT n, sx, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
      FROM g
    ),
    v AS (
      SELECT variant, count(*)::HUGEINT AS nv,
             sum(x)::HUGEINT AS sxv, sum(y)::HUGEINT AS syv
      FROM per_user GROUP BY variant
    )
    SELECT CASE WHEN variant = 0 THEN 'A' ELSE 'B' END AS variant,
           nv::BIGINT AS n_users,
           ((1000000 * syv) // nv)::BIGINT AS mean_raw_micro,
           ((1000000 * (syv * den * n - num * (sxv * n - sx * nv)))
              // (nv * den * n))::BIGINT AS mean_adj_micro,
           ((1000000 * num) // den)::BIGINT AS theta_micro
    FROM v CROSS JOIN m
    """,
)
def experiment_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi, Walker WSDM'13): the
    post-period metric of each variant is adjusted by the pooled
    regression of post on PRE-period activity, ``y − θ·(x − x̄)`` with
    ``θ = cov(x,y)/var(x)`` — the pre-experiment covariate absorbs
    user-level variance the treatment can't explain, shrinking the CI
    without touching the expected effect. Users assign to A/B by the md5
    low byte; pre/post split at the fixture's month midpoint.

    Exactness: θ is carried as the exact integer rational num/den
    (n·Σxy−ΣxΣy over n·Σxx−(Σx)²) and the adjusted variant mean is ONE
    truncating division over the common denominator n_v·den·n — both
    engines floor the identical integer quotient. Magnitude envelope:
    |1e6·syv·den·n| ≲ 1e31 at sf1 (documented headroom to DECIMAL(38));
    den = 0 (all users identical pre-activity) is impossible on the
    fixture and would need the unadjusted fallback at degenerate inputs.

    Scale shape: one user-keyed partial-agg shuffle (map-side combine
    on user_id), then a 1-row global moment reduce broadcast-crossed
    with the 2-row per-variant rollup — no window, no second pass over
    events, no collect."""
    per_user = _pre_post_counts(spark, sf_dir).withColumn(
        "variant", F.expr(_VARIANT_SQL)
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("x").cast(D38).alias("sx"),
        F.sum("y").cast(D38).alias("sy"),
        F.sum(F.expr("x * x")).cast(D38).alias("sxx"),
        F.sum(F.expr("x * y")).cast(D38).alias("sxy"),
    ).select(
        "n",
        "sx",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("den"),
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast(D38).alias("nv"),
        F.sum("x").cast(D38).alias("sxv"),
        F.sum("y").cast(D38).alias("syv"),
    )
    joined = v.crossJoin(F.broadcast(g))
    return joined.select(
        F.when(F.col("variant") == 0, "A").otherwise("B").alias("variant"),
        F.col("nv").cast("long").alias("n_users"),
        F.expr(f"(cast(1000000 as {D38}) * syv) div nv")
        .cast("long")
        .alias("mean_raw_micro"),
        # nullif: a constant pre-period covariate makes den (its variance
        # numerator) 0 — theta and the adjusted mean are undefined and
        # must be NULL in both engines, not a Spark ANSI error
        # (degenerate_sweep.py finding, r11; DuckDB //0 is already NULL).
        F.expr(
            f"(cast(1000000 as {D38})"
            " * (syv * den * n - num * (sxv * n - sx * nv)))"
            " div nullif(nv * den * n, 0)"
        )
        .cast("long")
        .alias("mean_adj_micro"),
        F.expr(f"(cast(1000000 as {D38}) * num) div nullif(den, 0)")
        .cast("long")
        .alias("theta_micro"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch chi-square gate.
# ---------------------------------------------------------------------------
@query(
    "experiment_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_DUCK_VARIANT} AS variant
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT count(*)::BIGINT AS n,
             sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b
      FROM u
    )
    SELECT n AS n_users, n_a, n_b,
           ((1000 * ((2 * n_a - n) * (2 * n_a - n)
                     + (2 * n_b - n) * (2 * n_b - n)))
              // (2 * n))::BIGINT AS chi2_milli,
           ((1000 * ((2 * n_a - n) * (2 * n_a - n)
                     + (2 * n_b - n) * (2 * n_b - n)))
              // (2 * n)) > 3841 AS srm_alarm
    FROM c
    """,
)
def experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate: χ² of the observed A/B unit counts
    against the designed 50/50 split, alarmed at the df=1 α=0.05
    critical value 3.841 (Fabijan et al. KDD'19 diagnostics; the check
    every experimentation platform runs BEFORE reading any metric — a
    mismatched ratio means broken assignment/logging, not a treatment
    effect). Pairs with ``experiment_cuped_adjust``: SRM gates, CUPED
    reads.

    Exactness: with e = n/2 the statistic collapses to
    ((2·n_a−n)² + (2·n_b−n)²)/(2n) — integer numerator, one truncating
    div to milli; the 3.841 threshold compares as 3841.

    Scale shape: user-keyed distinct (partial-agg shuffle) → single
    1-row reduce; no window, no collect."""
    u = (
        spread(load_table(spark, sf_dir, "events"), "user_id")
        .select("user_id")
        .distinct()
        .withColumn("variant", F.expr(_VARIANT_SQL))
    )
    chi = (
        "(1000 * ((2 * n_a - n) * (2 * n_a - n)"
        " + (2 * n_b - n) * (2 * n_b - n))) div (2 * n)"
    )
    return (
        u.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )
        .select(
            F.col("n").alias("n_users"),
            "n_a",
            "n_b",
            F.expr(chi).cast("long").alias("chi2_milli"),
            (F.expr(chi) > 3841).alias("srm_alarm"),
        )
    )


# ---------------------------------------------------------------------------
# Randomized response: local-DP event-type counts with unbiased decode.
# ---------------------------------------------------------------------------
_RR_KEEP_EXPR = "concat('rr:', cast(event_id as string))"
_RR_IDX_EXPR = "concat('rr2:', cast(event_id as string))"
_RR_KEEP_SQL = "(" + md5_low_bytes_sql(_RR_KEEP_EXPR, 3) + ") % 1000"
_DUCK_RR_KEEP = "(md5_number_lower('rr:' || event_id::VARCHAR) % 16777216) % 1000"
_RR_IDX_SQL = "(" + md5_low_bytes_sql(_RR_IDX_EXPR, 3) + ")"
_DUCK_RR_IDX = "(md5_number_lower('rr2:' || event_id::VARCHAR) % 16777216)"


@query(
    "privacy_randomized_response",
    oracle=f"""
    WITH dim AS (
      SELECT event_type AS t,
             (row_number() OVER (ORDER BY event_type) - 1)::BIGINT AS idx
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    k AS (SELECT count(*)::BIGINT AS k FROM dim),
    rep AS (
      SELECT CASE WHEN {_DUCK_RR_KEEP} < 700 THEN e.event_type
                  ELSE d.t END AS reported
      FROM events e
      JOIN k ON TRUE
      JOIN dim d ON d.idx = {_DUCK_RR_IDX} % k.k
    ),
    obs AS (SELECT reported, count(*)::BIGINT AS obs FROM rep GROUP BY reported),
    tru AS (SELECT event_type, count(*)::BIGINT AS true_count
            FROM events GROUP BY event_type),
    n AS (SELECT count(*)::BIGINT AS n FROM events)
    SELECT t.event_type, o.obs AS obs_count, t.true_count,
           ((1000 * (10 * k.k * o.obs - 3 * n.n)) // (7 * k.k))::BIGINT
             AS est_milli,
           ((1000 * (10 * k.k * o.obs - 3 * n.n)) // (7 * k.k)
            - 1000 * t.true_count)::BIGINT AS err_milli
    FROM tru t JOIN obs o ON o.reported = t.event_type
    CROSS JOIN k CROSS JOIN n
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response (Warner 1965), the local-DP collection
    mechanism: each event reports its TRUE type with p = 0.7, else a
    uniform draw over all k types; the collector never sees a trusted
    value, yet the unbiased estimator (obs − n(1−p)/k)/p recovers the
    true histogram. ε = ln(p·k/(1−p) + 1) ≈ ln(12.67) per report at
    k = 5. Completes the privacy family: ``pii_redact_counts`` scrubs,
    ``dq_k_anonymity`` audits, this COLLECTS privately.

    Determinism: both coin flips are md5 low-bytes of the event id
    (keep: 3-byte value mod 1000 < 700; replacement: an independent
    salt's 3 bytes mod k, joined to the alphabetical type index), so
    both engines perturb identically. The estimator is held in integer
    milli: (obs − 0.3n/k)/0.7 ≡ (10·k·obs − 3n)/(7k), one truncating
    div; ``err_milli`` evaluates the mechanism against the exact counts
    in-plan (house sketch-evaluation style).

    Scale shape: map-only perturbation (the k-row type dim and the
    1-row n broadcast-join onto the scan), one k-row groupBy; no
    window, no collect."""
    events = spread(load_table(spark, sf_dir, "events"), "event_id")
    dim = (
        events.select("event_type")
        .distinct()
        .select(
            F.col("event_type").alias("t"),
            (
                F.row_number().over(Window.orderBy("event_type")) - 1
            )
            .cast("long")
            .alias("idx"),
        )
    )
    k = dim.agg(F.count(F.lit(1)).cast("long").alias("k"))
    n = events.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rep = (
        events.crossJoin(F.broadcast(k))
        .withColumn("keep_u", F.expr(_RR_KEEP_SQL))
        .withColumn("ridx", F.expr(_RR_IDX_SQL) % F.col("k"))
        .join(F.broadcast(dim), F.col("ridx") == F.col("idx"))
        .select(
            F.when(F.col("keep_u") < 700, F.col("event_type"))
            .otherwise(F.col("t"))
            .alias("reported")
        )
    )
    obs = rep.groupBy("reported").agg(F.count(F.lit(1)).cast("long").alias("obs"))
    tru = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    est = "(1000 * (10 * k * obs - 3 * n)) div (7 * k)"
    return (
        tru.join(obs, tru.event_type == obs.reported)
        .crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("obs").alias("obs_count"),
            "true_count",
            F.expr(est).cast("long").alias("est_milli"),
            (F.expr(est) - 1000 * F.col("true_count"))
            .cast("long")
            .alias("err_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding (categorical feature engineering).
# ---------------------------------------------------------------------------
@query(
    "feature_target_encode_loo",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS priority,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (SELECT priority, y, count(*)::BIGINT AS n_rows FROM r GROUP BY 1, 2),
    c AS (
      SELECT priority, sum(n_rows)::BIGINT AS n_c,
             sum(y * n_rows)::BIGINT AS s_c
      FROM g GROUP BY priority
    )
    SELECT g.priority, g.y AS y_flag, g.n_rows,
           ((1000000 * (c.s_c - g.y)) // (c.n_c - 1))::BIGINT AS loo_micro
    FROM g JOIN c USING (priority)
    """,
)
def feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (Micci-Barreca SIGKDD Expl. 2001
    variant): a categorical column is replaced by the mean of the
    binary target over the OTHER rows of the same category,
    (S_c − y_i)/(n_c − 1) — excluding the row's own label is what keeps
    the encoding out of the leakage trap plain mean-encoding falls
    into. Every row of a (category, y) cell shares one encoding, so the
    result is emitted per cell with its row count — the exact compact
    form of the row-level encoder.

    Exactness: one truncating division to micro per cell; n_c ≥ 2
    everywhere on the fixture (singleton categories would need the
    global-prior fallback).

    Scale shape: ONE fact shuffle (the (category, y) partial agg —
    map-side combine does the heavy lifting); the per-category rollup
    and join-back run on the cell table, which is |categories|×2 rows."""
    g = (
        spread(load_table(spark, sf_dir, "orders"), "o_orderkey")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("priority", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    c = g.groupBy("priority").agg(
        F.sum("n_rows").cast("long").alias("n_c"),
        F.sum(F.expr("y * n_rows")).cast("long").alias("s_c"),
    )
    return g.join(F.broadcast(c), "priority").select(
        "priority",
        F.col("y").alias("y_flag"),
        "n_rows",
        F.expr("(1000000 * (s_c - y)) div (n_c - 1)")
        .cast("long")
        .alias("loo_micro"),
    )


# ---------------------------------------------------------------------------
# Proportional stratified sampling, deterministic within every stratum.
# ---------------------------------------------------------------------------
@query(
    "sample_stratified_exact",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY md5_number_lower('strat:' || doc_id::VARCHAR)
                   % 281474976710656, doc_id)
      <= (count(*) OVER (PARTITION BY source) * 200) // 1000
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified sampling: exactly ⌊0.2·n_h⌋ documents
    from every source stratum, chosen as the lowest md5-48 hash ranks
    within the stratum — per-stratum quotas hold EXACTLY (Bernoulli
    sampleBy only hits them in expectation), and the same ids are
    drawn on every rerun and every engine. The stratum-exact sibling of
    ``dataset_split`` (corpus-wide hash split) and
    ``sample_weighted_aes`` (corpus-wide weighted draw).

    Scale shape: one stratum-keyed shuffle shared by the rank and the
    stratum-count window (same partitioning, no join); strata are
    sources, so per-partition state is the stratum's rows — salting via
    substratification would apply if one source dominated."""
    w = Window.partitionBy("source").orderBy(
        F.expr(md5_low_bytes_sql("concat('strat:', cast(doc_id as string))", 6)),
        "doc_id",
    )
    return (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1))
            .over(Window.partitionBy("source"))
            .alias("n_h"),
        )
        .filter(F.col("rk") <= F.expr("(n_h * 200) div 1000"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Systematic (interval) sampling: every k-th unit in key order.
# ---------------------------------------------------------------------------
@query(
    "sample_systematic_interval",
    oracle="""
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS pos
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) % 7 = 3
    """,
)
def sample_systematic_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sampling (Madow 1944): every k=7th document per lang
    stratum in doc_id order, fixed start offset 3 — the survey-sampling
    design a corpus auditor uses when the frame is already ordered and
    an equal-probability, evenly-SPREAD sample matters (hash sampling
    clusters by chance; systematic cannot). Deterministic: the frame
    order is the unique doc_id, so every engine draws the same rows.
    Complements sample_stratified_exact (hash-ranked quota) — interval
    vs rank designs over the same strata.

    Scale shape: one stratum-keyed shuffle for the in-stratum ordering
    (row_number over (lang, doc_id)); the modulus filter is applied in
    the same stage, so only 1/k of rows leave it. At 100 TB the same
    design runs as a sort-free two-pass over range-partitioned frames
    (per-partition counts -> offset prefix sums), but the declarative
    window form lets AQE pick partitioning and keeps the semantics in
    one expression."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("pos"),
        )
        .filter(F.col("pos") % 7 == 3)
    )


# ---------------------------------------------------------------------------
# LOCF forward-fill: last purchase value carried onto every later event.
# ---------------------------------------------------------------------------
@query(
    "events_locf_fill",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN ((value::DECIMAL(18,2)) * 100)::BIGINT END AS pv
      FROM events
    ),
    f AS (
      SELECT user_id,
             last_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
      FROM t
    )
    SELECT user_id, count(*)::BIGINT AS n_events,
           count(locf)::BIGINT AS n_carried,
           coalesce(sum(locf), 0)::BIGINT AS sum_carried_cents
    FROM f GROUP BY user_id
    """,
)
def events_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: every event carries
    the user's most recent purchase value (NULL until the first
    purchase) — the panel-data forward-fill, here as "state known at
    event time" for feature snapshots. ``events_timeseries_gapfill``
    inserts missing calendar ROWS; this fills missing VALUES on rows
    that exist. Rolled up per user (events, carried count, carried-sum
    cents) so the full fill is value-checked compactly.

    Exactness: purchase values → integer cents before any arithmetic;
    (ts, event_id) totally orders each user's stream, so the carried
    value is unique; sums are exact integers.

    Scale shape: one user-keyed shuffle shared by the fill window and
    the rollup (same partitioning); running ``last(ignorenulls)`` is a
    single ordered pass per partition — no join, no second shuffle."""
    t = spread(load_table(spark, sf_dir, "events"), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("pv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("locf", F.last("pv", ignorenulls=True).over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("locf").cast("long").alias("n_carried"),
            F.coalesce(F.sum("locf"), F.lit(0)).cast("long")
            .alias("sum_carried_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Welch t-squared significance readout (completes SRM -> CUPED -> readout).
# ---------------------------------------------------------------------------
@query(
    "experiment_lift_t2",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {_DUCK_VARIANT} AS variant, count(*)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, count(*)::HUGEINT AS n,
             sum(y)::HUGEINT AS s, sum(y * y)::HUGEINT AS q
      FROM per_user GROUP BY variant
    ),
    w AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS na,
             max(CASE WHEN variant = 0 THEN s END) AS sa,
             max(CASE WHEN variant = 0 THEN q END) AS qa,
             max(CASE WHEN variant = 1 THEN n END) AS nb,
             max(CASE WHEN variant = 1 THEN s END) AS sb,
             max(CASE WHEN variant = 1 THEN q END) AS qb
      FROM v
    ),
    t AS (
      SELECT na, nb, sa, sb,
             (sa * nb - sb * na) * (sa * nb - sb * na)
               * (na - 1) * (nb - 1) AS nume,
             (na * qa - sa * sa) * nb * nb * (nb - 1)
               + (nb * qb - sb * sb) * na * na * (na - 1) AS deno
      FROM w
    )
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           ((1000000 * sa) // na)::BIGINT AS mean_a_micro,
           ((1000000 * sb) // nb)::BIGINT AS mean_b_micro,
           ((1000 * nume) // deno)::BIGINT AS t2_milli,
           ((1000 * nume) // deno) > 3841 AS significant
    FROM t
    """,
)
def experiment_lift_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t² readout on per-user event counts: the
    squared t statistic (mean_A − mean_B)² / (s_A²/n_A + s_B²/n_B) held
    as ONE exact integer rational — squaring removes the sqrt that
    keeps t itself out of integer arithmetic, and t² compares against
    the square of the normal critical value (1.96² → 3841 milli; the
    Welch–Satterthwaite df correction is negligible at panel sizes,
    documented). Completes the experimentation trio:
    ``experiment_srm_check`` gates assignment, ``experiment_cuped_adjust``
    shrinks variance, this reads significance.

    Exactness: numerator (S_A·n_B − S_B·n_A)²(n_A−1)(n_B−1) and
    denominator (n_A·Q_A − S_A²)n_B²(n_B−1) + (n_B·Q_B − S_B²)n_A²(n_A−1)
    share the common factor n_A²n_B²(n_A−1)(n_B−1) with the textbook
    form, so their ratio IS t² — one truncating div to milli.
    Magnitude envelope ~1e35 at sf1 in DECIMAL(38,0) ↔ HUGEINT.

    Scale shape: one user-keyed partial-agg shuffle, a 2-row variant
    rollup, a 1-row pivot — no window over facts, no collect."""
    t = _arm_moments(spark, sf_dir).select(
        "na",
        "nb",
        "sa",
        "sb",
        F.expr(
            "(sa * nb - sb * na) * (sa * nb - sb * na)"
            " * (na - 1) * (nb - 1)"
        ).alias("nume"),
        F.expr(
            "(na * qa - sa * sa) * nb * nb * (nb - 1)"
            " + (nb * qb - sb * sb) * na * na * (na - 1)"
        ).alias("deno"),
    )
    t2 = f"(cast(1000 as {D38}) * nume) div deno"
    return t.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr(f"(cast(1000000 as {D38}) * sa) div na")
        .cast("long")
        .alias("mean_a_micro"),
        F.expr(f"(cast(1000000 as {D38}) * sb) div nb")
        .cast("long")
        .alias("mean_b_micro"),
        F.expr(t2).cast("long").alias("t2_milli"),
        (F.expr(t2) > 3841).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval of the mean order value.
# ---------------------------------------------------------------------------
_BOOT_B = 32


@query(
    "stats_bootstrap_ci_poisson",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS id,
             ((o_totalprice::DECIMAL(12,2)) * 100)::BIGINT AS cents
      FROM orders
    ),
    reps AS (SELECT unnest(range(0, {_BOOT_B})) AS r),
    drawn AS (
      SELECT r.r, b.cents,
             CASE WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 6171992 THEN 0
                  WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 12343985 THEN 1
                  WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 15429982 THEN 2
                  WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 16458647 THEN 3
                  WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 16715813 THEN 4
                  WHEN md5_number_lower(
                    'boot' || r.r::VARCHAR || ':' || b.id::VARCHAR)
                    % 16777216 < 16767247 THEN 5
                  ELSE 6 END AS w
      FROM base b CROSS JOIN reps r
    ),
    means AS (
      SELECT r, ((1000000 * sum(w * cents)::HUGEINT)
                   // sum(w)::HUGEINT)::BIGINT AS mean_micro
      FROM drawn GROUP BY r
    ),
    s AS (SELECT list_sort(list(mean_micro)) AS ms FROM means)
    SELECT {_BOOT_B}::BIGINT AS b_replicates,
           ms[4]::BIGINT AS mean_p10_micro,
           ms[16]::BIGINT AS mean_p50_micro,
           ms[29]::BIGINT AS mean_p90_micro
    FROM s
    """,
)
def stats_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI (Chamandy et al. 2012, the streaming/
    distributed bootstrap): every order joins each of B=32 replicates
    with an independent Poisson(1) weight from the inlined inverse-CDF
    table over an md5 uniform (the ``sample_poisson_replicate``
    contract, salted per replicate), giving 32 deterministic replicate
    means whose order statistics bound the sampling distribution of the
    mean — p10/p50/p90 reported as the ⌈p·B⌉-th smallest (ranks 4, 16,
    29). The classical n-multinomial bootstrap needs global coordination;
    Poissonization makes every row independent, which is WHY it is the
    bootstrap that scales.

    Exactness: weights and cents are integers; each replicate mean is
    one truncating div to micro; rank selection is integer indexing on
    the sorted 32-element array — no float anywhere.

    Scale shape: a 32× weighted explode collapses immediately into a
    32-group partial agg (map-side combine keeps the shuffle at 32×
    n_partitions rows); the final 1-row sort_array runs on 32 values.
    No window over facts, no collect."""
    base = spread(load_table(spark, sf_dir, "orders"), "o_orderkey").select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    v = md5_low_bytes_sql(
        "concat('boot', cast(r as string), ':', cast(id as string))", 3
    )
    from zip_to_parquet_spark.plans.scidata import _pois_case

    drawn = base.select(
        "id",
        "cents",
        F.explode(F.expr(f"sequence(0L, {_BOOT_B - 1}L)")).alias("r"),
    ).select("r", "cents", F.expr(_pois_case(f"({v})")).alias("w"))
    means = drawn.groupBy("r").agg(
        F.expr(
            f"(cast(1000000 as {D38}) * cast(sum(w * cents) as {D38}))"
            f" div cast(sum(w) as {D38})"
        )
        .cast("long")
        .alias("mean_micro")
    )
    return means.agg(
        F.sort_array(F.collect_list("mean_micro")).alias("ms")
    ).select(
        F.lit(_BOOT_B).cast("long").alias("b_replicates"),
        # try_element_at: an empty corpus yields zero replicate means and
        # an empty sorted array — NULL percentiles in both engines
        # (DuckDB arr[i] out of range is NULL), not a Spark ANSI
        # INVALID_ARRAY_INDEX error (empty-fixture sweep, r11).
        F.try_element_at("ms", F.lit(4)).cast("long").alias("mean_p10_micro"),
        F.try_element_at("ms", F.lit(16)).cast("long").alias("mean_p50_micro"),
        F.try_element_at("ms", F.lit(29)).cast("long").alias("mean_p90_micro"),
    )


# ---------------------------------------------------------------------------
# Stratified average-treatment-effect estimator (exact matching on strata).
# ---------------------------------------------------------------------------
@query(
    "experiment_stratified_ate",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {_DUCK_VARIANT} AS t, (user_id % 3)::BIGINT AS stratum,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               ::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT stratum,
             count(*)::HUGEINT AS n_s,
             sum(t)::HUGEINT AS n_t,
             (count(*) - sum(t))::HUGEINT AS n_c,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END)::HUGEINT AS sy_t,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END)::HUGEINT AS sy_c
      FROM per_user GROUP BY stratum
    ),
    tot AS (SELECT sum(n_s) AS n FROM s),
    terms AS (
      SELECT stratum, n_s, n_t, n_c,
             ((1000000 * (sy_t * n_c - sy_c * n_t)) // (n_t * n_c))
               ::BIGINT AS diff_micro,
             ((1000000 * n_s * (sy_t * n_c - sy_c * n_t))
                // (tot.n * n_t * n_c))::BIGINT AS term_micro
      FROM s CROSS JOIN tot
    ),
    ate AS (SELECT sum(term_micro)::BIGINT AS ate FROM terms)
    SELECT stratum, n_s::BIGINT AS n_users, n_t::BIGINT AS n_treat,
           n_c::BIGINT AS n_ctrl, diff_micro, term_micro,
           ate.ate AS ate_total_micro
    FROM terms CROSS JOIN ate
    """,
)
def experiment_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (exact-matching) average treatment effect — the
    simplest causal adjustment for a confounded comparison (Imbens &
    Rubin 2015 ch.17 subclassification): within every stratum the
    treated/control outcome means difference, and the ATE is the
    stratum-size-weighted sum Σ_s (n_s/N)·(μ_t,s − μ_c,s). Treatment is
    the md5 A/B coin, outcome is per-user purchase count, and the
    stratum is a deterministic user cohort (user_id mod 3 — the stand-in
    for a profile covariate on the fixture). Completes the causal side
    of the experimentation family: SRM gates, CUPED shrinks, t² tests,
    this ADJUSTS.

    Exactness: each stratum's difference and weighted term are single
    truncating divisions of exact integer products (DECIMAL(38,0) ↔
    HUGEINT); the total ATE is the exact integer sum of the per-stratum
    micro terms — both engines truncate identically per stratum, so the
    sum is identical too.

    Scale shape: one user-keyed partial-agg shuffle, a |strata|-row
    rollup, a 1-row N broadcast — no window over facts, no collect."""
    per_user = (
        spread(load_table(spark, sf_dir, "events"), "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y")
        )
        .select(
            "y",
            F.expr(_VARIANT_SQL).alias("t"),
            (F.col("user_id") % 3).cast("long").alias("stratum"),
        )
    )
    s = per_user.groupBy("stratum").agg(
        F.count(F.lit(1)).cast(D38).alias("n_s"),
        F.sum("t").cast(D38).alias("n_t"),
        (F.count(F.lit(1)) - F.sum("t")).cast(D38).alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast(D38)
        .alias("sy_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast(D38)
        .alias("sy_c"),
    )
    tot = s.agg(F.sum("n_s").cast(D38).alias("n"))
    terms = s.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_s",
        "n_t",
        "n_c",
        # nullif: a stratum with only one arm (n_t or n_c = 0) has no
        # within-stratum contrast — NULL in both engines, not a Spark
        # ANSI error (degenerate_sweep.py finding, r11).
        F.expr(
            f"(cast(1000000 as {D38}) * (sy_t * n_c - sy_c * n_t))"
            " div nullif(n_t * n_c, 0)"
        )
        .cast("long")
        .alias("diff_micro"),
        F.expr(
            f"(cast(1000000 as {D38}) * n_s * (sy_t * n_c - sy_c * n_t))"
            " div nullif(n * n_t * n_c, 0)"
        )
        .cast("long")
        .alias("term_micro"),
    )
    ate = terms.agg(F.sum("term_micro").cast("long").alias("ate_total_micro"))
    return terms.crossJoin(F.broadcast(ate)).select(
        "stratum",
        F.col("n_s").cast("long").alias("n_users"),
        F.col("n_t").cast("long").alias("n_treat"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        "diff_micro",
        "term_micro",
        "ate_total_micro",
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (two-period, two-group).
# ---------------------------------------------------------------------------
@query(
    "experiment_diff_in_diff",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {_DUCK_VARIANT} AS t,
             sum(CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN 1 ELSE 0 END)
               ::BIGINT AS x,
             sum(CASE WHEN ts >= TIMESTAMP '{_CUTOFF}' THEN 1 ELSE 0 END)
               ::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)::HUGEINT AS nt,
             sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)::HUGEINT AS nc,
             sum(CASE WHEN t = 1 THEN x ELSE 0 END)::HUGEINT AS sxt,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END)::HUGEINT AS syt,
             sum(CASE WHEN t = 0 THEN x ELSE 0 END)::HUGEINT AS sxc,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END)::HUGEINT AS syc
      FROM per_user
    )
    SELECT nt::BIGINT AS n_treat, nc::BIGINT AS n_ctrl,
           ((1000000 * sxt) // nt)::BIGINT AS pre_treat_micro,
           ((1000000 * syt) // nt)::BIGINT AS post_treat_micro,
           ((1000000 * sxc) // nc)::BIGINT AS pre_ctrl_micro,
           ((1000000 * syc) // nc)::BIGINT AS post_ctrl_micro,
           ((1000000 * ((syt - sxt) * nc - (syc - sxc) * nt))
              // (nt * nc))::BIGINT AS did_micro
    FROM g
    """,
)
def experiment_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (Card & Krueger 1994 canonical 2×2):
    the treated group's pre→post change minus the control group's —
    the parallel-trends estimator that removes both group-level
    baseline differences and period-level shocks. Same md5 assignment
    and month-midpoint periods as the CUPED key; the five-key causal
    battery is now SRM (gate) → CUPED (shrink) → t² (test) →
    stratified ATE (adjust composition) → DiD (adjust trends).

    Exactness: DiD = ((Sy_t−Sx_t)·n_c − (Sy_c−Sx_c)·n_t)/(n_t·n_c) —
    one truncating division over the common denominator; the four cell
    means take one div each. All moments integer (DECIMAL(38,0) ↔
    HUGEINT headroom documented in the module).

    Scale shape: one user-keyed partial-agg shuffle, one 1-row reduce —
    join-free, window-free, collect-free."""
    per_user = _pre_post_counts(spark, sf_dir).withColumn(
        "t", F.expr(_VARIANT_SQL)
    )
    g = per_user.agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast(D38).alias("nt"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast(D38).alias("nc"),
        F.sum(F.when(F.col("t") == 1, F.col("x")).otherwise(0))
        .cast(D38)
        .alias("sxt"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast(D38)
        .alias("syt"),
        F.sum(F.when(F.col("t") == 0, F.col("x")).otherwise(0))
        .cast(D38)
        .alias("sxc"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast(D38)
        .alias("syc"),
    )
    m = f"cast(1000000 as {D38})"
    return g.select(
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        # nullif: an empty arm (nt or nc = 0 — e.g. a single-user
        # degenerate corpus) has no mean or contrast — NULL in both
        # engines, not a Spark ANSI error (degenerate_sweep.py, r11).
        F.expr(f"({m} * sxt) div nullif(nt, 0)")
        .cast("long").alias("pre_treat_micro"),
        F.expr(f"({m} * syt) div nullif(nt, 0)")
        .cast("long").alias("post_treat_micro"),
        F.expr(f"({m} * sxc) div nullif(nc, 0)")
        .cast("long").alias("pre_ctrl_micro"),
        F.expr(f"({m} * syc) div nullif(nc, 0)")
        .cast("long").alias("post_ctrl_micro"),
        F.expr(
            f"({m} * ((syt - sxt) * nc - (syc - sxc) * nt))"
            " div nullif(nt * nc, 0)"
        )
        .cast("long")
        .alias("did_micro"),
    )


# ---------------------------------------------------------------------------
# Central-DP histogram release via the geometric (discrete Laplace)
# mechanism — integer-exact, no transcendental at query time.
# ---------------------------------------------------------------------------
def _geom_sql(salt: str) -> str:
    """One-sided geometric(1/2) draw, 0..23, as a Spark SQL fragment:
    G = 23 − floor(log2(h+1)) with h an md5 uniform on [0, 2²⁴−2] and
    floor(log2(x)) = length(bin(x)) − 1 — Spark and DuckDB ``bin()``
    both render minimal binary, so the draw is integer-exact in both
    engines (P(G=g) = 2^(23−g)/(2²⁴−1) ∝ 2^−g, truncated at 23)."""
    h = md5_low_bytes_sql(f"concat('{salt}', event_type)", 3)
    return f"(23 - (length(bin(({h}) % 16777215 + 1)) - 1))"


def _geom_duck(salt: str) -> str:
    return (
        f"(23 - (length(bin(((md5_number_lower('{salt}' || event_type)"
        " % 16777216) % 16777215 + 1)::BIGINT)) - 1))"
    )


@query(
    "privacy_dp_geometric_counts",
    oracle=f"""
    WITH c AS (
      SELECT event_type, count(*)::BIGINT AS true_count
      FROM events GROUP BY event_type
    )
    SELECT event_type, true_count,
           {_geom_duck('dpg1:')}::BIGINT AS g_pos,
           {_geom_duck('dpg2:')}::BIGINT AS g_neg,
           (true_count + {_geom_duck('dpg1:')} - {_geom_duck('dpg2:')})
             ::BIGINT AS noisy_count
    FROM c
    """,
)
def privacy_dp_geometric_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-DP histogram release via the geometric mechanism (Ghosh,
    Roughgarden, Sundararajan STOC'09 — the discretely-optimal
    ε-DP noise for integer counts): each released cell adds
    G₁ − G₂ with independent geometric(1/2) draws, i.e. two-sided
    geometric (discrete Laplace) noise at ε = ln 2 for
    sensitivity-1 counts. Fourth member of the privacy family:
    ``pii_redact_counts`` scrubs, ``dq_k_anonymity`` audits,
    ``privacy_randomized_response`` collects locally, this RELEASES
    centrally.

    The exactness trick: a geometric(1/2) draw is the floor-log2 of a
    uniform — G = 23 − floor(log₂(h+1)) over a 24-bit md5 uniform, and
    floor(log₂ x) = length(bin(x)) − 1 renders identically in Spark and
    DuckDB, so the DP noise itself is integer-exact cross-engine (no
    exp/ln evaluates anywhere; the distribution truncates at 23,
    P < 10⁻⁷, documented). Draws salt on the CELL key — central DP adds
    one noise term per released cell, not per row.

    Scale shape: one map-side-combinable count rollup (the only fact
    shuffle); the noise is a map-only expression over |cells| rows."""
    c = (
        spread(load_table(spark, sf_dir, "events"), "event_id")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    g1 = _geom_sql("dpg1:")
    g2 = _geom_sql("dpg2:")
    return c.select(
        "event_type",
        "true_count",
        F.expr(g1).cast("long").alias("g_pos"),
        F.expr(g2).cast("long").alias("g_neg"),
        (F.col("true_count") + F.expr(g1) - F.expr(g2))
        .cast("long")
        .alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR over seasonality cells (exact integer rationals).
# ---------------------------------------------------------------------------
def bh_fdr_hour_cells(cells: DataFrame) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    at α = 1/20
    over per-cell deviation tests, with EXACT integer arithmetic end to
    end — the multiple-testing gate a feature-selection or anomaly sweep
    needs when it tests thousands of hypotheses at once.

    ``cells``: one row per hypothesis with ``(event_type, hr, n, obs)``
    where ``n`` is the group total and ``obs`` the cell count under an
    expected-uniform-over-24-hours null.

    Exactness contract: the per-cell statistic is the integer deviation
    ``dev24 = |24·obs − n|`` (24× the distance from expectation); its
    Chebyshev p-bound ``p = min(1, 23·n / dev24²)`` (binomial variance
    ``n·(1/24)·(23/24)``) stays a RATIONAL with integer numerator 23n
    and denominator dev24² — no CDF, no erf, no float p ever exists.
    The BH step-up check at rank i, ``p ≤ i·α/m``, cross-multiplies to
    ``23n·20·m ≤ i·1·dev24²`` in DECIMAL(38,0)/HUGEINT — exact
    at any scale, as is ``p_milli`` (its dev24² also squares in
    DECIMAL(38,0) ↔ HUGEINT; the quotient is ≤1000 by the least()).
    The raw rational columns (p_num, p_den) stay BIGINT and are exact
    while dev24 < 2^31.5, i.e. n_type ≲ 1.3e8 rows per hypothesis
    group — the documented-headroom convention of the sibling keys;
    p_milli and the rejection verdicts have no such limit. The ONLY doubles are the ordering key dev24²/n
    (monotone in 1/p): IEEE multiply+divide of integer-valued doubles
    is correctly rounded and bit-identical across JVM and C engines, so
    the rank sequence (ties broken on event_type, hr) matches the
    DuckDB oracle deterministically; no double reaches an output column.

    Scale shape: everything here is per-HYPOTHESIS work — m rows
    (24 × |event_type|, a policy constant, never data-sized). The one
    unpartitioned m-row window is bounded by m, not the corpus; the
    corpus-sized stage is the upstream count rollup the caller does."""
    m_df = cells.agg(F.count(F.lit(1)).cast("long").alias("m"))
    scored = cells.crossJoin(F.broadcast(m_df)).withColumn(
        "dev24", F.abs(24 * F.col("obs") - F.col("n")).cast("long")
    )
    ratio = (
        F.col("dev24").cast("double") * F.col("dev24").cast("double")
    ) / F.col("n").cast("double")
    w = Window.orderBy(ratio.desc(), "event_type", "hr")
    ranked = scored.withColumn("rank_i", F.row_number().over(w))
    hit = (F.col("dev24") > 0) & (
        F.expr(
            "cast(23 as decimal(38,0)) * n * 20 * m"
            " <= cast(rank_i as decimal(38,0)) * 1 * dev24 * dev24"
        )
    )
    hits = ranked.withColumn("hit", hit)
    cut = hits.agg(
        F.coalesce(F.max(F.when(F.col("hit"), F.col("rank_i"))), F.lit(0))
        .cast("long")
        .alias("i_star")
    )
    return hits.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "hr",
        F.col("n").cast("long").alias("n_type"),
        F.col("obs").cast("long").alias("obs"),
        "dev24",
        (23 * F.col("n")).cast("long").alias("p_num"),
        (F.col("dev24") * F.col("dev24")).cast("long").alias("p_den"),
        F.expr(
            "case when dev24 = 0 then 1000"
            " else least(cast(1000 as bigint),"
            " cast((cast(23 as decimal(38,0)) * n * 1000)"
            " div (cast(dev24 as decimal(38,0)) * dev24) as bigint)) end"
        )
        .cast("long")
        .alias("p_milli"),
        F.col("rank_i").cast("long").alias("rank_i"),
        (F.col("rank_i") <= F.col("i_star")).alias("rejected"),
    )


@query(
    "stats_bh_fdr_cells",
    oracle="""
    WITH ev AS (
      SELECT event_type, extract(hour FROM ts)::BIGINT AS hr FROM events
    ),
    counts AS (
      SELECT event_type, hr, count(*)::BIGINT AS obs FROM ev GROUP BY 1, 2
    ),
    types AS (SELECT event_type, count(*)::BIGINT AS n FROM ev GROUP BY 1),
    grid AS (
      SELECT t.event_type, h.hr, t.n, coalesce(c.obs, 0)::BIGINT AS obs
      FROM types t
      CROSS JOIN (SELECT unnest(range(0, 24))::BIGINT AS hr) h
      LEFT JOIN counts c ON c.event_type = t.event_type AND c.hr = h.hr
    ),
    m_ AS (SELECT count(*)::BIGINT AS m FROM grid),
    scored AS (
      SELECT g.event_type, g.hr, g.n, g.obs,
             abs(24 * g.obs - g.n)::BIGINT AS dev24, m_.m
      FROM grid g, m_
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY (dev24::DOUBLE * dev24::DOUBLE) / n::DOUBLE DESC,
                        event_type, hr) AS rank_i
      FROM scored
    ),
    hits AS (
      SELECT *, (dev24 > 0 AND
                 23::HUGEINT * n * 20 * m
                   <= rank_i::HUGEINT * 1 * dev24 * dev24) AS hit
      FROM ranked
    ),
    cut AS (
      SELECT coalesce(max(CASE WHEN hit THEN rank_i END), 0)::BIGINT
               AS i_star
      FROM hits
    )
    SELECT h.event_type, h.hr, h.n AS n_type, h.obs, h.dev24,
           (23 * h.n)::BIGINT AS p_num,
           (h.dev24 * h.dev24)::BIGINT AS p_den,
           (CASE WHEN h.dev24 = 0 THEN 1000
                 ELSE least(1000, (23::HUGEINT * h.n * 1000)
                                    // (h.dev24::HUGEINT * h.dev24))
            END)::BIGINT AS p_milli,
           h.rank_i::BIGINT AS rank_i,
           (h.rank_i <= cut.i_star) AS rejected
    FROM hits h, cut
    """,
)
def stats_bh_fdr_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which (event_type, hour-of-day) cells deviate from a uniform
    daily profile, with the false-discovery rate controlled at 5% by
    Benjamini–Hochberg — the multiple-testing discipline missing from
    the per-test battery (SRM chi-square, Welch t², Mann-Whitney test
    one hypothesis each; a 120-cell seasonality sweep without FDR
    control expects 6 false alarms at α=5%).

    See :func:`bh_fdr_hour_cells` for the exactness contract (rational
    Chebyshev p-bounds, cross-multiplied BH inequality — no float ever
    reaches an output). Conservative by construction: Chebyshev bounds
    over-cover, so every rejection survives a sharper test.

    Scale shape: ONE map-side-combinable (type, hour) count rollup over
    the corpus (the single fact shuffle) + a broadcast type-total join;
    the BH step-up itself runs over m = 24·|event_type| rows — policy
    geometry, not data size. At 100 TB the same two-level rollup feeds
    the identical m-row decision."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("long").alias("hr")
    )
    counts = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    types = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    hours = spark.range(0, 24).select(F.col("id").cast("long").alias("hr"))
    grid = (
        types.crossJoin(F.broadcast(hours))
        .join(counts, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            "n",
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
        )
    )
    return bh_fdr_hour_cells(grid)


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals with exact integer quantiles.
# ---------------------------------------------------------------------------
@query(
    "stats_conformal_coverage",
    oracle="""
    WITH base AS (
      SELECT event_type, event_id,
             (value::DECIMAL(12,2) * 100)::BIGINT AS cents,
             (event_id % 4 < 3) AS is_cal
      FROM events
    ),
    medh AS (
      SELECT event_type, cents, count(*)::BIGINT AS w
      FROM base WHERE is_cal GROUP BY 1, 2
    ),
    medc AS (
      SELECT event_type, cents, w,
             sum(w) OVER (PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(w) OVER (PARTITION BY event_type) AS n_cal
      FROM medh
    ),
    med AS (
      SELECT event_type, n_cal::BIGINT AS n_cal,
             min(cents)::BIGINT AS med_cents
      FROM medc WHERE 2 * cum >= n_cal GROUP BY event_type, n_cal
    ),
    adh AS (
      SELECT b.event_type, abs(b.cents - m.med_cents)::BIGINT AS ad,
             count(*)::BIGINT AS w
      FROM base b JOIN med m USING (event_type)
      WHERE b.is_cal GROUP BY 1, 2
    ),
    adc AS (
      SELECT a.event_type, a.ad, a.w, m.n_cal,
             sum(a.w) OVER (PARTITION BY a.event_type ORDER BY a.ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM adh a JOIN med m USING (event_type)
    ),
    qhat AS (
      SELECT event_type, min(ad)::BIGINT AS qhat_cents
      FROM adc WHERE 10 * cum >= 9 * (n_cal + 1) GROUP BY event_type
    ),
    test AS (
      SELECT b.event_type,
             count(*)::BIGINT AS n_test,
             sum(CASE WHEN abs(b.cents - m.med_cents) <= q.qhat_cents
                      THEN 1 ELSE 0 END)::BIGINT AS covered
      FROM base b JOIN med m USING (event_type)
                  JOIN qhat q USING (event_type)
      WHERE NOT b.is_cal GROUP BY 1
    )
    SELECT m.event_type, m.n_cal, m.med_cents, q.qhat_cents,
           t.n_test, t.covered,
           (1000 * t.covered) // t.n_test AS coverage_permille
    FROM med m JOIN qhat q USING (event_type)
               JOIN test t USING (event_type)
    """,
)
def stats_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Vovk et al.; Angelopoulos & Bates 2021
    tutorial form) with a finite-sample 90% coverage guarantee, evaluated
    empirically — the distribution-free uncertainty layer a model-based
    quality filter needs before its scores gate data at scale.

    Per event_type: a deterministic 75/25 calibration/test split on
    event_id; the point predictor is the calibration median (exact lower
    weighted median over the value-cents histogram); nonconformity is
    |cents - med|; qhat is the conformal quantile — the smallest score
    whose cumulative count reaches ceil(0.9 * (n_cal + 1)), checked by
    the cross-multiplied inequality 10*cum >= 9*(n_cal+1) so no
    fractional rank ever exists; test coverage counts |err| <= qhat.
    Theory says coverage >= 900 permille in expectation; the permille
    column shows it. Every intermediate is an integer.

    Scale shape: two map-side-combinable histogram rollups per
    event_type (value cents, then absolute deviations) with windows over
    HISTOGRAM cardinality, and a broadcast of the per-type medians and
    thresholds (|event_type| rows) onto the test scan. No corpus-sized
    window, no Python."""
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
        (F.col("event_id") % 4 < 3).alias("is_cal"),
    )
    cal = base.filter("is_cal")
    medh = cal.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    medc = medh.withColumn("cum", F.sum("w").over(wcum)).withColumn(
        "n_cal", F.sum("w").over(wall)
    )
    med = (
        medc.filter(2 * F.col("cum") >= F.col("n_cal"))
        .groupBy("event_type", "n_cal")
        .agg(F.min("cents").cast("long").alias("med_cents"))
    )
    adh = (
        cal.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "n_cal",
            F.abs(F.col("cents") - F.col("med_cents")).alias("ad"),
        )
        .groupBy("event_type", "n_cal", "ad")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    wad = (
        Window.partitionBy("event_type")
        .orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qhat = (
        adh.withColumn("cum", F.sum("w").over(wad))
        .filter(10 * F.col("cum") >= 9 * (F.col("n_cal") + 1))
        .groupBy("event_type")
        .agg(F.min("ad").cast("long").alias("qhat_cents"))
    )
    thresholds = med.join(qhat, "event_type")
    test = (
        base.filter(~F.col("is_cal"))
        .join(F.broadcast(thresholds), "event_type")
        .groupBy("event_type", "n_cal", "med_cents", "qhat_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("cents") - F.col("med_cents"))
                    <= F.col("qhat_cents")
                ).cast("long")
            )
            .cast("long")
            .alias("covered"),
        )
    )
    return test.select(
        "event_type",
        F.col("n_cal").cast("long").alias("n_cal"),
        "med_cents",
        "qhat_cents",
        "n_test",
        "covered",
        F.expr("(1000 * covered) div n_test")
        .cast("long")
        .alias("coverage_permille"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit over quasi-identifier groups (k-anonymity's companion).
# ---------------------------------------------------------------------------
@query(
    "privacy_l_diversity",
    oracle="""
    WITH j AS (
      SELECT c.c_nationkey AS nat,
             (c.c_acctbal::DECIMAL(12,2) * 100)::BIGINT // 100000
               AS bal_band,
             o.o_orderpriority AS sensitive
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT nat, bal_band,
             count(*)::BIGINT AS n_rows,
             count(DISTINCT sensitive)::BIGINT AS l
      FROM j GROUP BY 1, 2
    )
    SELECT nat,
           count(*)::BIGINT AS n_groups,
           sum(n_rows)::BIGINT AS n_rows,
           min(l)::BIGINT AS min_l,
           sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)::BIGINT AS weak_groups,
           sum(CASE WHEN l < 3 THEN n_rows ELSE 0 END)::BIGINT AS weak_rows
    FROM g GROUP BY nat
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007) —
    k-anonymity's necessary companion: a quasi-identifier group can be
    large (k-anonymous) yet reveal everyone's sensitive value if that
    value is uniform within the group. Here the QI is (nation, $1000
    balance band), the sensitive attribute is the order priority of the
    customer's orders, and each nation reports its minimum group
    l (distinct sensitive values), plus how many groups and rows fall
    below l = 3 — the release-gate row count a privacy review needs.

    Exactness: counts and distinct-counts only.

    Scale shape: one fact-dim equi-join on the customer key, one
    groupBy onto QI-group cardinality (countDistinct expands to a
    two-level aggregate — both levels map-side combinable), a per-nation
    rollup. Same geometry as dq_k_anonymity with the join in front."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"
            " div 100000"
        ).alias("bal_band"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("sensitive")
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("nat", "bal_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("sensitive").cast("long").alias("l"),
        )
    )
    weak = F.col("l") < 3
    return g.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(weak, 1).otherwise(0)).cast("long").alias("weak_groups"),
        F.sum(F.when(weak, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("weak_rows"),
    )


# ---------------------------------------------------------------------------
# Group-sequential interim analysis (O'Brien-Fleming bounds, K = 4 looks).
# ---------------------------------------------------------------------------
# Two-sided alpha = 5%, K = 4 equally-spaced looks: the classic
# O'Brien-Fleming (1979) z boundaries 4.333, 2.963, 2.359, 2.014
# (Pocock 1977 / Jennison & Turnbull tabulations), squared to exact
# z^2-milli so the interim test compares two integers.
_OBF_Z2_MILLI = [18775, 8779, 5565, 4056]


_OBF_CASE = "CASE " + " ".join(
    f"WHEN look = {k + 1} THEN {z2}" for k, z2 in enumerate(_OBF_Z2_MILLI)
) + " END"


@query(
    "experiment_group_sequential",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {_DUCK_VARIANT} AS variant,
             (md5_number_lower('gs' || user_id::VARCHAR)::HUGEINT
                % 16777216) % 4 AS bucket,
             count(*)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    bk AS (
      SELECT bucket, variant, count(*)::HUGEINT AS n,
             sum(y)::HUGEINT AS s, sum(y * y)::HUGEINT AS q
      FROM per_user GROUP BY 1, 2
    ),
    cum AS (
      SELECT (bucket + 1)::BIGINT AS look, variant,
             sum(n) OVER w AS n, sum(s) OVER w AS s, sum(q) OVER w AS q
      FROM bk
      WINDOW w AS (PARTITION BY variant ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    piv AS (
      SELECT look,
             max(CASE WHEN variant = 0 THEN n END) AS na,
             max(CASE WHEN variant = 0 THEN s END) AS sa,
             max(CASE WHEN variant = 0 THEN q END) AS qa,
             max(CASE WHEN variant = 1 THEN n END) AS nb,
             max(CASE WHEN variant = 1 THEN s END) AS sb,
             max(CASE WHEN variant = 1 THEN q END) AS qb
      FROM cum GROUP BY look
    ),
    t AS (
      SELECT look, na, nb,
             (sa * nb - sb * na) * (sa * nb - sb * na)
               * (na - 1) * (nb - 1) AS nume,
             (na * qa - sa * sa) * nb * nb * (nb - 1)
               + (nb * qb - sb * sb) * na * na * (na - 1) AS deno
      FROM piv
    )
    SELECT look, na::BIGINT AS n_a, nb::BIGINT AS n_b,
           (CASE WHEN deno = 0 THEN NULL
                 ELSE (1000 * nume) // deno END)::BIGINT AS t2_milli,
           ({_OBF_CASE})::BIGINT AS bound_z2_milli,
           (CASE WHEN deno = 0 THEN NULL
                 ELSE (1000 * nume) // deno >= ({_OBF_CASE})
            END) AS crossed
    FROM t
    """,
)
def experiment_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential interim monitoring (O'Brien-Fleming 1979;
    Jennison & Turnbull): the SAME Welch t^2 rational as
    experiment_lift_t2, evaluated at four nested interim looks (users
    bucketed by a content-keyed md5 draw standing in for arrival order)
    against the classic OBF spending boundaries — very conservative
    early (z = 4.33 at look 1), converging to ~nominal at the final
    look (z = 2.01). The discipline that lets an experiment peek
    without inflating false positives; a t2 that crosses only at look
    4 is exactly the case naive repeated testing would have called
    early and wrongly.

    Exactness: per-bucket integer moments accumulate via cumulative
    windows (nested looks by construction); the t^2 rational and the
    tabulated z^2-milli boundary compare as integers.

    Scale shape: one user-keyed partial-agg shuffle, an 8-row
    (bucket, variant) rollup, 4-row windows and pivot — identical
    geometry to the single-look key plus a constant-sized window."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql
    from pyspark.sql.window import Window

    per_user = (
        spread(load_table(spark, sf_dir, "events"), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .withColumn("variant", F.expr(_VARIANT_SQL))
        .withColumn(
            "bucket",
            F.expr(
                md5_low_bytes_sql("concat('gs', cast(user_id as string))", 3)
            )
            % 4,
        )
    )
    bk = per_user.groupBy("bucket", "variant").agg(
        F.count(F.lit(1)).cast(D38).alias("n"),
        F.sum("y").cast(D38).alias("s"),
        F.sum(F.expr("y * y")).cast(D38).alias("q"),
    )
    w = (
        Window.partitionBy("variant")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bk.select(
        (F.col("bucket") + 1).cast("long").alias("look"),
        "variant",
        F.sum("n").over(w).alias("n"),
        F.sum("s").over(w).alias("s"),
        F.sum("q").over(w).alias("q"),
    )
    piv = cum.groupBy("look").agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 0, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("variant") == 0, F.col("q"))).alias("qa"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 1, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("variant") == 1, F.col("q"))).alias("qb"),
    )
    t = piv.select(
        "look",
        "na",
        "nb",
        F.expr(
            "(sa * nb - sb * na) * (sa * nb - sb * na)"
            " * (na - 1) * (nb - 1)"
        ).alias("nume"),
        F.expr(
            "(na * qa - sa * sa) * nb * nb * (nb - 1)"
            " + (nb * qb - sb * sb) * na * na * (na - 1)"
        ).alias("deno"),
    )
    t2 = F.when(F.col("deno") == 0, F.lit(None)).otherwise(
        F.expr("(1000 * nume) div deno")
    )
    return t.select(
        "look",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        t2.cast("long").alias("t2_milli"),
        F.expr(_OBF_CASE).cast("long").alias("bound_z2_milli"),
        F.when(F.col("deno") == 0, F.lit(None).cast("boolean"))
        .otherwise(
            F.expr("(1000 * nume) div deno") >= F.expr(_OBF_CASE)
        )
        .alias("crossed"),
    )


# ---------------------------------------------------------------------------
# Power analysis: minimum detectable effect at 80% power from pilot variance.
# ---------------------------------------------------------------------------
# (z_{alpha/2} + z_beta)^2 at alpha=0.05 two-sided, power 0.8:
# (1.959964 + 0.841621)^2 = 7.848879 — tabulated in micro once, the
# group-sequential key's z^2-constant precedent.
_K2_MICRO = 7848879


@query(
    "experiment_power_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {_DUCK_VARIANT} AS variant, count(*)::BIGINT AS y
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, count(*)::HUGEINT AS n,
             sum(y)::HUGEINT AS s, sum(y * y)::HUGEINT AS q
      FROM per_user GROUP BY variant
    ),
    w AS (
      SELECT max(CASE WHEN variant = 0 THEN n END) AS na,
             max(CASE WHEN variant = 0 THEN s END) AS sa,
             max(CASE WHEN variant = 0 THEN q END) AS qa,
             max(CASE WHEN variant = 1 THEN n END) AS nb,
             max(CASE WHEN variant = 1 THEN s END) AS sb,
             max(CASE WHEN variant = 1 THEN q END) AS qb
      FROM v
    ),
    t AS (
      SELECT na, nb, sa, sb,
             (na * qa - sa * sa) * nb * nb * (nb - 1)
               + (nb * qb - sb * sb) * na * na * (na - 1) AS nume,
             na * na * (na - 1) * nb * nb * (nb - 1) AS deno,
             (sa * nb - sb * na) * (sa * nb - sb * na) AS eff_num,
             na * na * nb * nb AS eff_den
      FROM w
    )
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           ((1000000 * sa) // na)::BIGINT AS mean_a_micro,
           ((1000000 * sb) // nb)::BIGINT AS mean_b_micro,
           ((1000000 * eff_num) // eff_den)::BIGINT AS effect2_micro,
           (({_K2_MICRO} * nume) // deno)::BIGINT AS mde2_micro,
           ((1000000 * eff_num) // eff_den)
             >= (({_K2_MICRO} * nume) // deno) AS powered
    FROM t
    """,
)
def experiment_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis from pilot variance: the squared minimum detectable
    effect MDE² = (z_α/2 + z_β)²·(s_A²/n_A + s_B²/n_B) at α=0.05 /
    power 0.8, next to the observed squared effect — the go/no-go sizing
    readout every experiment runs BEFORE trusting a null result
    ("was this test even able to see the lift we care about?").
    Completes the experimentation battery: srm gates assignment, cuped
    shrinks variance, lift_t2 reads significance, group_sequential peeks
    safely, this one says whether n was enough.

    Exactness: the z-constant is tabulated once in micro (the
    group-sequential precedent — no normal quantile function in either
    engine); s_A²/n_A + s_B²/n_B is held as ONE integer rational
    (nume/deno over the shared factor n_A²(n_A−1)n_B²(n_B−1)); the
    squared observed effect likewise. ``powered`` compares the two
    ALREADY-truncated micro values, so both engines decide identically.
    Magnitude envelope ~1e36 at sf1 in DECIMAL(38,0) ↔ HUGEINT (the
    K2·nume product is the binding term; beyond sf1 drop to mde2_milli).

    Scale shape: identical to experiment_lift_t2 — one user-keyed
    partial-agg shuffle, a 2-row variant rollup, a 1-row pivot; the
    power algebra runs on the 1-row frame. No windows, no collect."""
    t = _arm_moments(spark, sf_dir).select(
        "na",
        "nb",
        "sa",
        "sb",
        F.expr(
            "(na * qa - sa * sa) * nb * nb * (nb - 1)"
            " + (nb * qb - sb * sb) * na * na * (na - 1)"
        ).alias("nume"),
        F.expr("na * na * (na - 1) * nb * nb * (nb - 1)").alias("deno"),
        F.expr("(sa * nb - sb * na) * (sa * nb - sb * na)").alias("eff_num"),
        F.expr("na * na * nb * nb").alias("eff_den"),
    )
    eff = f"(cast(1000000 as {D38}) * eff_num) div eff_den"
    mde = f"(cast({_K2_MICRO} as {D38}) * nume) div deno"
    return t.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr(f"(cast(1000000 as {D38}) * sa) div na")
        .cast("long")
        .alias("mean_a_micro"),
        F.expr(f"(cast(1000000 as {D38}) * sb) div nb")
        .cast("long")
        .alias("mean_b_micro"),
        F.expr(eff).cast("long").alias("effect2_micro"),
        F.expr(mde).cast("long").alias("mde2_micro"),
        (F.expr(eff).cast("long") >= F.expr(mde).cast("long")).alias(
            "powered"
        ),
    )


# ---------------------------------------------------------------------------
# Class-balanced downsampling: every class capped to the minority size.
# ---------------------------------------------------------------------------
@query(
    "sample_class_balanced",
    oracle="""
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    q AS (SELECT min(n) AS n_min FROM c)
    SELECT doc_id, lang FROM documents, q
    QUALIFY row_number() OVER (
        PARTITION BY lang
        ORDER BY md5_number_lower('bal:' || doc_id::VARCHAR)
                   % 281474976710656, doc_id)
      <= q.n_min
    """,
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: cap every ``lang`` class at the
    MINORITY class's size, drawing the lowest md5-48 hash ranks within
    each class — the classifier-training prep step (a quality/lang-ID
    model trained on the raw corpus learns the class prior, not the
    classes; Japkowicz & Stephen 2002). Completes the sampling-design
    family: stratified_exact holds per-stratum PROPORTIONS, systematic
    takes every k-th, this one EQUALIZES the strata. Deterministic:
    the same ids are drawn on every rerun and every engine, and each
    class lands at exactly n_min rows.

    Scale shape: one map-side-combinable class-count rollup broadcast
    back as a 1-row minimum, then ONE class-keyed shuffle for the rank
    window — the same single-shuffle shape as sample_stratified_exact
    (substratification would salt a dominant class). The output is
    k·n_min rows, bounded by the minority class, never the corpus."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_min = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("n_min"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.expr(md5_low_bytes_sql("concat('bal:', cast(doc_id as string))", 6)),
        "doc_id",
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .crossJoin(F.broadcast(n_min))
        .filter(F.col("rk") <= F.col("n_min"))
        .select("doc_id", "lang")
    )
