"""Round-4 analytics surface: containment dedup, TF-IDF keyword
extraction, event funnels / retention cohorts, PassJoin edit-distance
dedup, curriculum bucketing, co-purchase triangle counting, and an ORC
format-roundtrip — extension operators beyond the reference's zip→parquet
core (SURVEY.md §2 C/E are exhaustively absent there; provenance:
/root/reference/src/builder.rs:1-322 has no joins, windows, or analytics).

Oracle discipline matches the rest of the repo: every key here has a full
DuckDB value oracle; floating-point seams are closed with the integer
micro-nat trick (one floor per TYPE, exact integer arithmetic after) or
exact DECIMAL sums cast to double at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.dedupe import (
    DUCK_HOT_HAVING_SQL,
    containment_pairs,
    shingle_sets,
    word_edit_pairs,
)
from zip_to_parquet_spark.operators.graph import copurchase_pairs, triangle_count
from zip_to_parquet_spark.operators.joins import merge_upsert, scd2_history
from zip_to_parquet_spark.operators.pipeline import curriculum_buckets
from zip_to_parquet_spark.operators.pipeline import (
    simulated_refresh_sql as _refresh_sql,
)
from zip_to_parquet_spark.operators.retrieval import tfidf_topk_terms
from zip_to_parquet_spark.operators.temporal import (
    funnel_stage_counts,
    retention_cohorts,
)
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.runtime import spread
from zip_to_parquet_spark.schema import load_table


# ---------------------------------------------------------------------------
# Containment dedup (asymmetric near-dup / quote detection)
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> array_to_string(w[i:i+2], ' '))) AS sh
      FROM t
    ),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    hot AS (
      SELECT shingle FROM e GROUP BY shingle
      HAVING {DUCK_HOT_HAVING_SQL}
    ),
    eg AS (SELECT e.* FROM e ANTI JOIN hot USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM eg a JOIN eg b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_intersect(x.sh, y.sh))::DOUBLE / len(x.sh) AS containment
    FROM cand JOIN s x ON x.doc_id = doc_a JOIN s y ON y.doc_id = doc_b
    WHERE len(list_intersect(x.sh, y.sh))::DOUBLE / len(x.sh) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs (|sh(a) ∩ sh(b)| / |sh(a)| >= 0.9, ORDERED
    — doc_a contained in doc_b): the asymmetric quote-/subset-dup signal
    Jaccard misses. Same inverted-index + exact-verify shape as the
    Jaccard key (operators.dedupe.containment_pairs)."""
    sh = shingle_sets(spread(load_table(spark, sf_dir, "documents"), "doc_id"))
    return containment_pairs(sh)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------
@query(
    "tfidf_topk_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT tf FROM tok GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*)::BIGINT df FROM tf GROUP BY 1),
    n AS (SELECT count(*)::BIGINT n_docs FROM documents),
    idf AS (
      SELECT term, df,
             floor(ln(n_docs::DOUBLE / df::DOUBLE) * 1e6)::BIGINT idf_micro
      FROM dfq, n
    ),
    s AS (
      SELECT tf.doc_id, tf.term, tf.tf, idf.idf_micro,
             (tf.tf * idf.idf_micro)::BIGINT score_micro
      FROM tf JOIN idf USING (term)
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score_micro DESC, term) rn
      FROM s
    )
    SELECT doc_id, term, tf, idf_micro, score_micro, rn::INT AS rank
    FROM r WHERE rn <= 3
    """,
)
def tfidf_topk_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction / sparse
    feature selection). Idf is floored to integer micro-nats once per
    term TYPE, so scores are exact integers; the idf table joins
    size-aware (broadcast under threshold, term-keyed shuffle above —
    runtime.size_aware_side)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return tfidf_topk_terms(docs)


# ---------------------------------------------------------------------------
# Event funnel + retention cohorts
# ---------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "purchase"]


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
    )
    SELECT 1::INT stage, 'view' step_name,
           (SELECT count(*) FROM s1)::BIGINT users_reached
    UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel. The engine folds each
    user's step events through a codegen'd state machine in ONE shuffle
    (operators.temporal.funnel_stage_counts); the oracle states the same
    greedy-earliest-match semantics as staged strict-after mins."""
    return funnel_stage_counts(
        load_table(spark, sf_dir, "events"), steps=_FUNNEL_STEPS
    )


@query(
    "events_retention_cohort",
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, ts::DATE d FROM events),
    firsts AS (SELECT user_id, min(d) cohort_date FROM days GROUP BY 1)
    SELECT f.cohort_date,
           date_diff('day', f.cohort_date, days.d)::INT AS day_offset,
           count(DISTINCT days.user_id)::BIGINT AS users
    FROM days JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-active date,
    counted per day offset they return. Aggregate-before-join both sides;
    all shuffles on user / (cohort, offset) keys."""
    return retention_cohorts(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# PassJoin word-edit-distance dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_edit_distance",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             array_to_string(list_transform((string_split(text, ' '))[1:48],
                             x -> substr(md5(x), 1, 1)), '') enc
      FROM documents
      WHERE len(string_split(text, ' ')) >= 48
    ),
    asg AS (
      SELECT doc_id,
             unnest([substr(enc, 1, 10), substr(enc, 11, 10),
                     substr(enc, 21, 10), substr(enc, 31, 9),
                     substr(enc, 40, 9)]) AS c
      FROM d
    ),
    subs AS (
      SELECT d.doc_id, substr(d.enc, p.p, l.l) AS c
      FROM d
      CROSS JOIN (SELECT unnest([9, 10]) AS l) l
      CROSS JOIN (SELECT unnest(range(1, 41)) AS p) p
      WHERE p.p + l.l - 1 <= 48
    ),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) doc_a,
                      greatest(a.doc_id, b.doc_id) doc_b
      FROM asg a JOIN subs b ON a.c = b.c AND a.doc_id <> b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           levenshtein(da.enc, db.enc)::INT AS word_edit_distance
    FROM cand c
    JOIN d da ON da.doc_id = c.doc_a
    JOIN d db ON db.doc_id = c.doc_b
    WHERE levenshtein(da.enc, db.enc) <= 4
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level edit-distance ≤ 4 near-dup pairs over the first 48
    words, encoded one md5 hex char per word. Engine: PassJoin segment
    equi-join candidates + exact levenshtein verify
    (operators.dedupe.word_edit_pairs); oracle: the position-free
    containment superset of the same pigeonhole, verified identically —
    both complete, so the verified sets coincide."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return word_edit_pairs(docs)


# ---------------------------------------------------------------------------
# Curriculum bucketing
# ---------------------------------------------------------------------------
_CURRICULUM_THRESHOLDS = ", ".join(
    f"min(CASE WHEN cum >= ({q} * n + 9) // 10 THEN n_tokens END) t{q}"
    for q in range(1, 10)
)
_CURRICULUM_BUCKET = " + ".join(
    f"(d.n_tokens > t.t{q})::INT" for q in range(1, 10)
)


@query(
    "curriculum_quantile_order",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT n_tokens
      FROM documents
    ),
    vc AS (SELECT n_tokens, count(*) c FROM d GROUP BY 1),
    cum AS (
      SELECT n_tokens, sum(c) OVER (ORDER BY n_tokens) cum,
             (SELECT count(*) FROM d) n
      FROM vc
    ),
    thr AS (SELECT {_CURRICULUM_THRESHOLDS} FROM cum)
    SELECT d.doc_id, d.n_tokens,
           (1 + {_CURRICULUM_BUCKET})::INT AS bucket,
           md5('cur' || d.doc_id::VARCHAR) AS shuffle_key
    FROM d CROSS JOIN thr t
    """,
)
def curriculum_quantile_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth 10-bucket difficulty binning (token count) with a
    deterministic intra-bucket shuffle key — curriculum ordering without
    a global row_number window: consumers range-sort on (bucket,
    shuffle_key). Thresholds are integer percentile_disc over the
    distinct-value cumulative distribution — no float interpolation to
    disagree across engines."""
    return curriculum_buckets(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Co-purchase triangle counting
# ---------------------------------------------------------------------------
@query(
    "graph_triangle_count",
    oracle="""
    WITH lp0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    lp AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               count(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM lp0)
      WHERE bsz <= 256
    ),
    e AS (
      SELECT DISTINCT a.l_partkey u, b.l_partkey v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    t AS (
      SELECT count(*)::BIGINT n_triangles
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges, t.n_triangles FROM t
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts sharing an order).
    Engine: degree-ordered edge-iterator (operators.graph.triangle_count)
    — orientation bounds wedge fan-out by O(√m) out-degree, the power-law
    skew fix; oracle: the naive a<b<c 3-way join, which counts the same
    triangles at fixture scale. Edge generation itself is basket-capped
    (operators.graph.BASKET_CAP, r13 — C(basket, 2) pairs per order is
    quadratic in a data-dependent quantity; mirrored in the oracle,
    never fires on fixtures)."""
    edges = copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# ORC format roundtrip
# ---------------------------------------------------------------------------
@query(
    "format_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*)::BIGINT                                AS n_rows,
           (sum(l_quantity::DECIMAL(12,2)))::DOUBLE        AS sum_qty,
           (sum(l_extendedprice::DECIMAL(12,2)))::DOUBLE   AS sum_base_price
    FROM lineitem GROUP BY 1, 2
    """,
)
def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem to ORC (Spark's built-in columnar sibling to
    parquet), read it back, aggregate — proving the engine round-trips a
    second columnar format losslessly (the oracle aggregates the original
    parquet). Exact DECIMAL sums cast to double at the end, per the q1
    convention. The ORC write is a distributed partitioned write to a
    per-session scratch dir under /tmp — keyed by applicationId so two
    concurrent sessions on the same sf never overwrite each other's
    files mid-read-back (and each session overwrites only its own
    leftovers on re-run)."""
    from zip_to_parquet_spark.sinks import write_orc

    from zip_to_parquet_spark.runtime import session_scratch

    path = session_scratch(spark, "z2ps_orc", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    write_orc(li, path)
    back = spark.read.orc(path)
    dec = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning over a Hive-partitioned fact layout
# ---------------------------------------------------------------------------
@query(
    "join_partition_pruning_dynamic",
    oracle="""
    WITH m AS (
      SELECT DISTINCT (year(o_orderdate) * 100 + month(o_orderdate))
               AS ship_yyyymm
      FROM orders WHERE month(o_orderdate) IN (1, 2, 3)
    ),
    f AS (
      SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS ship_yyyymm,
             (l_extendedprice::DECIMAL(12,2) * 100)::BIGINT AS cents
      FROM lineitem
    )
    SELECT f.ship_yyyymm, count(*) AS n_rows,
           sum(cents)::BIGINT AS revenue_cents
    FROM f JOIN m USING (ship_yyyymm)
    GROUP BY f.ship_yyyymm
    """,
)
def join_partition_pruning_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP), the flagship star-schema scan
    optimization: the fact table lives as a Hive layout PARTITIONED BY
    ship month (written once per session into applicationId-keyed
    scratch via sinks.write_partitioned — small-files-controlled), and
    the join against the filtered month dimension injects a
    ``dynamicpruningexpression`` into the fact scan's PartitionFilters,
    so non-qualifying month directories are never read. At 100 TB this
    is the difference between scanning 3 months and scanning 84: the
    dim filter prunes I/O at runtime without a manual predicate on the
    fact. The plan test asserts the dynamic filter reached the scan;
    the oracle computes the identical join over the unpartitioned
    table (the layout must not change the answer)."""
    import os as _os

    from zip_to_parquet_spark.runtime import session_scratch
    from zip_to_parquet_spark.sinks import write_partitioned

    path = session_scratch(spark, "z2ps_dpp", sf_dir)
    # Dynamic partition overwrite emits no _SUCCESS marker — use an
    # explicit done-file so the immutable layout is built once per
    # (session, sf) instead of rewritten every call.
    done = _os.path.join(path, "_z2ps_done")
    if not _os.path.exists(done):
        li = load_table(spark, sf_dir, "lineitem").select(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias(
                "ship_yyyymm"
            ),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        write_partitioned(li, path, ["ship_yyyymm"])
        open(done, "w").close()
    # Explicit schema: an empty lineitem writes zero partition dirs and
    # schema inference would fail (UNABLE_TO_INFER_SCHEMA, empty-fixture
    # sweep r11); with the schema pinned, the empty layout reads as an
    # empty DataFrame and partition discovery is unchanged when data
    # exists.
    fact = spark.read.schema("cents long, ship_yyyymm int").parquet(path)
    months = (
        load_table(spark, sf_dir, "orders")
        .filter(F.month("o_orderdate").isin(1, 2, 3))
        .select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
                "ship_yyyymm"
            )
        )
        .distinct()
    )
    return (
        fact.join(F.broadcast(months), "ship_yyyymm")
        # Partition-directory inference types the key as INT; the oracle's
        # year()*100+month() is BIGINT — align (driver hash is type-aware).
        .groupBy(F.col("ship_yyyymm").cast("long").alias("ship_yyyymm"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Warehouse refresh primitives: MERGE upsert + SCD2 dimension history
# ---------------------------------------------------------------------------
@query(
    "corpus_merge_upsert",
    oracle="""
    WITH newsnap AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN text || ' updated' ELSE text END
               AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
      FROM documents WHERE doc_id % 17 = 5
    )
    SELECT doc_id, sha256(text) AS text_sha FROM newsnap
    """,
)
def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO applied to the corpus: the same deterministic refresh
    that corpus_snapshot_delta DETECTS, here APPLIED as a change set
    (deletes id%13=0, in-place edits id%7=3, arrivals id%17=5 under new
    ids) through operators.joins.merge_upsert — one full-outer id join.
    The +1,000,000 insert-id offset is a FIXTURE construct (ids are <
    5,000 at every checked-in sf); merge_upsert's contract requires
    insert ids from a space disjoint from base — production callers use
    a reserved high bit or composite key, never a fixed offset a
    growing corpus can collide with (see the operator docstring).
    The oracle constructs the refreshed snapshot directly, so the merge
    result is hash-checked to equal it row for row (content-hashed; the
    text itself never needs to leave the executors)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deletes = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("text"),
    )
    edits = (
        docs.filter((F.col("doc_id") % 7 == 3) & (F.col("doc_id") % 13 != 0))
        .select(
            "doc_id",
            F.lit("upsert").alias("op"),
            F.concat(F.col("text"), F.lit(" updated")).alias("text"),
        )
    )
    inserts = docs.filter(F.col("doc_id") % 17 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("upsert").alias("op"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    changes = deletes.unionByName(edits).unionByName(inserts)
    merged = merge_upsert(docs, changes)
    return merged.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha")
    )


@query(
    "dim_scd2_history",
    oracle="""
    WITH old AS (SELECT c_custkey, c_nationkey FROM customer),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 2 THEN (c_nationkey + 1) % 25
                  ELSE c_nationkey END AS c_nationkey
      FROM customer WHERE c_custkey % 19 <> 0
      UNION ALL
      SELECT c_custkey + 500000 AS c_custkey, c_nationkey
      FROM customer WHERE c_custkey % 23 = 7
    ),
    both_same AS (
      SELECT o.c_custkey, o.c_nationkey FROM old o JOIN new n
        USING (c_custkey) WHERE o.c_nationkey = n.c_nationkey
    ),
    both_diff AS (
      SELECT o.c_custkey, o.c_nationkey AS o_nat, n.c_nationkey AS n_nat
      FROM old o JOIN new n USING (c_custkey)
      WHERE o.c_nationkey <> n.c_nationkey
    ),
    removed AS (
      SELECT o.c_custkey, o.c_nationkey FROM old o
      ANTI JOIN new n USING (c_custkey)
    ),
    added AS (
      SELECT n.c_custkey, n.c_nationkey FROM new n
      ANTI JOIN old o USING (c_custkey)
    )
    SELECT c_custkey, c_nationkey::VARCHAR AS c_nationkey,
           NULL::DATE AS valid_to, TRUE AS is_current FROM both_same
    UNION ALL SELECT c_custkey, o_nat::VARCHAR, DATE '2024-02-01', FALSE
    FROM both_diff
    UNION ALL SELECT c_custkey, n_nat::VARCHAR, NULL::DATE, TRUE
    FROM both_diff
    UNION ALL SELECT c_custkey, c_nationkey::VARCHAR, DATE '2024-02-01',
    FALSE FROM removed
    UNION ALL SELECT c_custkey, c_nationkey::VARCHAR, NULL::DATE, TRUE
    FROM added
    """,
)
def dim_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 over the customer dimension: a
    deterministic simulated refresh (churn id%19=0, nation moves
    id%11=2, signups id%23=7 under new ids) versioned by
    operators.joins.scd2_history — changed ids close their old version
    at the as-of date and open a new one; attribute values ride as
    strings (the version struct is type-uniform across attributes). One
    full-outer join + in-row version explode; the oracle enumerates the
    four branch outcomes with joins/anti-joins."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    new = (
        cust.filter(F.col("c_custkey") % 19 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 11 == 2,
                (F.col("c_nationkey") + 1) % 25,
            )
            .otherwise(F.col("c_nationkey"))
            .alias("c_nationkey"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 23 == 7).select(
                (F.col("c_custkey") + 500000).alias("c_custkey"),
                "c_nationkey",
            )
        )
    )
    return scd2_history(cust, new, "c_custkey", ["c_nationkey"])


# ---------------------------------------------------------------------------
# Rolling active users + quality-based dedup survivor policy
# ---------------------------------------------------------------------------
@query(
    "events_rolling_active_users",
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, ts::DATE d FROM events),
    ends AS (
      SELECT user_id, (d + (o.o::INT * INTERVAL '1 day'))::DATE AS win_end
      FROM days CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
    ),
    mx AS (SELECT max(d) AS max_d FROM days)
    SELECT win_end, count(DISTINCT user_id)::BIGINT AS active_users
    FROM ends, mx WHERE win_end <= mx.max_d
    GROUP BY win_end
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the rolling-DAU growth
    metric). COUNT DISTINCT over a sliding frame isn't a window-function
    frame in either engine, so both replicate each (user, day) into the
    7 window-ends it belongs to — the hopping-window trick — then count
    distinct per end. Shuffle keys: (user, day) distinct then win_end;
    the one-row max-date bound rides a broadcast."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.col("ts")).alias("d")
    ).distinct()
    mx = days.agg(F.max("d").alias("max_d"))
    ends = days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("o")).alias("win_end"))
    return (
        ends.crossJoin(F.broadcast(mx))
        .filter(F.col("win_end") <= F.col("max_d"))
        .groupBy("win_end")
        .agg(
            F.count_distinct(F.col("user_id"))
            .cast("bigint")
            .alias("active_users")
        )
    )


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> array_to_string(w[i:i+2], ' '))) AS sh
      FROM t
    ),
    e2 AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    hot AS (
      SELECT shingle FROM e2 GROUP BY shingle
      HAVING {DUCK_HOT_HAVING_SQL}
    ),
    eg AS (SELECT e2.* FROM e2 ANTI JOIN hot USING (shingle)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM eg a JOIN eg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      JOIN s x ON x.doc_id = doc_a JOIN s y ON y.doc_id = doc_b
      WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.8
    ),
    sym AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.src, s2.v FROM reach r JOIN sym s2 ON r.dst = s2.u
    ),
    comps AS (
      SELECT src AS doc_id, least(src, min(dst)) AS comp
      FROM reach GROUP BY src
    ),
    ranked AS (
      SELECT c.comp, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.comp
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.comp) AS n_members
      FROM comps c JOIN documents d USING (doc_id)
    )
    SELECT comp, doc_id AS survivor_doc_id,
           n_chars::BIGINT AS survivor_n_chars,
           n_members::BIGINT AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY, not id: per near-dup cluster
    (large-star/small-star connected components over exact j>=0.8 pairs,
    as dedup_clusters), keep the longest document (n_chars, doc_id
    tie-break) — the policy real pipelines use (keep the best-quality
    copy, not the lowest-numbered one). Spark side: one aggregation with a
    struct argmax over the components join — no window over the corpus."""
    from zip_to_parquet_spark.operators.dedupe import ngram_jaccard_pairs
    from zip_to_parquet_spark.operators.graph import connected_components_star

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = shingle_sets(docs)
    pairs = ngram_jaccard_pairs(sh, threshold=0.8).select("doc_a", "doc_b")
    comps = connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), "comp"
    )
    joined = comps.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = F.max(
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("b")
    return (
        joined.groupBy("comp")
        .agg(best, F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(
            "comp",
            (-F.col("b.neg_id")).cast("bigint").alias("survivor_doc_id"),
            F.col("b.n_chars").cast("bigint").alias("survivor_n_chars"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# Mixture planning: per-source sampling rates for a token budget
# ---------------------------------------------------------------------------
_MIX_TARGETS = (("src0", 30), ("src1", 25), ("src2", 20), ("src3", 15),
                ("src4", 10))
# Small enough that targeted sources get FRACTIONAL rates at both test
# scales (not all capped at 1) — the interesting regime of the planner.
_MIX_BUDGET = 2_000  # tokens
_MIX_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {w}" for s, w in _MIX_TARGETS
) + " ELSE 0 END"


@query(
    "mixture_rates_for_budget",
    oracle=f"""
    WITH avail AS (
      SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    plan AS (
      SELECT source, n_tokens,
             ({_MIX_BUDGET}::BIGINT * ({_MIX_CASE})) // 100 AS target_tokens
      FROM avail
    )
    SELECT source, n_tokens AS n_tokens_avail, target_tokens,
           least(1000000, (target_tokens::HUGEINT * 1000000) // n_tokens)
             ::BIGINT AS rate_micro,
           ((n_tokens * least(1000000,
                (target_tokens::HUGEINT * 1000000) // n_tokens))
             // 1000000)::BIGINT AS planned_tokens
    FROM plan
    """,
)
def mixture_rates_for_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLANNING step feeding mixture_sample: given target mixture
    weights (percent per source) and a total token budget, compute each
    source's sampling rate — capped at 1 when the source can't fill its
    share — and the planned token yield. ALL integer arithmetic (rates
    in micro-units, floor division), so the plan is bit-identical on any
    engine. One tiny per-source aggregation (map-side combined), then a
    map over source-count rows."""
    from zip_to_parquet_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(words(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    target_w = F.lit(0)
    for s, w in reversed(_MIX_TARGETS):
        target_w = F.when(F.col("source") == s, F.lit(w)).otherwise(target_w)
    plan = avail.select(
        "source",
        F.col("n_tokens").alias("n_tokens_avail"),
        F.expr("n_tokens").alias("_n"),
        target_w.alias("_w"),
    ).select(
        "source",
        "n_tokens_avail",
        F.expr(f"({_MIX_BUDGET}L * _w) div 100").alias("target_tokens"),
        F.col("_n"),
    )
    rate = F.least(
        F.lit(1_000_000).cast("bigint"),
        F.expr(
            "cast((cast(target_tokens as decimal(38,0)) * 1000000)"
            " div _n as bigint)"
        ),
    )
    return plan.select(
        "source",
        "n_tokens_avail",
        "target_tokens",
        rate.alias("rate_micro"),
        F.expr(
            "cast((cast(_n as decimal(38,0))"
            " * least(cast(1000000 as decimal(38,0)),"
            " (cast(target_tokens as decimal(38,0)) * 1000000) div _n))"
            " div 1000000 as bigint)"
        ).alias("planned_tokens"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: merge overlapping per-user activity intervals
# ---------------------------------------------------------------------------
@query(
    "events_interval_islands",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    )
    SELECT user_id, island_id::BIGINT AS island_id,
           min(s)::BIGINT AS start_us, max(e)::BIGINT AS end_us,
           count(*)::BIGINT AS n_events,
           (max(e) - min(s))::BIGINT AS duration_us
    FROM islands GROUP BY user_id, island_id
    """,
)
def events_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each event opens a 5-minute activity interval;
    overlapping/touching intervals of the same user merge into islands
    (the interval-union problem behind session stitching, on-call
    coverage, downtime merging). Standard two-window formulation — a
    running max of prior interval ends flags island starts, a running
    sum numbers them — ONE shuffle on user_id, both windows in the same
    per-user sort, all integer microseconds (exact everywhere)."""
    from pyspark.sql.window import Window as W

    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + 300_000_000).alias("e"),
    )
    w_prior = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prior_max_e = F.max("e").over(w_prior)
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            prior_max_e.isNull() | (F.col("s") > prior_max_e), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("s").cast("bigint").alias("start_us"),
        F.max("e").cast("bigint").alias("end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("e") - F.min("s")).cast("bigint").alias("duration_us"),
    ).select(
        "user_id",
        F.col("island_id").cast("bigint").alias("island_id"),
        "start_us",
        "end_us",
        "n_events",
        "duration_us",
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame (value-based, not row-based)
# ---------------------------------------------------------------------------
@query(
    "window_time_range_sum",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts)::BIGINT AS us,
           (count(*) OVER w)::BIGINT AS n_trailing_10min,
           (sum(value::DECIMAL(18,2)) OVER w)::DOUBLE AS sum_trailing_10min
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10-minute per-user totals via a RANGE window frame — the
    VALUE-based frame (peers included, gaps respected) that the
    rows-framed battery can't express: a row's frame is every event of
    the same user within the last 600 s of event time, however many rows
    that is. One user-keyed shuffle; exact DECIMAL sums cast to double
    at the end (q1 convention); RANGE ties make the result independent
    of intra-timestamp row order."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_10min"),
        F.sum("v").over(w).cast("double").alias("sum_trailing_10min"),
    )


# ---------------------------------------------------------------------------
# Array/higher-order-function battery (F-surface breadth)
# ---------------------------------------------------------------------------
@query(
    "scalar_array_battery",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           len(list_distinct(w))::INT AS n_distinct,
           array_to_string(list_sort(w)[1:3], ' ') AS first3_sorted,
           w[-1] AS last_word,
           array_to_string(list_reverse(w)[1:3], ' ') AS rev_first3,
           list_contains(w, 'the') AS has_the,
           list_max(w) AS max_word,
           list_min(w) AS min_word,
           list_sum(list_transform(range(1, len(w) + 1),
                    i -> CASE WHEN w[i] = 'the' THEN i ELSE 0 END))::BIGINT
             AS the_pos_sum
    FROM t
    """,
)
def scalar_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order-function battery — the in-row collection
    surface (sort, distinct, reverse, slice, contains, min/max,
    zip_with + sequence + aggregate) exercised together against
    DuckDB's list functions. Map-only, whole-stage codegen; every value
    is a string or exact integer, so the battery hash-matches with no
    float seam."""
    from zip_to_parquet_spark.operators.textops import words

    docs = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    the_pos = F.aggregate(
        F.zip_with(
            w,
            F.sequence(F.lit(1), F.size(w)),
            lambda x, i: F.when(x == "the", i).otherwise(0),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(w)).cast("int").alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(w), 1, 3), " ").alias("first3_sorted"),
        F.element_at(w, -1).alias("last_word"),
        F.array_join(F.slice(F.reverse(w), 1, 3), " ").alias("rev_first3"),
        F.array_contains(w, "the").alias("has_the"),
        F.array_max(w).alias("max_word"),
        F.array_min(w).alias("min_word"),
        the_pos.alias("the_pos_sum"),
    )


# ---------------------------------------------------------------------------
# Calendar densification + per-group feature scaling
# ---------------------------------------------------------------------------
@query(
    "events_timeseries_gapfill",
    oracle="""
    WITH days AS (
      SELECT user_id, ts::DATE d, count(*)::BIGINT n
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(d) lo, max(d) hi FROM days GROUP BY 1
    ),
    cal AS (
      SELECT s.user_id, (s.lo + g.o::INT * INTERVAL '1 day')::DATE AS d
      FROM spans s
      CROSS JOIN (SELECT unnest(range(0, 60)) AS o) g
      WHERE (s.lo + g.o::INT * INTERVAL '1 day')::DATE <= s.hi
    )
    SELECT cal.user_id, cal.d AS day,
           coalesce(days.n, 0)::BIGINT AS n_events,
           (days.n IS NULL) AS gap_filled
    FROM cal LEFT JOIN days ON days.user_id = cal.user_id AND days.d = cal.d
    """,
)
def events_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: one row per user per calendar day between
    the user's first and last activity, zero-filled on quiet days — the
    gap-fill step every per-entity time series needs before rolling
    metrics. The per-user calendar is generated IN-ROW
    (``sequence`` + explode — no cross join against a calendar table),
    then one left equi-join on (user, day) against the aggregated
    activity. BOTH sides cap the generated span at 60 days from first
    activity (`least(hi, lo+59)` here, `range(0, 60)` in the oracle —
    the row-bound any production gapfill puts on pathological spans;
    the fixture's span is 29 days, so the cap is inert at every
    checked-in sf)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(
        "user_id", F.to_date(F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    spans = days.groupBy("user_id").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    cal = spans.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("lo"),
                F.least(F.col("hi"), F.date_add(F.col("lo"), 59)),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    act = days.select(
        F.col("user_id").alias("__au"), F.col("d").alias("__ad"), "n"
    )
    return (
        cal.join(
            act,
            (cal["user_id"] == act["__au"]) & (cal["day"] == act["__ad"]),
            "left",
        )
        .select(
            "user_id",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


@query(
    "events_minmax_scaled",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             (round(value * 100))::BIGINT AS cents
      FROM events
    ),
    b AS (
      SELECT event_type, min(cents) lo, max(cents) hi
      FROM c GROUP BY 1
    )
    SELECT c.event_id, c.event_type, c.cents,
           CASE WHEN b.hi = b.lo THEN 0
                ELSE ((c.cents - b.lo) * 1000000) // (b.hi - b.lo)
           END::BIGINT AS scaled_micro
    FROM c JOIN b USING (event_type)
    """,
)
def events_minmax_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling in EXACT integer arithmetic:
    values become cents, per-type bounds come from one tiny aggregation
    (broadcast back), and the scaled feature is an integer micro-unit in
    [0, 1e6] — no float division to drift across engines, constant
    groups handled explicitly. The normalize-per-category step of
    feature pipelines, with the bounds join the size-aware shape (per-
    type table ≪ corpus)."""
    c = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    b = c.groupBy("event_type").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    scaled = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.expr("((cents - lo) * 1000000L) div (hi - lo)")
        )
        .cast("bigint")
    )
    return c.join(F.broadcast(b), "event_type").select(
        "event_id", "event_type", "cents", scaled.alias("scaled_micro")
    )


# ---------------------------------------------------------------------------
# BFS k-hop distances (graph family)
# ---------------------------------------------------------------------------
@query(
    "graph_bfs_hops",
    oracle="""
    WITH RECURSIVE lp0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    lp AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               count(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM lp0)
      WHERE bsz <= 256
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    walk(node, h) AS (
      SELECT 0::BIGINT, 0
      UNION
      SELECT e.v, walk.h + 1
      FROM walk JOIN e ON e.u = walk.node
      WHERE walk.h < 4
    )
    SELECT node, min(h)::BIGINT AS hops FROM walk GROUP BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighborhood: BFS hop distances from part 0 over the part
    co-purchase graph (same edge set as graph_triangle_count), capped at
    4 hops (operators/graph.bfs_hops). The iterative frontier-join
    algorithm gets a FULL value oracle — integer hop counts against a
    bounded recursive CTE — extending the repo's exact-iterative family
    (PageRank, k-means, connected components) with traversal. Edge
    generation is basket-capped (operators.graph.BASKET_CAP, r13 —
    mirrored in the oracle, never fires on fixtures)."""
    from zip_to_parquet_spark.operators.graph import bfs_hops

    edges = copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
    return bfs_hops(edges)


# ---------------------------------------------------------------------------
# Exact correlation (integer-moment Pearson components)
# ---------------------------------------------------------------------------
@query(
    "stats_corr_exact",
    oracle="""
    WITH m AS (
      SELECT (l_quantity::DECIMAL(12,2) * 100)::HUGEINT  AS x1,
             (l_extendedprice::DECIMAL(12,2) * 100)::HUGEINT AS x2,
             (l_discount::DECIMAL(12,2) * 100)::HUGEINT  AS x3
      FROM lineitem
    ),
    s AS (
      SELECT count(*)::HUGEINT AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x3 * x3) AS s33,
             sum(x1 * x2) AS s12, sum(x1 * x3) AS s13, sum(x2 * x3) AS s23
      FROM m
    ),
    p AS (
      SELECT 'qty_eprice' AS pair,
             (n * s12 - s1 * s2) AS sxy,
             (n * s11 - s1 * s1) AS sxx, (n * s22 - s2 * s2) AS syy, n
      FROM s
      UNION ALL
      SELECT 'qty_discount', n * s13 - s1 * s3,
             n * s11 - s1 * s1, n * s33 - s3 * s3, n FROM s
      UNION ALL
      SELECT 'eprice_discount', n * s23 - s2 * s3,
             n * s22 - s2 * s2, n * s33 - s3 * s3, n FROM s
    )
    SELECT pair, n::BIGINT AS n_rows,
           sxy::DECIMAL(38,0)::VARCHAR AS sxy,
           sxx::DECIMAL(38,0)::VARCHAR AS sxx,
           syy::DECIMAL(38,0)::VARCHAR AS syy,
           round(sxy::DOUBLE / sqrt(sxx::DOUBLE * syy::DOUBLE), 6) AS corr_r6
    FROM p
    """,
)
def stats_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation across the lineitem measure pairs with EXACT
    integer moments: measures scale to cents (DECIMAL(12,2)×100 → int),
    all five sums accumulate as DECIMAL(38,0) (order-free — a float
    corr() is summation-order-dependent and can never hash-match), and
    the covariance/variance numerators n·Σxy − Σx·Σy stay exact 128-bit
    integers. Only the final corr coefficient touches doubles (one IEEE
    div + sqrt of exact values, rounded to 6 — deterministic).

    Scale shape: ONE pass over the fact table, one map-side-combinable
    agg (single shuffle of ten partial sums), then a 3-row projection.
    This is the moments-matrix pattern that computes an arbitrary k×k
    correlation matrix in one scan at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"

    def cents(c: str):
        return (F.col(c).cast("decimal(12,2)") * 100).cast(d38)

    m = li.select(
        cents("l_quantity").alias("x1"),
        cents("l_extendedprice").alias("x2"),
        cents("l_discount").alias("x3"),
    )
    s = m.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x1").cast(d38).alias("s1"),
        F.sum("x2").cast(d38).alias("s2"),
        F.sum("x3").cast(d38).alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).cast(d38).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast(d38).alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).cast(d38).alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).cast(d38).alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).cast(d38).alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).cast(d38).alias("s23"),
    )

    def pair(name: str, sxy, sxx, syy):
        return F.struct(
            F.lit(name).alias("pair"),
            sxy.cast(d38).alias("sxy"),
            sxx.cast(d38).alias("sxx"),
            syy.cast(d38).alias("syy"),
        )

    n = F.col("n")
    rows = s.select(
        n.cast("long").alias("n_rows"),
        F.explode(
            F.array(
                pair(
                    "qty_eprice",
                    n * F.col("s12") - F.col("s1") * F.col("s2"),
                    n * F.col("s11") - F.col("s1") * F.col("s1"),
                    n * F.col("s22") - F.col("s2") * F.col("s2"),
                ),
                pair(
                    "qty_discount",
                    n * F.col("s13") - F.col("s1") * F.col("s3"),
                    n * F.col("s11") - F.col("s1") * F.col("s1"),
                    n * F.col("s33") - F.col("s3") * F.col("s3"),
                ),
                pair(
                    "eprice_discount",
                    n * F.col("s23") - F.col("s2") * F.col("s3"),
                    n * F.col("s22") - F.col("s2") * F.col("s2"),
                    n * F.col("s33") - F.col("s3") * F.col("s3"),
                ),
            )
        ).alias("p"),
    )
    return rows.select(
        F.col("p.pair").alias("pair"),
        "n_rows",
        # STRING, not DECIMAL(38,0): the driver materializes the DuckDB
        # side via pandas, where HUGEINT/DECIMAL values above 2^53 degrade
        # to float64 and the value-hash diverges from Spark's exact
        # Decimals. A digit string is lossless through every path.
        F.col("p.sxy").cast("string").alias("sxy"),
        F.col("p.sxx").cast("string").alias("sxx"),
        F.col("p.syy").cast("string").alias("syy"),
        # try_divide: a constant measure (sxx or syy = 0) must yield NULL
        # in both engines (DuckDB's /0 is NULL); plain `/` raises under
        # Spark's ANSI default (degenerate_sweep.py finding, r11).
        F.round(
            F.try_divide(
                F.col("p.sxy").cast("double"),
                F.sqrt(
                    F.col("p.sxx").cast("double")
                    * F.col("p.syy").cast("double")
                ),
            ),
            6,
        ).alias("corr_r6"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (insert/retract delta algebra)
# ---------------------------------------------------------------------------
@query(
    "matview_incremental_refresh",
    oracle=f"""
    WITH new AS ({_refresh_sql("source,")})
    SELECT source,
           count(*)                  AS n_docs,
           sum(length(text))::BIGINT AS total_chars
    FROM new GROUP BY source
    """,
)
def matview_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: refresh a per-source (count, chars)
    aggregate across a corpus snapshot change WITHOUT rescanning the new
    snapshot into a full aggregate. The view delta is the classic
    insert/retract multiset algebra: every v1 row whose (doc_id, sha256)
    no longer exists retracts with weight −1, every v2 row that didn't
    exist inserts with weight +1, unchanged rows never move; the
    refreshed view = base ⊕ Σ(weighted deltas), dropping groups whose
    count reaches zero.

    The simulated refresh is the SAME deterministic edit set as
    corpus_snapshot_delta (removals id%13=0, edits id%7=3, arrivals
    id%17=5) — but the ORACLE recomputes the aggregate directly from the
    new snapshot, so hash parity PROVES the delta algebra equals full
    recomputation.

    Scale shape: at a real 100 TB corpus the delta (crawl increment) is
    ~1% of the base; this plan touches base-aggregate rows (group-key
    cardinality) + 2×delta rows instead of the full corpus. Here both
    anti-joins key on (doc_id, sha) — equi-shuffles on the change set —
    and the final merge is a group-key-sized outer join.
    """
    from zip_to_parquet_spark.operators.pipeline import (
        ivm_refresh,
        simulated_refresh,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return ivm_refresh(docs, simulated_refresh(docs))


# ---------------------------------------------------------------------------
# Degree assortativity of the co-order part graph (exact integer ratio).
# ---------------------------------------------------------------------------
@query(
    "graph_degree_assortativity",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                      greatest(a.l_partkey, b.l_partkey) AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*)::HUGEINT AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    de AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    s AS (
      SELECT 2 * count(*)::HUGEINT AS n,
             sum(dx + dy)::HUGEINT AS sx,
             2 * sum(dx * dy)::HUGEINT AS sxy,
             sum(dx * dx + dy * dy)::HUGEINT AS sxx
      FROM de
    )
    SELECT (n // 2)::BIGINT AS n_edges,
           ((1000000 * (n * sxy - sx * sx))
              // (n * sxx - sx * sx))::BIGINT AS assortativity_micro
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002 PRL 89.208701): the Pearson
    correlation of endpoint degrees over all edges — positive when hubs
    attach to hubs (social nets), negative for hub-and-spoke
    (web/biological). The graph-HEALTH summary next to the family's
    structure keys (triangles, components, PageRank): a sudden
    assortativity shift in a crawl graph flags link-farm injection.

    The exactness win: under the standard both-orientations
    symmetrization the x and y marginals are IDENTICAL, so
    sqrt(var_x·var_y) = var_x and r collapses to the pure integer
    rational (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²) — ONE truncating div to
    micro, no sqrt, no double anywhere (the generic-pair corr key
    stats_corr_exact must round a sqrt; this key beats it by symmetry).

    Scale shape: same co-order edge build as ``graph_triangle_count``
    (Σ|basket|² bounded by basket size), a node-keyed degree rollup,
    two degree equi-joins back onto edges, one 1-row moment reduce."""
    li = spread(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.alias("a")
    b = lp.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    de = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "dx"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dy"), "v")
        .select("dx", "dy")
    )
    d38 = "decimal(38,0)"
    s = de.agg(
        (2 * F.count(F.lit(1))).cast(d38).alias("n"),
        F.sum(F.col("dx") + F.col("dy")).cast(d38).alias("sx"),
        (2 * F.sum(F.col("dx") * F.col("dy"))).cast(d38).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
        .cast(d38)
        .alias("sxx"),
    )
    return s.select(
        F.expr("n div 2").cast("long").alias("n_edges"),
        F.expr(
            f"(cast(1000000 as {d38}) * (n * sxy - sx * sx))"
            " div (n * sxx - sx * sx)"
        )
        .cast("long")
        .alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# Strict-contiguity event pattern match (MATCH_RECOGNIZE-style CEP).
# ---------------------------------------------------------------------------
# Shared by events_pattern_strict_funnel and stream_pattern_strict_funnel:
# each finds its (user_id, view_us, purchase_us) matches its own way and
# rolls them up by day through _strict_pairs_daily.
_STRICT_FUNNEL_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts)::BIGINT AS us,
             lead(event_type) OVER w AS next_type,
             lead(epoch_us(ts)::BIGINT) OVER w AS next_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT user_id, us, next_us - us AS gap_us
      FROM seq
      WHERE event_type = 'view' AND next_type = 'purchase'
        AND next_us - us <= 1800000000
    )
    SELECT make_timestamp(us)::DATE AS day,
           count(*)::BIGINT AS n_matches,
           count(DISTINCT user_id)::BIGINT AS n_users,
           sum(gap_us)::BIGINT AS gap_us_sum,
           (sum(gap_us) // count(*))::BIGINT AS mean_gap_us
    FROM m GROUP BY 1
    """


def _strict_pairs_daily(pairs: DataFrame) -> DataFrame:
    """Daily rollup of strict view → purchase matches, one row per
    ``(user_id, view_us, purchase_us)``: match and user counts, and the
    exact integer sum and floor mean of the gaps, dated by the view."""
    gap = F.col("purchase_us") - F.col("view_us")
    return pairs.groupBy(
        F.to_date(F.timestamp_micros(F.col("view_us"))).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(gap).cast("long").alias("gap_us_sum"),
        F.expr("sum(purchase_us - view_us) div count(*)")
        .cast("long")
        .alias("mean_gap_us"),
    )


@query("events_pattern_strict_funnel", oracle=_STRICT_FUNNEL_ORACLE)
def events_pattern_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-contiguity pattern matching — SQL:2016 MATCH_RECOGNIZE's
    ``A B`` with no permitted gap events, the semantics the loose funnel
    keys (events_funnel: B anywhere after A) cannot express: a 'view'
    IMMEDIATELY followed, in the user's total event order, by a
    'purchase' within 30 minutes. Any intervening event of ANY type
    breaks the match — the distinction that separates intent signals
    from coincidence in conversion analysis. Deterministic total order:
    (ts, event_id) tie-break, both engines.

    Exactness: gaps are integer epoch-microsecond differences; the
    30-minute bound is an integer compare; daily rollup is pure counts.

    Scale shape: ONE shuffle (partition by user_id) feeding a lead()
    window — per-user state is two rows; then a map-side-combinable
    daily rollup. This is the general CEP recipe at scale: sessionize
    partitions the stream, lead/lag automata run linearly inside each
    partition."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "us",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("us").over(w).alias("next_us"),
    )
    m = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("next_type") == "purchase")
        & (F.col("next_us") - F.col("us") <= 1_800_000_000)
    ).select(
        "user_id",
        F.col("us").alias("view_us"),
        F.col("next_us").alias("purchase_us"),
    )
    return _strict_pairs_daily(m)


def _priority_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order count and revenue per order priority → ``(prio, d,
    cnt, rev)``, revenue in integer cents: the two series the daily rank
    correlation keys compare."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").cast("date").alias("d"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("prio", "d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("rev"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (midranks, exact signed rho^2).
# ---------------------------------------------------------------------------
@query(
    "stats_spearman_daily",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             count(*)::BIGINT AS cnt,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT prio,
             (2 * rank() OVER (PARTITION BY prio ORDER BY cnt)
              + count(*) OVER (PARTITION BY prio, cnt) - 1)::BIGINT AS rx,
             (2 * rank() OVER (PARTITION BY prio ORDER BY rev)
              + count(*) OVER (PARTITION BY prio, rev) - 1)::BIGINT AS ry
      FROM daily
    ),
    m AS (
      SELECT prio, count(*)::HUGEINT AS n,
             sum(rx)::HUGEINT AS sx, sum(ry)::HUGEINT AS sy,
             sum(rx * rx)::HUGEINT AS sxx, sum(ry * ry)::HUGEINT AS syy,
             sum(rx * ry)::HUGEINT AS sxy
      FROM r GROUP BY prio
    )
    SELECT prio, n::BIGINT AS n_days,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN NULL
                ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
                     * ((1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
                        // ((n * sxx - sx * sx) * (n * syy - sy * sy)))
           END::BIGINT AS rho2_signed_milli
    FROM m
    """,
)
def stats_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order volume and daily
    revenue, per priority — the monotone-association test that is robust
    where Pearson (stats_corr_exact) is not: outlier days move ranks by
    one step, not by their magnitude. Midrank tie handling: doubled
    midrank 2r = 2*rank() + |ties| - 1 is always an INTEGER (the AUC
    key's identity), so the rank moments are exact.

    Exactness contract: rho needs a square root, so the key emits the
    SIGNED SQUARE sign(cov) * 1000 * cov^2 div (varx * vary) — a pure
    integer in [-1000, 1000], NULL for constant series. The truncating
    div operates on non-negative operands (cov^2); the sign rides
    separately, so Spark div == DuckDB //. Moments are HUGEINT/
    DECIMAL(38,0): with n = series length (days, policy-bounded), cov^2
    ~ n^8 stays inside 38 digits up to ~50k days - centuries.

    Scale shape: the corpus-sized stage is the map-side-combinable
    (priority, day) rollup; ranking windows run over DAYS per priority
    (series length, not fact rows); one 5-row result."""
    from pyspark.sql.window import Window

    daily = _priority_daily(spark, sf_dir)

    def two_mid(v: str) -> F.Column:
        return (
            2 * F.rank().over(Window.partitionBy("prio").orderBy(v))
            + F.count(F.lit(1)).over(Window.partitionBy("prio", v))
            - 1
        ).cast("long")

    r = daily.select(
        "prio", two_mid("cnt").alias("rx"), two_mid("rev").alias("ry")
    )
    dec = "decimal(38,0)"
    m = r.groupBy("prio").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("rx").cast(dec).alias("sx"),
        F.sum("ry").cast(dec).alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast(dec).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast(dec).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast(dec).alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "prio",
        F.col("n").cast("long").alias("n_days"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("long"))
        .otherwise(
            (
                F.when(cov < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr(
                    "(1000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))"
                    " div ((n * sxx - sx * sx) * (n * syy - sy * sy))"
                )
            ).cast("long")
        )
        .alias("rho2_signed_milli"),
    )


# ---------------------------------------------------------------------------
# Kendall rank correlation (tau-a exact, tau-b as signed square).
# ---------------------------------------------------------------------------
@query(
    "stats_kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS prio, o_orderdate::DATE AS d,
             count(*)::BIGINT AS cnt,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    p AS (
      SELECT a.prio,
             CASE WHEN (a.cnt < b.cnt AND a.rev < b.rev)
                    OR (a.cnt > b.cnt AND a.rev > b.rev) THEN 1 ELSE 0
             END AS conc,
             CASE WHEN (a.cnt < b.cnt AND a.rev > b.rev)
                    OR (a.cnt > b.cnt AND a.rev < b.rev) THEN 1 ELSE 0
             END AS disc,
             CASE WHEN a.cnt = b.cnt THEN 1 ELSE 0 END AS tie_x,
             CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_y
      FROM daily a JOIN daily b
        ON a.prio = b.prio AND a.d < b.d
    ),
    m AS (
      SELECT prio, count(*)::HUGEINT AS n0,
             sum(conc)::HUGEINT AS nc, sum(disc)::HUGEINT AS nd,
             sum(tie_x)::HUGEINT AS n1, sum(tie_y)::HUGEINT AS n2
      FROM p GROUP BY prio
    )
    SELECT prio, n0::BIGINT AS n_pairs, nc::BIGINT AS concordant,
           nd::BIGINT AS discordant, n1::BIGINT AS ties_x,
           n2::BIGINT AS ties_y,
           ((CASE WHEN nc >= nd THEN 1 ELSE -1 END)
            * ((1000 * abs(nc - nd)) // n0))::BIGINT AS tau_a_milli,
           CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
                ELSE (CASE WHEN nc >= nd THEN 1 ELSE -1 END)
                     * ((1000 * (nc - nd) * (nc - nd))
                        // ((n0 - n1) * (n0 - n2)))
           END::BIGINT AS tau_b2_signed_milli
    FROM m
    """,
)
def stats_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation between daily order volume and daily
    revenue per priority — the pair-counting complement to
    stats_spearman_daily: tau's concordant/discordant statistic has a
    direct probabilistic reading (P[agree] − P[disagree]) and is the
    better-behaved estimator under many ties. Exact integer outputs:
    concordant / discordant / tie pair counts, tau-a in truncated milli
    (sign carried separately so both engines truncate the same
    non-negative quotient), and tau-b as the Spearman-convention SIGNED
    SQUARE sign·1000·(nc−nd)² div ((n0−n1)(n0−n2)) — tau-b itself needs
    a square root. Tie counts follow the STANDARD tau-b convention
    (Kendall 1945): n1 = pairs tied in x, n2 = pairs tied in y, each
    INCLUDING pairs tied in both variables, so tau_b2_signed_milli is
    scipy's tau-b squared (milli, truncated). NULL when either
    tie-corrected denominator term is zero (a constant series).

    Exactness contract: pure pair counting — no division until the two
    final milli quantizations; moments in HUGEINT ↔ decimal(38,0) (n0 ~
    d² and (nc−nd)² ~ d⁴ — 38 digits holds past a 10^9-day series).

    Scale shape: the corpus-sized stage is the map-side-combinable
    (priority, day) rollup; the O(d²) pair join runs over SERIES LENGTH
    d (days — policy-bounded, not data-sized), partitioned by priority,
    exactly like the reference quadratic in stats_spearman's family.
    For calendar series, d ≈ 10⁴ even over decades → ≤ 10⁸ pairs per
    group, a single in-core join at any corpus size."""
    dec = "decimal(38,0)"
    daily = _priority_daily(spark, sf_dir)
    a = daily.select(
        "prio",
        F.col("d").alias("da"),
        F.col("cnt").alias("ca"),
        F.col("rev").alias("ra"),
    )
    b = daily.select(
        "prio",
        F.col("d").alias("db"),
        F.col("cnt").alias("cb"),
        F.col("rev").alias("rb"),
    )
    p = a.join(b, "prio").where(F.col("da") < F.col("db"))
    conc = (
        ((F.col("ca") < F.col("cb")) & (F.col("ra") < F.col("rb")))
        | ((F.col("ca") > F.col("cb")) & (F.col("ra") > F.col("rb")))
    ).cast("long")
    disc = (
        ((F.col("ca") < F.col("cb")) & (F.col("ra") > F.col("rb")))
        | ((F.col("ca") > F.col("cb")) & (F.col("ra") < F.col("rb")))
    ).cast("long")
    tie_x = (F.col("ca") == F.col("cb")).cast("long")
    tie_y = (F.col("ra") == F.col("rb")).cast("long")
    m = p.groupBy("prio").agg(
        F.count(F.lit(1)).cast(dec).alias("n0"),
        F.sum(conc).cast(dec).alias("nc"),
        F.sum(disc).cast(dec).alias("nd"),
        F.sum(tie_x).cast(dec).alias("n1"),
        F.sum(tie_y).cast(dec).alias("n2"),
    )
    sign = F.when(F.col("nc") >= F.col("nd"), F.lit(1)).otherwise(F.lit(-1))
    return m.select(
        "prio",
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("nc").cast("long").alias("concordant"),
        F.col("nd").cast("long").alias("discordant"),
        F.col("n1").cast("long").alias("ties_x"),
        F.col("n2").cast("long").alias("ties_y"),
        (sign * F.expr("(1000 * abs(nc - nd)) div n0"))
        .cast("long")
        .alias("tau_a_milli"),
        F.when(
            (F.col("n0") == F.col("n1")) | (F.col("n0") == F.col("n2")),
            F.lit(None).cast("long"),
        )
        .otherwise(
            (
                sign
                * F.expr(
                    "(1000 * (nc - nd) * (nc - nd))"
                    " div ((n0 - n1) * (n0 - n2))"
                )
            ).cast("long")
        )
        .alias("tau_b2_signed_milli"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficients over the part co-purchase graph.
# ---------------------------------------------------------------------------
@query(
    "graph_local_clustering",
    oracle="""
    WITH lp0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    lp AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT l_orderkey, l_partkey,
               count(*) OVER (PARTITION BY l_orderkey) AS bsz
        FROM lp0)
      WHERE bsz <= 256
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tn AS (
      SELECT node, count(*)::BIGINT AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT d.node, d.deg,
           coalesce(t.n_tri, 0)::BIGINT AS n_tri,
           CASE WHEN d.deg < 2 THEN NULL
                ELSE (2000 * coalesce(t.n_tri, 0))
                       // (d.deg * (d.deg - 1)) END::BIGINT AS cc_milli
    FROM deg d LEFT JOIN tn t USING (node)
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-purchase graph
    (Watts & Strogatz 1998): what fraction of a node's neighbor pairs
    are themselves connected — the per-node community-density signal
    (global triangle counting says how clustered the GRAPH is; this says
    WHERE). cc = 2T/(d(d-1)) in exact milli, NULL below degree 2.

    Engine: operators.graph.local_clustering — the same degree-ordered
    orientation as triangle_count (wedge fan-out O(sqrt m), the
    power-law skew fix), with each triangle's three nodes exploded once
    into a node-keyed rollup. Oracle: the naive a<b<c 3-way self-join
    unpivoted per node — orientation changes join volume, never
    membership. Edge generation is basket-capped
    (operators.graph.BASKET_CAP, r13 — mirrored in the oracle, never
    fires on fixtures)."""
    from zip_to_parquet_spark.operators.graph import local_clustering

    edges = copurchase_pairs(load_table(spark, sf_dir, "lineitem"))
    return local_clustering(edges)


# ---------------------------------------------------------------------------
# Audience overlap: Jaccard of user sets between event types.
# ---------------------------------------------------------------------------
@query(
    "events_audience_overlap",
    oracle="""
    WITH tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
      SELECT event_type, count(*)::BIGINT AS n_users FROM tu GROUP BY 1
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)::BIGINT AS n_both
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b,
           sa.n_users AS n_a, sb.n_users AS n_b, i.n_both,
           ((1000 * i.n_both)
              // (sa.n_users + sb.n_users - i.n_both))::BIGINT
             AS jaccard_permille,
           ((1000 * i.n_both)
              // least(sa.n_users, sb.n_users))::BIGINT
             AS containment_permille
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: exact Jaccard and
    containment of the user sets for every type pair — the
    segment-overlap report behind cross-sell and cannibalization
    analysis (high containment with low Jaccard = one audience nested
    in another). Integer permille only.

    Scale shape: the corpus reduces to the DISTINCT (type, user)
    relation first (map-side combinable); pair generation joins that
    relation to itself ON THE USER KEY, so candidates per user are
    bounded by the types-per-user fan-out (<= |types|, a policy
    constant), never |users|^2 — the basket_pair_lift shape on the
    audience graph. Output is |types|^2/2 rows."""
    tu = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr("(1000 * n_both) div (n_a + n_b - n_both)")
            .cast("long")
            .alias("jaccard_permille"),
            F.expr("(1000 * n_both) div least(n_a, n_b)")
            .cast("long")
            .alias("containment_permille"),
        )
    )
