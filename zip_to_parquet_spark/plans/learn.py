"""Learned-model pipeline queries: distributed clustering, trained
classification, data-layout optimization.

The round-5 additions to the LLM-pipeline surface (BASELINE.json north
star; no counterpart in the 597-line reference CLI, SURVEY §0): the
operators a training-data pipeline runs once corpora outgrow heuristics —
full-corpus k-means (the SemDeDup / topic-stratification substrate), a
trained hashed-feature linear classifier (the fastText-style model-based
filter), and multi-dimensional layout clustering for scan pruning.

Oracle discipline matches the iterative keys from round 4
(``graph_pagerank_nations``): everything is exact integer arithmetic, so
DuckDB replays the full fixed point — including every Lloyd's iteration —
with no float seam.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.bpe import (
    DUCK_DELIM_CHARS_SQL,
    SEP as BPE_SEP,
    SPARK_DELIM_CHARS_SQL,
    bpe_replace_chain,
    train_bpe_merges,
)
from zip_to_parquet_spark.operators.classify import (
    FEATURE_BUCKETS,
    train_distilled_gate_perceptron,
    trigram_bucket_counts_score,
)
from zip_to_parquet_spark.operators.pipeline import gopher_signal_cols
from zip_to_parquet_spark.operators.layout import (
    ZORDER_VALUE_SQL,
    zorder_file_stats,
    zorder_pruning_eval,
)
from zip_to_parquet_spark.operators.vectors import kmeans_integer
from zip_to_parquet_spark.plans.registry import query
from zip_to_parquet_spark.schema import load_table

# ---------------------------------------------------------------------------
# Full-corpus k-means over embeddings (exact integer Lloyd's)
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_ITERS = 3
_KM_SCALE = 1_000_000
_KM_OFFSET = 4_000_000


def _kmeans_ctes() -> list:
    """The shared unrolled-CTE Lloyd's replay, ending at ``df`` (the full
    n×k distance matrix against the final centroids). Both the assignment
    oracle and the silhouette oracle compose on it."""
    ctes = [
        f"""x AS (
  SELECT vec_id,
         list_transform(embedding,
           e -> CAST(floor(CAST(e AS DOUBLE) * {_KM_SCALE}) AS BIGINT)
                + {_KM_OFFSET}) AS xm
  FROM embeddings
)""",
        """xd AS (
  SELECT vec_id, unnest(xm) AS v, generate_subscripts(xm, 1) AS i FROM x
)""",
        f"""init AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cl, xm
  FROM (SELECT vec_id, xm FROM x ORDER BY vec_id LIMIT {_KM_K})
)""",
        """c0 AS (
  SELECT cl, unnest(xm) AS v, generate_subscripts(xm, 1) AS i FROM init
)""",
    ]
    for t in range(1, _KM_ITERS + 1):
        p = t - 1
        ctes.append(f"""d{t} AS (
  SELECT xd.vec_id, c.cl, sum((xd.v - c.v) * (xd.v - c.v)) AS d2
  FROM xd JOIN c{p} c USING (i)
  GROUP BY 1, 2
)""")
        ctes.append(f"""a{t} AS (
  SELECT vec_id, cl FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
    FROM d{t}
  ) WHERE rn = 1
)""")
        ctes.append(f"""s{t} AS (
  SELECT a.cl, xd.i, sum(xd.v) AS s, count(*) AS cnt
  FROM a{t} a JOIN xd ON a.vec_id = xd.vec_id
  GROUP BY 1, 2
)""")
        ctes.append(f"""c{t} AS (
  SELECT p.cl, p.i, coalesce(s.s // s.cnt, p.v) AS v
  FROM c{p} p LEFT JOIN s{t} s ON s.cl = p.cl AND s.i = p.i
)""")
    ctes.append(f"""df AS (
  SELECT xd.vec_id, c.cl, sum((xd.v - c.v) * (xd.v - c.v)) AS d2
  FROM xd JOIN c{_KM_ITERS} c USING (i)
  GROUP BY 1, 2
)""")
    return ctes


def _kmeans_oracle() -> str:
    """Unrolled-CTE replay of every Lloyd's iteration (same pattern as the
    PageRank oracle's unrolled power steps) — exact integer parity for the
    whole fixed point, not just the final assignment."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes())
        + """
SELECT vec_id, cl AS cluster, CAST(d2 AS BIGINT) AS dist2 FROM (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
  FROM df
) WHERE rn = 1
"""
    )


def _silhouette_oracle() -> str:
    """Silhouette over the same replayed fixed point: per point, a2 = d2
    to the assigned (nearest) centroid, b2 = d2 to the runner-up; the
    per-cluster mean of ``(b2−a2)·1000 // max(a2,b2)`` (all non-negative
    integers — a2 ≤ b2 by argmin, so floor-vs-truncate never differs)."""
    ctes = _kmeans_ctes() + [
        """r AS (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
  FROM df
)""",
        """ab AS (
  SELECT a.vec_id, a.cl AS cluster, a.d2 AS a2, b.d2 AS b2
  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
)""",
        """sm AS (
  SELECT cluster,
         CASE WHEN greatest(a2, b2) = 0 THEN 0
              ELSE ((b2 - a2) * 1000) // greatest(a2, b2) END AS s_milli
  FROM ab
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT cluster, count(*)::BIGINT AS n_points,
       CAST(sum(s_milli) // count(*) AS BIGINT) AS mean_sil_milli,
       CAST(min(s_milli) AS BIGINT) AS min_sil_milli
FROM sm GROUP BY cluster
"""
    )


@query("cluster_kmeans_embeddings", oracle=_kmeans_oracle())
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus k-means (k=8, 3 Lloyd's iterations) over the embeddings
    table in exact integer micro-units → (vec_id, cluster, dist2).

    Engine: operators.vectors.kmeans_integer — broadcast centroids,
    map-side assignment, one (cluster, dim) aggregate per iteration,
    localCheckpoint between steps. Oracle: the SAME fixed point via
    unrolled CTEs, one set per iteration — bit-identical because every
    step (quantize, distance, argmin tie-break, floor-division mean,
    empty-cluster fallback) is integer-exact in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_integer(
        emb,
        k=_KM_K,
        iters=_KM_ITERS,
        scale=_KM_SCALE,
        offset=_KM_OFFSET,
    )


# ---------------------------------------------------------------------------
# Cluster-quality evaluation: integer silhouette over the k-means fixed point
# ---------------------------------------------------------------------------
@query("cluster_silhouette_eval", oracle=_silhouette_oracle())
def cluster_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation closing the k-means loop (the check
    run before trusting cluster assignments for SemDeDup scoping or
    topic-stratified mixtures): a centroid-based silhouette per point —
    a2 = squared distance to the assigned centroid, b2 = to the
    runner-up — summarized per cluster as the integer-milli mean and min
    of ``(b2−a2)·1000 // max(a2,b2)`` ∈ [0, 1000]. 0 = the point sits on
    the decision boundary (assignment untrustworthy); 1000 = the
    runner-up is infinitely farther. All inputs are the exact-integer
    Lloyd's fixed point, so a CLUSTER-QUALITY metric is value-oracle
    -checked bit-for-bit — a2 ≤ b2 by argmin keeps every operand
    non-negative, where Spark's truncating ``div`` and DuckDB's flooring
    ``//`` agree (the same invariant the k-means offset maintains).

    Scale shape: one extra broadcast-scoring pass over the final
    centroids (map-only n×k, no shuffle — `return_distance_matrix`),
    one groupBy(vec_id) collecting k=8 structs, one k-group rollup.
    The ×1000 product is bounded: b2 ≤ dim·(max micro-coord)² ≈ 4e15
    on this fixture, ×1000 ≪ 2⁶³ (pytest-pinned headroom)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dm = kmeans_integer(
        emb,
        k=_KM_K,
        iters=_KM_ITERS,
        scale=_KM_SCALE,
        offset=_KM_OFFSET,
        return_distance_matrix=True,
    )
    ab = (
        dm.groupBy("vec_id")
        .agg(F.expr("array_sort(collect_list(struct(d2, cl)))").alias("ds"))
        .select(
            F.col("ds")[0]["cl"].alias("cluster"),
            F.col("ds")[0]["d2"].alias("a2"),
            F.col("ds")[1]["d2"].alias("b2"),
        )
    )
    s_milli = F.when(
        F.greatest("a2", "b2") == 0, F.lit(0).cast("long")
    ).otherwise(
        F.expr("((b2 - a2) * 1000) div greatest(a2, b2)")
    )
    return (
        ab.withColumn("s_milli", s_milli)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("sum(s_milli) div count(*)").alias("mean_sil_milli"),
            F.min("s_milli").alias("min_sil_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Distilled quality classifier (hashed-trigram integer perceptron)
# ---------------------------------------------------------------------------
def _distill_oracle() -> str:
    """Computed oracle: replays the deterministic trainer (same function
    the Spark plan calls — identical weights by construction) and restates
    scoring + the weak-label gate in SQL. ``md5_number_lower(g) % 1024``
    is exactly the Spark expression's little-endian low-16-bit bucket."""
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    w, bias, _ = train_distilled_gate_perceptron(sf_dir)
    arr = "[" + ",".join(str(v) for v in w) + "]"
    return f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    lab AS (
      SELECT doc_id,
             (len(w) >= 15 AND len(w) <= 100000
              AND list_sum(list_transform(w, x -> length(x)))::DOUBLE
                  / greatest(len(w), 1) >= 3.0
              AND list_sum(list_transform(w, x -> length(x)))::DOUBLE
                  / greatest(len(w), 1) <= 10.0
              AND len(list_filter(w,
                  x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                  / greatest(len(w), 1) > 0.0) AS gate_pass
      FROM t
    ),
    wt AS (SELECT {arr}::BIGINT[] AS arr),
    g AS (
      SELECT doc_id, substr(text, i, 3) AS g3
      FROM t, UNNEST(generate_series(1, greatest(length(text) - 2, 0))) AS u(i)
    ),
    sc AS (
      SELECT t.doc_id,
             CAST(coalesce(sum(
               arr[CAST(md5_number_lower(g.g3) % {FEATURE_BUCKETS} AS INT) + 1]
             ), 0) + {bias} AS BIGINT) AS score
      FROM t CROSS JOIN wt LEFT JOIN g ON g.doc_id = t.doc_id
      GROUP BY t.doc_id
    )
    SELECT l.doc_id, sc.score, sc.score > 0 AS pred, l.gate_pass
    FROM lab l JOIN sc ON sc.doc_id = l.doc_id
    """


@query("quality_distill_classifier", oracle=_distill_oracle)
def quality_distill_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, fastText-style (Joulin et al. 2016;
    the GPT-3/DCLM classifier-filter pattern): an integer perceptron over
    hashed char-trigram counts, trained to distill the repo's Gopher rule
    gate, scored corpus-wide in ONE map-only codegen'd expression →
    (doc_id, score, pred, gate_pass).

    Training is deterministic pure Python on a crc32-bounded ~200-doc
    sample (operators/classify.train_distilled_gate_perceptron); both
    this plan and the oracle inline the same weights, so scoring parity
    is exact-integer. Weak labels ride along for in-plan evaluation —
    pred vs gate_pass is the distillation fidelity."""
    weights, bias, _ = train_distilled_gate_perceptron(sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    score = trigram_bucket_counts_score(weights, bias)
    _, _, _, passes = gopher_signal_cols(F.col("text"))
    return docs.select(
        "doc_id",
        score.alias("score"),
        (score > 0).alias("pred"),
        passes.alias("gate_pass"),
    )


# ---------------------------------------------------------------------------
# Z-order layout for two-dimensional scan pruning
# ---------------------------------------------------------------------------
def _zorder_sample_ctes(samp_cols: str) -> str:
    """The CTE prefix both z-order oracles open with: events keyed by
    ``(user_id, day)`` (``base``, ``ev``), their z-value (``evz``), and
    ``samp``, the md5-sampled ``samp_cols`` of ``evz`` that the
    equi-depth file boundaries come from. Ends with ``samp``'s comma."""
    z_duck = ZORDER_VALUE_SQL.replace(" div ", " // ")
    return f"""
    WITH base AS (
      SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    ev AS (
      SELECT event_id, user_id, day,
             user_id % 65536 AS u, day % 65536 AS d
      FROM base
    ),
    evz AS (SELECT *, {z_duck} AS z FROM ev),
    n AS (SELECT count(*) AS n FROM events),
    samp AS (
      SELECT {samp_cols} FROM evz, n
      WHERE (md5_number_lower(event_id::VARCHAR) % 65536)
            % greatest(1, n // 2000) = 0
    ),"""


def _zorder_oracle() -> str:
    mins = ", ".join(
        f"min(CASE WHEN cum >= ({q} * s + 15) // 16 THEN z END) AS t{q}"
        for q in range(1, 16)
    )
    assign = " + ".join(
        f"(CASE WHEN t{q} IS NOT NULL AND z >= t{q} THEN 1 ELSE 0 END)"
        for q in range(1, 16)
    )
    return _zorder_sample_ctes("z") + f"""
    vc AS (SELECT z, count(*) AS c FROM samp GROUP BY 1),
    cum AS (
      SELECT z, sum(c) OVER (ORDER BY z) AS cum,
             (SELECT count(*) FROM samp) AS s
      FROM vc
    ),
    thr AS (SELECT {mins} FROM cum),
    asg AS (SELECT evz.*, ({assign}) AS file_id FROM evz CROSS JOIN thr)
    SELECT file_id, count(*) AS n_rows,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(day) AS min_day, max(day) AS max_day,
           min(z) AS min_z, max(z) AS max_z
    FROM asg GROUP BY 1
    """


@query("layout_zorder_files", oracle=_zorder_oracle())
def layout_zorder_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout of events on (user_id, event day) into 16
    target files → per-file min/max ranges of BOTH dimensions (the
    planner-pruning ranges), via operators/layout.zorder_file_stats.

    Exact-integer bit interleave + md5-sampled equi-depth boundaries, so
    the oracle replays file assignment bit-for-bit; the per-file stats
    SHOW the pruning win (tight user AND day ranges per file — a
    single-column sort gives tight ranges on one dimension only)."""
    return zorder_file_stats(load_table(spark, sf_dir, "events"))


def _zorder_pruning_oracle() -> str:
    def assign(tag: str, key: str) -> str:
        mins = ", ".join(
            f"min(CASE WHEN cum >= ({q} * s + 15) // 16 THEN k END) AS t{q}"
            for q in range(1, 16)
        )
        terms = " + ".join(
            f"(CASE WHEN t{q} IS NOT NULL AND {key} >= t{q} THEN 1 ELSE 0 END)"
            for q in range(1, 16)
        )
        return f"""
    vc{tag} AS (SELECT {key} AS k, count(*) AS c FROM samp GROUP BY 1),
    cum{tag} AS (
      SELECT k, sum(c) OVER (ORDER BY k) AS cum,
             (SELECT count(*) FROM samp) AS s
      FROM vc{tag}
    ),
    thr{tag} AS (SELECT {mins} FROM cum{tag}),
    asg{tag} AS (SELECT evz.*, ({terms}) AS file_id FROM evz CROSS JOIN thr{tag}),
    f{tag} AS (
      SELECT file_id, min(user_id) AS mu, max(user_id) AS xu,
             min(day) AS md, max(day) AS xd
      FROM asg{tag} GROUP BY 1
    )"""

    hit = (
        "(dim = 'user' AND mu <= v AND v <= xu)"
        " OR (dim = 'day' AND md <= v AND v <= xd)"
    )
    return _zorder_sample_ctes("z, user_id") + f"""{assign("z", "z")},{assign("u", "user_id")},
    bounds AS (
      SELECT min(user_id) AS mnu, max(user_id) AS mxu,
             min(day) AS mnd, max(day) AS mxd
      FROM ev
    ),
    probes AS (
      SELECT 'user_q' || CAST(q AS VARCHAR) AS pred, 'user' AS dim,
             mnu + (q * (mxu - mnu)) // 4 AS v
      FROM bounds, UNNEST([0, 1, 2, 3]) AS t(q)
      UNION ALL
      SELECT 'day_q' || CAST(q AS VARCHAR), 'day',
             mnd + (q * (mxd - mnd)) // 4
      FROM bounds, UNNEST([0, 1, 2, 3]) AS t(q)
    ),
    sz AS (
      SELECT pred, CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0) AS BIGINT)
               AS files_zorder
      FROM probes CROSS JOIN fz GROUP BY 1
    ),
    su AS (
      SELECT pred, CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0) AS BIGINT)
               AS files_usersorted
      FROM probes CROSS JOIN fu GROUP BY 1
    )
    SELECT sz.pred, files_zorder, files_usersorted
    FROM sz JOIN su USING (pred)
    """


@query("layout_pruning_eval", oracle=_zorder_pruning_oracle())
def layout_pruning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan pruning evaluation: quartile-point probes on each dimension
    counted against the per-file [min, max] ranges of the Z-ordered vs
    user-sorted layouts (operators/layout.zorder_pruning_eval). The
    measurement that justifies paying for a Z-order rewrite before
    running one at corpus scale — companion to ann_recall_eval."""
    return zorder_pruning_eval(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Trained BPE tokenization, applied entirely in Catalyst
# ---------------------------------------------------------------------------
def _bpe_oracle() -> str:
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    merges = train_bpe_merges(sf_dir)
    chain = bpe_replace_chain(DUCK_DELIM_CHARS_SQL, merges)
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    w AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS wd
      FROM t
    ),
    wf AS (SELECT * FROM w WHERE length(wd) > 0),
    enc AS (SELECT doc_id, pos, length(wd) AS nc, {chain} AS s FROM wf),
    enc2 AS (
      SELECT doc_id, pos, nc, s,
             len(string_split(s, '{BPE_SEP}{BPE_SEP}')) AS nt
      FROM enc
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           md5(string_agg(s, '|' ORDER BY pos)) AS tokens_md5
    FROM enc2 GROUP BY doc_id
    """


@query("bpe_tokenize_stats", oracle=_bpe_oracle)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with a REAL trained BPE (Sennrich 2016 — the
    GPT-2/LLaMA tokenizer family): merges trained on the deterministic
    bounded sample, encoding applied corpus-wide as a codegen'd chain of
    anchored literal replaces (operators/bpe — no Python in the row
    path). → (doc_id, n_words, n_chars, n_tokens, tokens_md5): the
    tokens_md5 hash pins the EXACT segmentation, not just counts.

    Shape: explode words → map-only encode → one groupBy(doc_id). The
    oracle replays training (same function, same sample) and runs the
    same replace chain in DuckDB."""
    merges = train_bpe_merges(sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    chain = bpe_replace_chain(SPARK_DELIM_CHARS_SQL, merges)
    w = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "wd")
    ).filter(F.length("wd") > 0)
    enc = w.select(
        "doc_id",
        "pos",
        F.length("wd").alias("nc"),
        F.expr(chain).alias("s"),
    ).withColumn("nt", F.expr(f"size(split(s, '{BPE_SEP}{BPE_SEP}'))"))
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.expr(
            "md5(cast(concat_ws('|',"
            " transform(array_sort(collect_list(struct(pos, s))),"
            " p -> p.s)) as binary))"
        ).alias("tokens_md5"),
    )


# ---------------------------------------------------------------------------
# Deterministic training shuffle → shards
# ---------------------------------------------------------------------------
@query(
    "layout_shuffle_shards",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5('shuffle-v1:' || doc_id::VARCHAR) AS skey,
             (md5_number_lower('shuffle-v1:' || doc_id::VARCHAR) % 256)
               ::BIGINT % 16 AS shard_id
      FROM documents
    )
    SELECT doc_id, skey, shard_id,
           row_number() OVER (PARTITION BY shard_id ORDER BY skey, doc_id)
             AS pos
    FROM k
    """,
)
def layout_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every doc gets a
    reproducible pseudo-random key (md5 of a salted id — bump the salt to
    re-shuffle between epochs), a balanced shard assignment (md5 low byte
    mod 16), and a within-shard position (row_number over the shard,
    ordered by the random key). This is the dataset-assembly step after
    split/pack/mix: trainers need the corpus in a shuffled, sharded,
    byte-reproducible order, and a Fisher-Yates or rand()-orderBy shuffle
    is neither reproducible across engines nor restartable.

    Scale shape: the keying is a stateless map; the ONLY shuffle is the
    per-shard row_number window — PARTITIONED by shard_id (state = one
    shard, 1/16 of the corpus; shard count scales with the cluster), not
    a single-partition global sort. Writing `partitionBy(shard_id)
    sortBy(skey)` via the bucketed sink gives the same layout as files.

    Fragment contract: the Spark low-byte expression is
    operators/layout.md5_low_bytes_sql — the DuckDB twin is
    ``md5_number_lower(x) % 256`` (tested across the layout family)."""
    from zip_to_parquet_spark.operators.layout import md5_low_bytes_sql
    from pyspark.sql.window import Window

    salted = "concat('shuffle-v1:', cast(doc_id as string))"
    k = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"md5(cast({salted} as binary))").alias("skey"),
        (F.expr(md5_low_bytes_sql(salted, 1)) % 16).alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("skey", "doc_id")
    return k.withColumn("pos", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Length-bucketed dynamic batching (padding-waste minimization)
# ---------------------------------------------------------------------------
@query(
    "batch_length_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, tok, (tok + 63) // 64 AS bucket,
             (row_number() OVER (PARTITION BY (tok + 63) // 64
                                 ORDER BY doc_id) - 1) // 8 AS batch_no
      FROM t
    )
    SELECT bucket, batch_no,
           count(*)::BIGINT AS n_docs,
           max(tok)::BIGINT AS max_tok,
           sum(tok)::BIGINT AS sum_tok,
           (max(tok) * count(*) - sum(tok))::BIGINT AS padded_tok,
           CAST((sum(tok) * 1000) // (max(tok) * count(*)) AS BIGINT)
             AS efficiency_permille
    FROM b GROUP BY 1, 2
    """,
)
def batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching, the inference/training-serving
    step that decides real GPU throughput: assign each doc to a 64-token
    length bucket, fill fixed-size batches of 8 inside each bucket (in
    deterministic doc_id order), and report per batch the padding waste —
    ``max_tok·n − Σtok`` — and the packing efficiency in permille. The
    operator that shows WHY you length-bucket: batches within a bucket
    pad to at most 63 wasted tokens per row, versus worst-case corpus
    max-length padding with naive batching. All exact integer counts.

    Scale shape: token counting is a stateless map; the only shuffle is
    the per-bucket row_number window (state = one bucket's docs; bucket
    count grows with the length distribution, not the corpus — and each
    bucket's batches are independent downstream); the per-batch rollup
    reuses the same partitioning. Efficiency division is integer
    permille over positive operands (tok ≥ 1 — string_split of an empty
    text still yields one element)."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(size(split(text, ' ')) as bigint)").alias("tok"),
    )
    b = t.withColumn("bucket", F.expr("(tok + 63) div 64")).withColumn(
        "batch_no",
        F.expr("cast((row_number() over (partition by (tok + 63) div 64"
               " order by doc_id) - 1) as bigint) div 8"),
    )
    return b.groupBy("bucket", "batch_no").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tok").alias("max_tok"),
        F.sum("tok").cast("long").alias("sum_tok"),
        (F.max("tok") * F.count(F.lit(1)) - F.sum("tok"))
        .cast("long")
        .alias("padded_tok"),
        F.expr("(sum(tok) * 1000) div (max(tok) * count(*))").alias(
            "efficiency_permille"
        ),
    )


# ---------------------------------------------------------------------------
# Token-mass top-p per-source selection
# ---------------------------------------------------------------------------
@query(
    "select_token_mass_topp",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, tok,
             sum(tok) OVER (PARTITION BY source
                            ORDER BY tok DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(tok) OVER (PARTITION BY source) AS total
      FROM t
    )
    SELECT doc_id, source, tok, CAST(cum AS BIGINT) AS cum_tok
    FROM c
    WHERE (cum - tok) * 10 < total * 9
    """,
)
def select_token_mass_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus selection per source: keep each source's
    largest documents until 90% of its token mass is covered — the
    budget-driven curation step between quality scoring and mixture
    sampling (drop the long tail of snippets that cost list-processing
    overhead but contribute no mass). Nucleus semantics: a doc is kept
    while the mass BEFORE it is under the threshold, so the crossing doc
    is included and every source keeps ≥ 1 doc. The p=0.9 test is exact
    integer cross-multiplication (``(cum−tok)·10 < total·9``) — no
    fractions, no float seam.

    Scale shape: one per-source window computes BOTH the running and the
    total mass in a single shuffle (state = one source's docs); the
    filter is a stateless map after it. Sources are the unit of
    parallelism — the operator scales with the corpus as long as no
    single source dominates, the same contract as sessionization."""
    from pyspark.sql.window import Window

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("cast(size(split(text, ' ')) as bigint)").alias("tok"),
    )
    wrun = (
        Window.partitionBy("source")
        .orderBy(F.col("tok").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    c = t.select(
        "doc_id",
        "source",
        "tok",
        F.sum("tok").over(wrun).alias("cum"),
        F.sum("tok").over(wall).alias("total"),
    )
    return c.filter(
        (F.col("cum") - F.col("tok")) * 10 < F.col("total") * 9
    ).select("doc_id", "source", "tok", F.col("cum").cast("long").alias("cum_tok"))


# ---------------------------------------------------------------------------
# Small-files compaction planning (lakehouse OPTIMIZE bin packing)
# ---------------------------------------------------------------------------
@query(
    "layout_compaction_plan",
    oracle="""
    WITH f AS (
      SELECT doc_id // 25 AS file_id, sum(n_chars)::BIGINT AS file_bytes
      FROM documents GROUP BY 1
    ),
    c AS (
      SELECT file_id, file_bytes,
             (sum(file_bytes) OVER (ORDER BY file_id
                                    ROWS UNBOUNDED PRECEDING)
              - file_bytes) AS prev_cum
      FROM f
    )
    SELECT (prev_cum // 30000)::BIGINT AS group_id,
           count(*)::BIGINT AS n_files,
           sum(file_bytes)::BIGINT AS group_bytes,
           min(file_id)::BIGINT AS first_file,
           max(file_id)::BIGINT AS last_file
    FROM c GROUP BY 1
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning, the lakehouse OPTIMIZE step run
    before query latency degrades: over the modeled file inventory (docs
    bucketed 25-per-file with byte sizes — the per-file stats a real
    table's metadata layer provides), assign files in id order to
    compaction groups by cumulative fill against a 30 KB target —
    ``group = prev_cumsum div target``, the sorted-sequential bin packing
    Delta/Iceberg OPTIMIZE uses (each group may overshoot by one file;
    groups stay contiguous id-ranges, which preserves any clustering the
    ids encode). Exact integers throughout.

    Scale shape: the fact collapses to the file inventory first (one
    shuffle, |files| rows); the cumulative-fill window orders that
    metadata-sized relation only — at a million files this is still a
    single-executor-trivial window, and per-partition planning (group by
    table partition before the window) removes even that if needed."""
    f = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.expr("doc_id div 25").alias("file_id"))
        .agg(F.sum("n_chars").cast("long").alias("file_bytes"))
    )
    from pyspark.sql.window import Window

    # Deliberately one partition: the window input is the metadata-sized
    # file inventory, not the fact (partitionBy(lit) silences the WindowExec
    # warning without changing the plan — the kmeans-init idiom).
    wc = Window.partitionBy(F.lit(0)).orderBy("file_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = f.select(
        "file_id",
        "file_bytes",
        (F.sum("file_bytes").over(wc) - F.col("file_bytes")).alias("prev_cum"),
    )
    return (
        c.groupBy(F.expr("prev_cum div 30000").alias("group_id"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("file_bytes").cast("long").alias("group_bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source score calibration: integer permille rank normalization
# ---------------------------------------------------------------------------
@query(
    "quality_rank_normalize",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rnk,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(CASE WHEN n > 1 THEN ((rnk - 1) * 1000) // (n - 1)
                     ELSE 0 END AS BIGINT) AS rank_permille
    FROM r
    """,
)
def quality_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration by rank normalization: a raw
    quality signal (here n_chars) is not comparable ACROSS sources —
    a "long" web page and a "long" academic paper live on different
    scales — so each doc gets its within-source percent-rank in integer
    permille (``(rank−1)·1000 div (n−1)``, the PERCENT_RANK definition
    made exact; single-doc sources pin to 0). Downstream mixture and
    selection steps can then threshold uniformly ("keep every source's
    top 30%") without per-source threshold tuning.

    Scale shape: one source-keyed window shuffle computes rank and
    group size together; the permille map is stateless. Deterministic
    under score ties via the doc_id tie-break."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).cast("long").alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            "rnk",
            F.when(
                F.col("n") > 1,
                F.expr("((rnk - 1) * 1000) div (n - 1)"),
            ).otherwise(F.lit(0)).cast("long").alias("rank_permille"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: confusion matrix + precision/recall/F1
# ---------------------------------------------------------------------------
def _confusion_oracle() -> str:
    """Computed oracle: the distilled-classifier replay wrapped as a CTE,
    rolled up to the confusion matrix with exact-permille metrics. F1
    uses the single-division identity 2tp/(2tp+fp+fn) so no rounded
    precision/recall feeds a second rounding."""
    return f"""
    WITH scored AS ({_distill_oracle()})
    SELECT sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN pred AND NOT gate_pass THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN NOT pred AND gate_pass THEN 1 ELSE 0 END)::BIGINT AS fn,
           sum(CASE WHEN NOT pred AND NOT gate_pass THEN 1 ELSE 0 END)::BIGINT AS tn,
           CAST(sum(CASE WHEN pred = gate_pass THEN 1 ELSE 0 END) * 1000
                // count(*) AS BIGINT) AS accuracy_permille,
           CAST(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 1000
                // nullif(sum(CASE WHEN pred THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS precision_permille,
           CAST(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 1000
                // nullif(sum(CASE WHEN gate_pass THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_permille,
           CAST(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 2000
                // nullif(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 2
                          + sum(CASE WHEN pred AND NOT gate_pass THEN 1 ELSE 0 END)
                          + sum(CASE WHEN NOT pred AND gate_pass THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS f1_permille
    FROM scored
    """


@query("quality_classifier_confusion", oracle=_confusion_oracle)
def quality_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification-eval metrics for the distilled quality classifier:
    confusion matrix against the Gopher-gate weak labels plus accuracy /
    precision / recall / F1 in exact integer permille — closing the
    evaluation family across all three learning tasks the repo trains
    (ranking → ann_recall_eval/ann_ndcg_eval, clustering →
    cluster_silhouette_eval, classification → here). F1 computes by the
    single-division identity ``2tp/(2tp+fp+fn)`` — never from already-
    rounded precision/recall, which would double-quantize. Degenerate
    denominators (no positive predictions / labels) yield NULL, not a
    crash, in both engines (``nullif`` guard).

    Scale shape: rides quality_distill_classifier's map-only corpus
    scoring pass, then ONE map-side-combinable 1-row rollup — evaluation
    adds a reduce, not a shuffle."""
    scored = quality_distill_classifier(spark, sf_dir)
    p, g = F.col("pred"), F.col("gate_pass")
    tp = F.sum(F.when(p & g, 1).otherwise(0))
    fp = F.sum(F.when(p & ~g, 1).otherwise(0))
    fn = F.sum(F.when(~p & g, 1).otherwise(0))
    tn = F.sum(F.when(~p & ~g, 1).otherwise(0))
    return scored.agg(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.expr(
            "cast(sum(CASE WHEN pred = gate_pass THEN 1 ELSE 0 END) * 1000"
            " div count(*) as bigint)"
        ).alias("accuracy_permille"),
        F.expr(
            "cast(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 1000"
            " div nullif(sum(CASE WHEN pred THEN 1 ELSE 0 END), 0) as bigint)"
        ).alias("precision_permille"),
        F.expr(
            "cast(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 1000"
            " div nullif(sum(CASE WHEN gate_pass THEN 1 ELSE 0 END), 0)"
            " as bigint)"
        ).alias("recall_permille"),
        F.expr(
            "cast(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 2000"
            " div nullif(sum(CASE WHEN pred AND gate_pass THEN 1 ELSE 0 END) * 2"
            "   + sum(CASE WHEN pred AND NOT gate_pass THEN 1 ELSE 0 END)"
            "   + sum(CASE WHEN NOT pred AND gate_pass THEN 1 ELSE 0 END), 0)"
            " as bigint)"
        ).alias("f1_permille"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncated-dimension recall evaluation.
# ---------------------------------------------------------------------------
@query(
    "vector_matryoshka_recall",
    oracle="""
    WITH qset AS (
      SELECT vec_id FROM embeddings WHERE vec_id % 25 = 0
      ORDER BY vec_id LIMIT 512
    ),
    truth AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                     q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                 c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM qset)
      ) WHERE rank <= 5
    ),
    trunc AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                     (q.embedding[1:16])::DOUBLE[],
                     (c.embedding[1:16])::DOUBLE[]), 6) DESC,
                 c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM qset)
      ) WHERE rank <= 5
    )
    SELECT t.q_id, count(a.n_id)::BIGINT AS n_hits,
           count(a.n_id)::DOUBLE / 5 AS recall_at_5
    FROM truth t
    LEFT JOIN trunc a ON a.q_id = t.q_id AND a.n_id = t.n_id
    GROUP BY t.q_id
    """,
)
def vector_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-embedding evaluation (Kusupati et al. NeurIPS'22): how
    much top-5 recall survives truncating every vector to its first 16
    of 64 dimensions — the measurement behind MRL-style "store the
    prefix, rerank with the tail" serving, where prefix search cuts
    memory and GEMM cost 4× IF recall holds. Both legs run the same
    bounded-query-batch brute-force contract as ``ann_cosine_topk``
    (per-batch partial top-k, round-6 + id tie-break), so this is a
    pure ablation: identical scorer, sliced input.

    Scale shape: two map-only GEMM passes over the corpus (full-dim and
    16-dim) emitting O(Q·k) candidates each, one (q_id, n_id) equi-join,
    one per-query count — eval cost is the standard ground-truth price,
    paid per index-design decision, never per query.

    Cites ``operators/vectors.gemm_topk_candidates`` for the
    dimension-ordered summation that keeps numpy/DuckDB doubles
    bit-identical."""
    from pyspark.sql.window import Window

    from zip_to_parquet_spark.operators.vectors import gemm_topk_candidates
    from zip_to_parquet_spark.plans.llm import (
        _MAX_QUERY_BATCH,
        _embeddings_spread,
    )

    emb = _embeddings_spread(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qrows = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .orderBy("vec_id")
        .limit(_MAX_QUERY_BATCH)
        .collect()
    )
    q_ids = [r[0] for r in qrows]

    def topk5(corpus, q_vecs):
        cand = gemm_topk_candidates(corpus, q_ids, q_vecs, k=5)
        w = Window.partitionBy("q_id").orderBy(
            F.col("cos_sim").desc(), F.col("n_id")
        )
        return (
            cand.select(
                "q_id", "n_id", F.round(F.col("cos_sim_raw"), 6).alias("cos_sim")
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("q_id", "n_id")
        )

    truth = topk5(emb, [list(r[1]) for r in qrows])
    half = emb.select("vec_id", F.slice("v", 1, 16).alias("v"))
    trunc = topk5(half, [list(r[1])[:16] for r in qrows]).select(
        F.col("q_id").alias("a_q_id"), F.col("n_id").alias("a_n_id")
    )
    hit = truth.join(
        trunc,
        (F.col("q_id") == F.col("a_q_id"))
        & (F.col("n_id") == F.col("a_n_id")),
        "left",
    )
    return hit.groupBy("q_id").agg(
        F.count("a_n_id").cast("bigint").alias("n_hits"),
        (F.count("a_n_id").cast("double") / F.lit(5)).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC for the cheap quality prior, per source.
# ---------------------------------------------------------------------------
@query(
    "quality_classifier_auc",
    oracle="""
    WITH scored AS (
      SELECT source,
             least(len(string_split(text, ' ')) / 400.0, 1.0) * 0.5
             + least(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                     / greatest(len(string_split(text, ' ')), 1) / 0.05, 1.0)
               * 0.5 AS score,
             (lang = 'en')::INT AS pos
      FROM documents
    ),
    g AS (
      SELECT source, score,
             count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos_cnt
      FROM scored GROUP BY source, score
    ),
    r AS (
      SELECT source, score, cnt, pos_cnt,
             coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_less
      FROM g
    ),
    agg AS (
      SELECT source,
             sum(pos_cnt * (2 * cum_less + cnt + 1))::BIGINT AS r2,
             sum(pos_cnt)::BIGINT AS n_pos,
             sum(cnt - pos_cnt)::BIGINT AS n_neg
      FROM r GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           (r2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
           (2 * n_pos * n_neg)::BIGINT AS auc_den,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE (1000 * (r2 - n_pos * (n_pos + 1)))
                       // (2 * n_pos * n_neg) END AS auc_milli
    FROM agg
    """,
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the cheap quality prior (``text_quality_score``)
    against the language label, per source — the eval a pipeline runs
    before trusting a filter: does the score actually rank in-language
    documents above the rest?

    Exactness contract: AUC is computed from the Mann-Whitney rank
    identity AUC = (R+ - n+(n+1)/2) / (n+ n-) with midrank tie handling,
    carried at 2x scale so every intermediate is an INTEGER: per distinct
    score value, 2*avg_rank = 2*cum_less + cnt_eq + 1, so
    2*R+ = sum(pos_cnt * (2*cum_less + cnt + 1)). The score itself is a
    double, but both engines build it with the identical IEEE op sequence
    (the text_quality_score contract), so GROUP BY score is bit-stable;
    no float survives into an output column (auc_num/auc_den/auc_milli).

    Scale shape: one map-side-combinable rollup to the (source, score)
    HISTOGRAM, then windows over histogram cardinality — distinct score
    values, not corpus rows (the saturating score ties heavily at 1.0,
    which is exactly what midranks are for). BIGINT holds to ~3e9
    docs/source (n_pos*n_neg < 2^63); past that the nums go
    DECIMAL-as-string per the repo's overflow rule."""
    from zip_to_parquet_spark.operators import textops

    d = load_table(spark, sf_dir, "documents")
    w_ = textops.words(F.col("text"))
    length_term = F.least(F.size(w_) / 400.0, F.lit(1.0))
    stop_term = F.least(textops.stopword_ratio(w_) / 0.05, F.lit(1.0))
    scored = d.select(
        "source",
        (length_term * 0.5 + stop_term * 0.5).alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    return exact_group_auc(scored, "source")


def exact_group_auc(scored: DataFrame, group: str) -> DataFrame:
    """Exact midrank ROC-AUC per group over ``(group, score, pos)`` rows
    — the integer Mann-Whitney identity described in
    :func:`quality_classifier_auc`. ``pos`` must be 0/1; ``score`` any
    orderable type (ties get midranks). Returns one row per group with
    BIGINT ``auc_num``/``auc_den`` and ``auc_milli`` (NULL when a group
    is single-class)."""
    from pyspark.sql.window import Window

    g = scored.groupBy(group, "score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos_cnt"),
    )
    w = (
        Window.partitionBy(group)
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn("cum_less", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    agg = r.groupBy(group).agg(
        F.sum(
            F.col("pos_cnt") * (2 * F.col("cum_less") + F.col("cnt") + 1)
        ).alias("r2"),
        F.sum("pos_cnt").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n_neg"),
    )
    num = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    den = 2 * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        group,
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        num.cast("long").alias("auc_num"),
        den.cast("long").alias("auc_den"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None)
        )
        .otherwise(F.expr(
            "(1000 * (r2 - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg)"
        ))
        .cast("long")
        .alias("auc_milli"),
    )


# ---------------------------------------------------------------------------
# Calibration audit of the quality prior: reliability bins + ECE mass.
# ---------------------------------------------------------------------------
@query(
    "quality_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT (lang = 'en')::INT AS pos,
             floor(1000 * (
               least(len(string_split(text, ' ')) / 400.0, 1.0) * 0.5
               + least(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                       / greatest(len(string_split(text, ' ')), 1) / 0.05,
                       1.0) * 0.5))::BIGINT AS score_milli
      FROM documents
    )
    SELECT least(score_milli // 100, 9)::BIGINT AS bin,
           count(*)::BIGINT AS n_docs,
           sum(pos)::BIGINT AS n_pos,
           sum(score_milli)::BIGINT AS conf_milli_sum,
           abs(1000 * sum(pos) - sum(score_milli))::BIGINT AS gap_abs,
           ((1000 * sum(pos)) // count(*))::BIGINT AS acc_milli,
           (sum(score_milli) // count(*))::BIGINT AS conf_milli
    FROM scored GROUP BY 1
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality prior read as
    P(lang = 'en'): ten equal-width confidence bins, each comparing mean
    predicted confidence against empirical accuracy — the calibration
    audit that decides whether a filter's scores can gate data by
    threshold or must first be recalibrated (isotonic / Platt). The
    expected calibration error is sum(gap_abs) / (1000 * N) — every
    ECE ingredient ships as an integer column (gap_abs is
    n_b * 1000 * |acc_b - conf_b| exactly).

    Exactness: the score double (text_quality_score's bit-stable IEEE
    sequence) quantizes to milli by floor(1000 * s) — 1000*s is one
    correctly-rounded multiply of identical doubles, so the floor is
    bit-identical across engines; everything after is integer. Bin 9
    absorbs the score == 1.0 saturation point (least(.., 9)).

    Scale shape: one map-side-combinable groupBy onto <= 10 rows. Bins
    are policy geometry; there is no second shuffle."""
    from zip_to_parquet_spark.operators import textops

    d = load_table(spark, sf_dir, "documents")
    w_ = textops.words(F.col("text"))
    length_term = F.least(F.size(w_) / 400.0, F.lit(1.0))
    stop_term = F.least(textops.stopword_ratio(w_) / 0.05, F.lit(1.0))
    scored = d.select(
        (F.col("lang") == "en").cast("int").alias("pos"),
        F.floor(1000 * (length_term * 0.5 + stop_term * 0.5))
        .cast("long")
        .alias("score_milli"),
    )
    return (
        scored.groupBy(
            F.least(F.expr("score_milli div 100"), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("score_milli").cast("long").alias("conf_milli_sum"),
            F.abs(1000 * F.sum("pos") - F.sum("score_milli"))
            .cast("long")
            .alias("gap_abs"),
            F.expr("(1000 * sum(pos)) div count(*)")
            .cast("long")
            .alias("acc_milli"),
            F.expr("sum(score_milli) div count(*)")
            .cast("long")
            .alias("conf_milli"),
        )
    )


# ---------------------------------------------------------------------------
# McNemar paired comparison of two document classifiers.
# ---------------------------------------------------------------------------
@query(
    "quality_classifier_mcnemar",
    oracle="""
    WITH scored AS (
      SELECT source,
             (lang = 'en') AS truth,
             (least(len(string_split(text, ' ')) / 400.0, 1.0) * 0.5
              + least(len(list_filter(string_split(text, ' '),
                        x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                      / greatest(len(string_split(text, ' ')), 1) / 0.05,
                      1.0) * 0.5) >= 0.5 AS pred_a,
             (len(list_filter(string_split(text, ' '),
                        x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                      / greatest(len(string_split(text, ' ')), 1)) >= 0.02
               AS pred_b
      FROM documents
    ),
    m AS (
      SELECT source,
             (pred_a = truth) AS a_ok, (pred_b = truth) AS b_ok
      FROM scored
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END)::BIGINT
             AS both_right,
           sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END)::BIGINT
             AS both_wrong,
           sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)::BIGINT AS b_,
           sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)::BIGINT AS c_,
           CASE WHEN sum(CASE WHEN a_ok != b_ok THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE (1000
                      * (sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                         - sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END))
                      * (sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                         - sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)))
                     // sum(CASE WHEN a_ok != b_ok THEN 1 ELSE 0 END)
           END::BIGINT AS mcnemar_chi2_milli
    FROM m GROUP BY source
    """,
)
def quality_classifier_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (1947) comparing the two cheap language
    gates on the SAME documents — the statistically correct way to ask
    "is classifier A actually better than B?" when both score one
    corpus: only the DISCORDANT pairs carry signal (b = A right & B
    wrong, c = the reverse), and chi^2 = (b-c)^2/(b+c) tests their
    symmetry. Accuracy deltas computed on overlapping predictions
    without this pairing overstate significance — the trap this key
    exists to avoid. A is the composite quality prior at 0.5; B is the
    stopword-density heuristic at 0.02; truth is the lang label.

    Exactness: contingency cells are counts; the statistic ships as
    (b-c)^2 * 1000 div (b+c), NULL when no discordant pairs exist.
    Both classifiers' score doubles follow the bit-stable IEEE
    sequences of their parent keys, so the >= thresholds agree across
    engines.

    Scale shape: one map-only projection (both classifiers evaluate in
    the same codegen stage), one map-side-combinable source rollup."""
    from zip_to_parquet_spark.operators import textops

    d = load_table(spark, sf_dir, "documents")
    w_ = textops.words(F.col("text"))
    ratio = textops.stopword_ratio(w_)
    score = (
        F.least(F.size(w_) / 400.0, F.lit(1.0)) * 0.5
        + F.least(ratio / 0.05, F.lit(1.0)) * 0.5
    )
    m = d.select(
        "source",
        ((score >= 0.5) == (F.col("lang") == "en")).alias("a_ok"),
        ((ratio >= 0.02) == (F.col("lang") == "en")).alias("b_ok"),
    )
    b_ = F.sum(F.when(F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
    c_ = F.sum(F.when(~F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
    disc = F.sum(F.when(F.col("a_ok") != F.col("b_ok"), 1).otherwise(0))
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.sum(F.when(~F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("both_wrong"),
        b_.cast("long").alias("b_"),
        c_.cast("long").alias("c_"),
        F.when(disc == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "(1000 * (sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)"
                " - sum(CASE WHEN (NOT a_ok) AND b_ok THEN 1 ELSE 0 END))"
                " * (sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)"
                " - sum(CASE WHEN (NOT a_ok) AND b_ok THEN 1 ELSE 0 END)))"
                " div sum(CASE WHEN a_ok != b_ok THEN 1 ELSE 0 END)"
            ).cast("long")
        )
        .alias("mcnemar_chi2_milli"),
    )


# ---------------------------------------------------------------------------
# Isotonic (PAV) recalibration of the quality prior, exact minimax form.
# ---------------------------------------------------------------------------
@query(
    "quality_isotonic_pav",
    oracle="""
    WITH scored AS (
      SELECT (lang = 'en')::INT AS pos,
             floor(1000 * (
               least(len(string_split(text, ' ')) / 400.0, 1.0) * 0.5
               + least(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                       / greatest(len(string_split(text, ' ')), 1) / 0.05,
                       1.0) * 0.5))::BIGINT AS score_milli
      FROM documents
    ),
    bins AS (
      SELECT least(score_milli // 100, 9)::BIGINT AS bin,
             count(*)::BIGINT AS n, sum(pos)::BIGINT AS p
      FROM scored GROUP BY 1
    ),
    pre AS (
      SELECT bin, n, p,
             sum(n) OVER (ORDER BY bin)::BIGINT AS cn,
             sum(p) OVER (ORDER BY bin)::BIGINT AS cp
      FROM bins
    ),
    iv AS (
      SELECT j.bin AS jb, k.bin AS kb,
             (k.cp - (j.cp - j.p))::BIGINT AS num,
             (k.cn - (j.cn - j.n))::BIGINT AS den
      FROM pre j JOIN pre k ON j.bin <= k.bin
    ),
    tri AS (
      SELECT i.bin AS ib, i.n, i.p, iv.jb, iv.kb, iv.num, iv.den,
             iv.num::DOUBLE / iv.den::DOUBLE AS ratio
      FROM pre i JOIN iv ON iv.jb <= i.bin AND i.bin <= iv.kb
    ),
    mins AS (
      SELECT ib, n, p, jb, num, den, ratio FROM (
        SELECT *, row_number() OVER (PARTITION BY ib, jb
                 ORDER BY ratio, kb) AS rn
        FROM tri
      ) WHERE rn = 1
    ),
    iso AS (
      SELECT ib, n, p, num, den FROM (
        SELECT *, row_number() OVER (PARTITION BY ib
                 ORDER BY ratio DESC, jb) AS rn
        FROM mins
      ) WHERE rn = 1
    )
    SELECT ib AS bin, n AS n_docs, p AS n_pos,
           num AS iso_num, den AS iso_den,
           ((1000 * num) // den)::BIGINT AS iso_milli,
           CASE WHEN n = 0 THEN NULL
                ELSE ((1000 * p) // n)::BIGINT END AS raw_milli
    FROM iso
    """,
)
def quality_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic recalibration of the quality prior — the pool-adjacent-
    violators fit (Ayer et al. 1955; Zadrozny & Elkan 2002 for
    classifier calibration) computed by PAV's exact MINIMAX closed form
    iso_i = max_{j<=i} min_{k>=i} mean(y[j..k]): the third act of the
    calibration story (quality_calibration_bins measures miscalibration,
    this key produces the monotone corrected probabilities a thresholded
    filter would actually deploy).

    Exactness contract: interval means stay integer RATIONALS
    (pos-prefix / n-prefix differences); the emitted iso_milli is
    1000*num div den of the minimax-selected interval, and selection
    order is (ratio, k) / (ratio DESC, j) with the double ratio used
    ONLY as an ordering key (integer-valued-double quotient, correctly
    rounded, identical both engines; ties break on the integer bin ids)
    — tied rationals floor to the same milli either way.

    Scale shape: the corpus-sized stage is the one map-side-combinable
    bin rollup (<= 10 rows out); the minimax enumerates j<=i<=k over
    BIN-count geometry (10 bins -> 220 triples), a driver-free
    policy-sized join. The monotonicity of the output is asserted by
    pytest, not assumed."""
    from pyspark.sql.window import Window

    from zip_to_parquet_spark.operators import textops

    d = load_table(spark, sf_dir, "documents")
    w_ = textops.words(F.col("text"))
    length_term = F.least(F.size(w_) / 400.0, F.lit(1.0))
    stop_term = F.least(textops.stopword_ratio(w_) / 0.05, F.lit(1.0))
    scored = d.select(
        (F.col("lang") == "en").cast("int").alias("pos"),
        F.floor(1000 * (length_term * 0.5 + stop_term * 0.5))
        .cast("long")
        .alias("score_milli"),
    )
    bins = scored.groupBy(
        F.least(F.expr("score_milli div 100"), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = bins.withColumn("cn", F.sum("n").over(wcum)).withColumn(
        "cp", F.sum("p").over(wcum)
    )
    j = pre.select(
        F.col("bin").alias("jb"),
        (F.col("cp") - F.col("p")).alias("cp_before"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
    )
    k = pre.select(
        F.col("bin").alias("kb"),
        F.col("cp").alias("cp_k"),
        F.col("cn").alias("cn_k"),
    )
    iv = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (F.col("cp_k") - F.col("cp_before")).cast("long").alias("num"),
        (F.col("cn_k") - F.col("cn_before")).cast("long").alias("den"),
    )
    i = pre.select(
        F.col("bin").alias("ib"), "n", "p"
    )
    tri = i.join(
        iv, (F.col("jb") <= F.col("ib")) & (F.col("ib") <= F.col("kb"))
    ).withColumn(
        "ratio", F.col("num").cast("double") / F.col("den").cast("double")
    )
    mins = (
        tri.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ib", "jb").orderBy("ratio", "kb")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    iso = (
        mins.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ib").orderBy(F.col("ratio").desc(), "jb")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return iso.select(
        F.col("ib").alias("bin"),
        F.col("n").alias("n_docs"),
        F.col("p").alias("n_pos"),
        F.col("num").alias("iso_num"),
        F.col("den").alias("iso_den"),
        F.expr("(1000 * num) div den").cast("long").alias("iso_milli"),
        F.when(F.col("n") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(1000 * p) div n").cast("long"))
        .alias("raw_milli"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization of embeddings with exact integer error accounting.
# ---------------------------------------------------------------------------
@query(
    "vector_int8_quant_error",
    oracle="""
    WITH a AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, label,
        len(embedding)::BIGINT AS n_dims,
        CASE WHEN len(embedding) = 0 OR amax = 0 THEN 0 ELSE
          list_sum(list_transform(embedding, x ->
            floor(abs((x::DOUBLE * 127 / amax)
                      - floor((x::DOUBLE * 127 / amax) + 0.5)) * 1000000)
            ::BIGINT))
        END AS err_micro,
        CASE WHEN len(embedding) = 0 OR amax = 0 THEN 0 ELSE
          len(list_filter(embedding, x ->
            abs(floor((x::DOUBLE * 127 / amax) + 0.5)) >= 127))
        END AS n_sat
      FROM a
    )
    SELECT label::BIGINT AS label, count(*)::BIGINT AS n_vecs,
           sum(n_dims)::BIGINT AS n_elems,
           sum(err_micro)::BIGINT AS sum_err_micro,
           max(err_micro)::BIGINT AS max_vec_err_micro,
           sum(n_sat)::BIGINT AS n_saturated
    FROM p GROUP BY label
    """,
)
def vector_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the production ANN
    memory layout: q_i = round(x_i * 127 / max|x|), 4x smaller than
    float32) with its reconstruction error ACCOUNTED in-plan, per label:
    total/max per-vector quantization residual in micro-quant-units and
    the saturated-element count — the numbers that decide whether int8
    is safe for a given embedding family before committing the index
    build to it.

    Exactness: the residual |x*127/amax − round(x*127/amax)| ∈ [0, 0.5]
    is floored to integer micro-units PER ELEMENT before any summation,
    so aggregation is order-independent integer math; the float part is
    two IEEE double ops (multiply, divide) on exactly-upcast float32
    values plus floor — every engine computes them bit-identically
    (round = floor(v + 0.5), same expression both sides; no libm).
    amax = 0 (zero vector) short-circuits to zero error, and so does an
    EMPTY embedding array — guarded explicitly on size(embedding) = 0 in
    both engines, because without the guard the two diverge on the
    degenerate row: DuckDB's list_max([]) is NULL so the whole CASE
    yields NULL, while Spark's aggregate([], 0L, +) yields 0.

    Scale shape: map-only higher-order expressions (transform /
    aggregate / filter) inside the scan stage — per-vector work never
    leaves codegen, no explode, no per-element shuffle; then one
    map-side-combinable groupBy on label (bounded cardinality). The
    same shape quantizes 100 TB of embeddings in one pass."""
    e = load_table(spark, sf_dir, "embeddings")
    amax = "array_max(transform(embedding, x -> abs(cast(x as double))))"
    err = f"""
      CASE WHEN size(embedding) = 0 OR {amax} = 0D THEN 0L ELSE
        aggregate(
          transform(embedding, x ->
            cast(floor(abs((cast(x as double) * 127 / {amax})
                 - floor((cast(x as double) * 127 / {amax}) + 0.5d))
                 * 1000000) as bigint)),
          0L, (acc, v) -> acc + v)
      END"""
    nsat = f"""
      CASE WHEN size(embedding) = 0 OR {amax} = 0D THEN 0L ELSE
        cast(size(filter(embedding, x ->
          abs(floor((cast(x as double) * 127 / {amax}) + 0.5d)) >= 127D))
        as bigint)
      END"""
    p = e.select(
        F.col("label").cast("long").alias("label"),
        F.size("embedding").cast("long").alias("n_dims"),
        F.expr(err).alias("err_micro"),
        F.expr(nsat).alias("n_sat"),
    )
    return p.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("n_dims").cast("long").alias("n_elems"),
        F.sum("err_micro").cast("long").alias("sum_err_micro"),
        F.max("err_micro").cast("long").alias("max_vec_err_micro"),
        F.sum("n_sat").cast("long").alias("n_saturated"),
    )
