"""Lexical retrieval: BM25 scoring over the documents table.

The lexical complement to the vector-similarity operators: Okapi BM25
(Robertson/Sparck Jones) with the standard k1/b parameterization. All
Catalyst; the plan is the inverted-index shape that scales:

  scan → explode ONLY query-term tokens (the isin filter runs before the
  shuffle, so corpus volume through the exchange is proportional to
  query-term hits, not corpus size) → per-(doc, term) tf → per-term df →
  broadcast the one-row corpus stats and the tiny per-term df table →
  per-doc sequential fold of term contributions → top-k.

Determinism notes (oracle parity): the per-doc score is a SEQUENTIAL fold
over term-sorted contributions (array_sort + aggregate), never a
groupBy-sum over doubles, so summation order is engine-independent; the
final ranking is on round(score, 6) with doc_id tie-break per the repo's
ranking rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zip_to_parquet_spark.operators.textops import words
from zip_to_parquet_spark.runtime import size_aware_side

__all__ = [
    "bm25_topk",
    "rrf_fuse",
    "tfidf_topk_terms",
    "micro_sim",
    "micro_sim_sql",
    "mmr_select",
]


def tfidf_topk_terms(docs: DataFrame) -> DataFrame:
    """Per-document top-3 terms by TF-IDF of ``(doc_id, text)`` documents —
    the keyword-extraction / feature-selection complement to
    :func:`bm25_topk` (which scores docs for a query; this scores terms for
    a doc).

    Determinism for oracle parity: idf is floored to integer micro-nats
    per TERM (``floor(ln(N/df) * 1e6)``, the repo's standard trick — one
    rounding per term type, so ``score_micro = tf * idf_micro`` is exact
    integer arithmetic everywhere downstream), and ranking tie-breaks on
    the term string.

    Plan shape: explode → tf groupBy on (doc, term) — the natural key, one
    shuffle proportional to corpus tokens; df is a second aggregation of
    the already-small tf table; the one-row corpus count rides a broadcast
    and the per-term idf table joins size-aware up to 2M terms
    (:func:`~zip_to_parquet_spark.runtime.size_aware_side` — a 100 TB
    vocabulary falls back to a shuffle join on the term key instead of
    blowing the broadcast limit). Top-k per doc is a window over the doc's
    own terms only.
    """
    tok = docs.select(
        F.col("doc_id"), F.explode(words(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf_tbl = df_tbl.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        F.floor(
            F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            * 1e6
        )
        .cast("bigint")
        .alias("idf_micro"),
    )
    idf_side = size_aware_side(idf_tbl, df_tbl, 2_000_000)
    scored = tf.join(idf_side, "term").select(
        F.col("doc_id"),
        "term",
        "tf",
        "idf_micro",
        (F.col("tf") * F.col("idf_micro")).cast("bigint").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "idf_micro", "score_micro", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str] | DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k ``(doc_id, text)`` documents by BM25 score (k1 = 1.2,
    b = 0.75) for a bag of query terms.

    Returns (doc_id, score, rank) for documents matching ≥1 term. The
    corpus stats (N, avgdl) ride a single-row broadcast join — no
    driver-side action; the df table is per-query-term (tiny) and also
    broadcasts.

    ``terms`` may be a Python list (static query) or a single-column
    DataFrame named ``t`` (dynamic query — e.g. pseudo-relevance-feedback
    expansion terms computed in-plan). The DataFrame form filters tokens
    via a broadcast semi join, so a data-dependent query never round-trips
    through the driver."""
    base = docs.select(
        F.col("doc_id"), F.size(words(F.col("text"))).cast("bigint").alias("dl")
    )
    stats = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tok = docs.select(
        F.col("doc_id"), F.explode(words(F.col("text"))).alias("t")
    )
    if isinstance(terms, DataFrame):
        tok = tok.join(F.broadcast(terms.select("t").distinct()), "t", "semi")
    else:
        tok = tok.filter(F.col("t").isin(*terms))
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").cast("bigint").alias("tf"))
    df_tbl = tf.groupBy("t").agg(F.count("*").cast("bigint").alias("df"))

    scored = (
        tf.join(F.broadcast(df_tbl), "t")
        .join(base, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = idf * (
        F.col("tf") * 2.2
    ) / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    per_term = scored.select(F.col("doc_id"), F.col("t"), contrib.alias("c"))
    # Sequential, term-ordered fold: array_sort on (t, c) structs orders by
    # term; aggregate adds left-to-right — same doubles in any engine.
    per_doc = (
        per_term.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", "c"))).alias("cs"))
        .select(
            F.col("doc_id"),
            F.round(
                F.aggregate(
                    "cs", F.lit(0.0), lambda acc, x: acc + x.getField("c")
                ),
                6,
            ).alias("score"),
        )
    )
    # Global top-k via orderBy+limit (Spark's distributed TakeOrdered —
    # each partition contributes its local top-k, no single-partition
    # window over all matching docs); the rank window then runs over just
    # k rows.
    top = per_doc.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def rrf_fuse(rankings: dict[str, DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of named
    rankings → top 20 (doc_id, rank_<name>..., rrf_micro, fused_rank).

    Each input is a bounded top-n list (doc_id, rank). The fused score is
    the classic RRF sum Σ 1/(60 + rank) held EXACT as integers:
    ``10⁹ div (60 + rank)`` is truncating integer division of positive
    ints — identical in any engine — so the fusion carries a full value
    oracle (a float RRF sum would be summation-order-dependent). A doc
    missing from a list contributes 0 (standard RRF).

    Scale shape: every input is already a top-n list (bounded rows by
    contract — the expensive ranking work happened upstream with its own
    scale story), so the full-outer joins here are between tiny relations
    and the final TakeOrdered is over ≤ Σn rows. No corpus-sized data
    moves through this operator.
    """
    fused = None
    contribs = []
    for name, df in rankings.items():
        r = df.select(
            F.col("doc_id"),
            F.col("rank").cast("bigint").alias(f"rank_{name}"),
        )
        fused = r if fused is None else fused.join(r, "doc_id", "full_outer")
        contribs.append(
            F.coalesce(
                F.expr(f"1000000000 div (60 + rank_{name})"), F.lit(0).cast("bigint")
            )
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    out = fused.withColumn("rrf_micro", score.cast("bigint"))
    top = out.orderBy(F.col("rrf_micro").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return top.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))


def micro_sim(a, b):
    """Cosine similarity as exact integer micro-units (1e-6), the repo's
    cross-engine-stable similarity representation: round to 6 decimals
    (absorbs last-ulp libm noise), scale, round again, cast long. The
    DuckDB twin is :func:`micro_sim_sql` — verified 499/499 exact on the
    embeddings fixture."""
    from zip_to_parquet_spark.operators.vectors import cosine

    return (
        F.round(F.round(cosine(a, b), 6) * 1000000, 0).cast("long")
    )


def micro_sim_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`micro_sim` over list expressions ``a``, ``b``."""
    return (
        f"CAST(round(round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6) * 1000000) AS BIGINT)"
    )


def mmr_select(
    cand: DataFrame,
    pairs: DataFrame,
    k: int,
    lam_tenths: int = 7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    over a BOUNDED candidate set: greedily pick k items maximizing
    ``λ·relevance − (1−λ)·max_{s∈picked} sim(item, s)``, with λ in integer
    tenths so every score is exact 64-bit integer arithmetic
    (score = lam·rel − (10−lam)·red, a 10×-scaled MMR objective —
    monotone, so the argmax sequence is identical to the fractional
    form). Ties break on ascending item id, the repo's ranking rule.

    ``cand``: (n_id long, rel_micro long) — the relevance-ranked
    candidate pool (top-N from a first-stage retriever; N is a user
    parameter, small by the same contract as ANN query batches).
    ``pairs``: (a_id, b_id, psim_micro) — pairwise similarities within
    the pool (N² rows of integers — for N=20 that is 380 rows).

    Scale shape: the greedy selection is inherently sequential in k, so
    it runs as k UNROLLED DataFrame iterations (the PageRank pattern:
    each pick is a 1-row localCheckpoint, keeping the lineage flat) over
    the N-row pool — never over the corpus. The heavy, distributed part
    of MMR is producing ``cand``/``pairs`` (first-stage scoring), which
    stays map-only + TakeOrdered upstream.
    """
    if not 0 <= lam_tenths <= 10:
        raise ValueError(f"lam_tenths must be in [0, 10], got {lam_tenths}")
    mu = 10 - lam_tenths
    cand = cand.localCheckpoint(eager=True)
    pairs = pairs.localCheckpoint(eager=True)

    first = (
        cand.select(
            F.lit(1).alias("pick_order"),
            "n_id",
            "rel_micro",
            (F.lit(lam_tenths) * F.col("rel_micro")).alias("mmr_score"),
        )
        .orderBy(F.col("mmr_score").desc(), "n_id")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    picks = [first]
    sel = first.select("n_id")
    for i in range(2, k + 1):
        remaining = cand.join(sel, "n_id", "left_anti")
        red = (
            pairs.join(sel, pairs.b_id == sel.n_id)
            .groupBy(F.col("a_id").alias("n_id"))
            .agg(F.max("psim_micro").alias("red_micro"))
        )
        # LEFT join: a candidate with no pairs row against any picked item
        # has zero redundancy by definition — an inner join would silently
        # drop it from the argmax (it should, if anything, WIN on sparse
        # similarity graphs).
        nxt = (
            remaining.join(red, "n_id", "left")
            .withColumn("red_micro", F.coalesce("red_micro", F.lit(0)))
            .select(
                F.lit(i).alias("pick_order"),
                "n_id",
                "rel_micro",
                (
                    F.lit(lam_tenths) * F.col("rel_micro")
                    - F.lit(mu) * F.col("red_micro")
                ).alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), "n_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(nxt)
        sel = sel.unionAll(nxt.select("n_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out
