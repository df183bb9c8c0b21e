"""Dataset-assembly operators for LLM training pipelines: sequence
packing, deterministic splits, quality gates, repetition statistics.

All four stay JVM-side (Catalyst expressions + keyed shuffles); none needs
Python in the row path. Scale notes per operator — the packing window runs
per shard (never a global sort), the split is a stateless map, the quality
gate is map-only, and repetition stats shuffle on (doc_id, token) whose
cardinality grows with the corpus (no skewable low-cardinality key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zip_to_parquet_spark.operators.textops import (
    EN_STOPWORDS,
    word_shingles,
    words,
)
from zip_to_parquet_spark.runtime import size_aware_side

__all__ = [
    "pack_greedy_contiguous",
    "train_val_test_split",
    "md5_split",
    "gopher_quality",
    "gopher_signal_cols",
    "repetition_stats",
    "decontaminate_ngrams",
    "pii_redact",
    "PII_PATTERNS",
    "dsir_scores",
    "unigram_surprisal",
    "bigram_surprisal",
    "word_pairs",
    "snapshot_delta",
    "curriculum_buckets",
]


def pack_greedy_contiguous(df: DataFrame, ctx: int = 512) -> DataFrame:
    """Contiguous-fill sequence packing: concatenate ``(doc_id, text)``
    documents in id order within one of 32 shards and cut every ``ctx``
    tokens (documents may straddle a
    boundary — the GPT-style pretraining packer, as opposed to first-fit
    bin packing which never splits but shuffles per bin).

    100 TB shape: the running-sum window partitions by ``id % 32``, so no
    global sort and no single-partition window; each shard packs
    independently. Output is one
    row per document: its shard, token length, the bin (context window)
    its first token lands in, and its token offset within that bin — all
    integer arithmetic, exactly reproducible in SQL.
    """
    tok = F.size(words(F.col("text"))).cast("bigint")
    shard = (F.col("doc_id") % 32).cast("int")
    w = Window.partitionBy("shard").orderBy("doc_id")
    d = df.select(F.col("doc_id"), shard.alias("shard"), tok.alias("token_len"))
    start = (F.sum("token_len").over(w) - F.col("token_len")).alias("start_tok")
    d = d.select("doc_id", "shard", "token_len", start)
    return d.select(
        "doc_id",
        "shard",
        "token_len",
        F.floor(F.col("start_tok") / ctx).cast("bigint").alias("bin_id"),
        (F.col("start_tok") % ctx).cast("bigint").alias("bin_offset"),
    )


def train_val_test_split(df: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment from the first two hex chars
    of md5(doc_id): < 'cc' → train (0xcc/0x100 ≈ 79.7%), < 'e6' → val
    (≈ 10.2%), else test. Stateless map — no shuffle, no RNG, stable under
    reruns and repartitioning, and any engine with md5 reproduces it
    byte-for-byte (the property that matters when train/test membership
    must never drift across pipeline versions).
    """
    bucket, split = md5_split(F.col("doc_id"))
    return df.select(F.col("doc_id"), bucket.alias("bucket"), split.alias("split"))


def md5_split(key: Column) -> tuple[Column, Column]:
    """``(bucket, split)`` columns of :func:`train_val_test_split` for any
    key expression: ``bucket`` the first two hex chars of md5(key), and
    ``split`` 'train' / 'val' / 'test' by the hex cut points 'cc' and
    'e6'."""
    bucket = F.substring(F.md5(key.cast("string").cast("binary")), 1, 2)
    return bucket, (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
    )


def gopher_signal_cols(text_col):
    """The gate's signal columns (n_words, mean_word_len, stop_frac,
    passes) as expressions over ``text_col`` — the ONE definition of the
    verdict, shared by :func:`gopher_quality` and the distilled-classifier
    weak labels (operators/classify.py). Any bound change must also change
    the trainer's pure-Python label replica and the registered oracles."""
    w = words(text_col)
    n = F.size(w)
    mean_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    ) / F.greatest(n, F.lit(1))
    stop_frac = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS))) / F.greatest(
        n, F.lit(1)
    )
    passes = (
        (n >= 15) & (n <= 100000) & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (stop_frac > 0.0)
    )
    return n, mean_len, stop_frac, passes


def gopher_quality(df: DataFrame) -> DataFrame:
    """Gopher-style quality gate over ``(doc_id, text)`` documents (Rae et
    al. 2021, §A1.1 spirit):
    word count bounds, mean word length bounds, stopword presence. Map-only
    Catalyst — every signal is a higher-order function over the in-row word
    array, so the gate runs inside the scan stage at any scale.

    Ratios are emitted unrounded (int/int division is bit-exact across
    engines); the boolean verdict composes the bounds.
    """
    n, mean_len, stop_frac, passes = gopher_signal_cols(F.col("text"))
    return df.select(
        F.col("doc_id"),
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        stop_frac.alias("stop_frac"),
        passes.alias("passes"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Repetition ratios per ``(doc_id, text)`` document: the fraction of
    tokens taken by the most frequent token, and of bigrams by the most
    frequent bigram — the Gopher/C4 repetitive-content signals (high values
    flag boilerplate and degenerate generation loops).

    Shape: explode → groupBy(doc_id, gram) → groupBy(doc_id). Both
    shuffles key on (doc_id, gram) / doc_id — cardinality grows with the
    corpus, no hot key, partial aggregation applies map-side. Fractions
    are int/int, bit-exact across engines.
    """
    base = df.select(F.col("doc_id"), words(F.col("text")).alias("w"))

    def top_frac(grams: DataFrame, out: str) -> DataFrame:
        return (
            grams.groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                (F.max("c") / F.sum("c")).alias(out),
                F.sum("c").alias(f"n_{out}"),
            )
        )

    uni = top_frac(
        base.select("doc_id", F.explode("w").alias("g")), "top_word_frac"
    ).withColumnRenamed("n_top_word_frac", "n_words")
    big = top_frac(
        base.select(
            "doc_id", F.explode(word_shingles(F.col("w"), n=2)).alias("g")
        ),
        "top_bigram_frac",
    ).withColumnRenamed("n_top_bigram_frac", "n_bigrams")
    return uni.join(big, "doc_id").select(
        "doc_id", "n_words", "top_word_frac", "n_bigrams", "top_bigram_frac"
    )


def decontaminate_ngrams(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision: flag every
    training ``(doc_id, text)`` document sharing at least one 4-word
    shingle with the eval set, with the count of distinct shared shingles.

    The standard pre-training hygiene step (GPT-3 appendix C / PaLM-style
    13-gram overlap, here with 4-grams). Plan shape for 100 TB: the eval
    side (a benchmark suite — megabytes, not terabytes) collapses to a
    DISTINCT gram set and is broadcast, so the training side never
    shuffles: scan → in-row shingling (codegen HOFs, no explode until the
    gram join) → broadcast-hash semi-style join → per-doc count. Training
    grams are deduped in-row (`array_distinct`) and eval grams globally,
    so a plain `count(*)` after the join IS the distinct-collision count —
    no count_distinct re-shuffle."""
    gram = lambda: F.explode(  # noqa: E731
        F.array_distinct(word_shingles(words(F.col("text")), 4))
    ).alias("gram")
    tg = train.select(F.col("doc_id"), gram())
    eg = F.broadcast(eval_df.select(gram()).distinct())
    return (
        tg.join(eg, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


# (label, java-and-RE2-compatible pattern) — kept to constructs whose
# semantics agree between Spark's java.util.regex and DuckDB's RE2 so
# redaction is oracle-checkable byte-for-byte.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_redact(df: DataFrame) -> DataFrame:
    """Redact PII-shaped spans (emails, IPv4 addresses, dashed phone
    numbers) in ``text`` and count hits per pattern. Map-only Catalyst
    ``regexp_count`` / ``regexp_replace`` chain — stays inside
    whole-stage codegen, embarrassingly parallel at any scale. Patterns
    apply in declaration order; counts are taken on the incoming text
    (the patterns cannot produce one another's matches)."""
    out = df
    redacted = F.col("text")
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col("text"), F.lit(pat)))
        redacted = F.regexp_replace(redacted, pat, token)
    return out.withColumn("redacted", redacted)


def mixture_sample(df: DataFrame, threshold_hex: Column) -> DataFrame:
    """Deterministic per-source mixture sampling: keep a row iff the
    first md5 byte of ``source:doc_id`` sorts below the row's (hex-string)
    threshold — ``'80'`` keeps ≈50%, ``'20'`` ≈12.5%. The per-source
    rate column expresses the mixture weights of a training-data recipe
    (e.g. upsample curated sources, downsample crawl).

    Same md5-prefix discipline as train_val_test_split: stateless map,
    no RNG, stable under reruns/repartitioning, reproducible by any
    engine with md5 — membership never drifts across pipeline versions.
    Map-only at any scale."""
    bucket = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col("source"), F.col("doc_id").cast("string")
            ).cast("binary")
        ),
        1,
        2,
    )
    return (
        df.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold_hex)
    )


def clean_text(df: DataFrame) -> DataFrame:
    """Normalization pass every training corpus runs first: strip control
    characters from ``text``, collapse runs of whitespace to single
    spaces, trim and lowercase. Pure Catalyst regexp/string chain —
    map-only codegen at any scale; appends a ``clean`` column.

    The whitespace class is spelled explicitly ([ \\t\\n\\r\\f]) rather
    than \\s because Java regex includes \\x0B in \\s and RE2 does not —
    the explicit class keeps Spark and DuckDB byte-identical."""
    c = F.regexp_replace(F.col("text"), r"[\x00-\x08\x0b-\x1f\x7f]", "")
    c = F.regexp_replace(c, r"[ \t\n\r\f]+", " ")
    return df.withColumn("clean", F.lower(F.trim(c)))


def dsir_scores(df: DataFrame, target_pred: Column) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how much its hashed n-gram profile looks like a target domain vs the
    rest of the corpus; training-data selection then keeps/resamples the
    top-scoring ``(doc_id, text)`` docs.

    Features are unigrams + bigrams hashed into 256 buckets
    (md5-prefix hash — canonical across engines). Both bucket
    distributions get add-one smoothing; a document's raw score is
    Σ_features ln(p_target[b(f)] / p_rest[b(f)]).

    Cross-engine determinism: floating-point ADDITION order inside a
    distributed sum is nondeterministic, so summing per-feature log
    ratios as doubles would not hash-match an oracle. Instead each
    bucket's log ratio is floored to integer MICRO-nats once (floor is
    exact for identical IEEE inputs, and ln/division on identical doubles
    are bit-identical under IEEE), and documents sum those integers —
    an order-free exact aggregation. Output ``dsir_micro_nats`` is that
    integer score; divide by 1e6 for nats.

    Scale shape: the bucket table is O(256) — two groupBy passes
    over exploded features (uniform md5 keys), then a broadcast join of
    the tiny log-ratio table against the feature stream and one integer
    sum per doc. Map-side combine does the heavy lifting; no skew, no
    driver-side state.
    """
    feats = F.concat(words(F.col("text")), word_shingles(words(F.col("text")), 2))
    base = df.select(
        "doc_id",
        target_pred.alias("is_target"),
        F.explode(feats).alias("f"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("long") % 256,
    )
    dist = base.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("cr"),
    )
    totals = dist.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lr = dist.crossJoin(F.broadcast(totals)).select(
        "b",
        F.floor(
            (
                F.log((F.col("ct") + 1) / (F.col("tt") + 256))
                - F.log((F.col("cr") + 1) / (F.col("tr") + 256))
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return (
        base.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("lr_micro").alias("dsir_micro_nats"),
        )
    )


def unigram_surprisal(
    df: DataFrame, broadcast_max_types: int | None = 2_000_000
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020 filter
    documents by LM perplexity) of ``(doc_id, text)`` documents, with the LM
    reduced to the largest model whose training is one distributed pass: a
    corpus-fit unigram LM with add-one smoothing. Low mean surprisal ≈
    typical text; high ≈ noise/outliers — the same accept/reject signal
    shape CCNet gets from its KenLM 5-gram.

    Per-token surprisal -ln p(w) is floored to integer micro-nats once
    per TYPE, so each document's total is an order-free integer sum
    (same cross-engine-determinism trick as dsir_scores). Output:
    (doc_id, n_tokens, surprisal_micro, mean_surprisal).

    Scale shape: one groupBy over exploded tokens builds the vocab
    table (uniform keys), which joins back against the token stream;
    one integer sum per doc. Map-side combine carries the load. The
    vocab join is SIZE-AWARE: a bounded driver probe counts distinct
    types up to ``broadcast_max_types``+1 and force-broadcasts the
    vocab only when it is under the threshold; above it (a 100 TB
    corpus's vocab will not fit the 8 GB broadcast limit) the join
    falls back to a plain shuffle join on the uniform token key.
    ``broadcast_max_types=None`` skips the probe and leaves the choice
    to AQE.
    """
    toks = df.select("doc_id", F.explode(words(F.col("text"))).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    stats = vocab.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("v")
    )
    surp = vocab.crossJoin(F.broadcast(stats)).select(
        "w",
        F.floor(
            -F.log((F.col("c") + 1) / (F.col("total") + F.col("v"))) * 1e6
        )
        .cast("long")
        .alias("s_micro"),
    )
    surp_side = size_aware_side(surp, vocab, broadcast_max_types)
    return (
        toks.join(surp_side, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("s_micro").alias("surprisal_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "surprisal_micro",
            # Division order mirrored exactly in the oracle SQL.
            ((F.col("surprisal_micro") / 1e6) / F.col("n_tokens")).alias(
                "mean_surprisal"
            ),
        )
    )


def bigram_surprisal(df: DataFrame) -> DataFrame:
    """Interpolated bigram-LM surprisal of ``(doc_id, text)`` documents —
    one Markov order up from
    ``unigram_surprisal``, the next step toward CCNet's KenLM 5-gram
    (Wenzek et al. 2020) while training stays two distributed counting
    passes. Per transition:

        p(w2 | w1) = 0.9 · c(w1 w2)/c(w1) + 0.1 · (c(w2)+1)/(total+V)

    — fixed-weight Jelinek-Mercer interpolation with the add-one unigram
    as the backoff floor, so unseen-in-context words never zero out. The
    0.9/0.1 weights are DOUBLE literals mirrored in the oracle (never
    ``1 - λ`` computed at runtime: IEEE 1.0-0.9 ≠ literal 0.1).

    Cross-engine determinism, same discipline as the unigram scorer:
    -ln p is floored to integer micro-nats once per bigram TYPE (all
    inputs to ln are identical doubles in both engines — integer counts
    through identical division/multiply/add order), and each document
    sums those integers — order-free exact aggregation. Output:
    (doc_id, n_bigrams, surprisal_micro, mean_surprisal); documents with
    fewer than two tokens have no transitions and drop out (mirrored in
    the oracle's join-aggregate).

    Scale shape: two groupBys over exploded tokens/transitions (uniform
    keys, map-side combine), a three-way type-table join (bigram types ×
    two unigram lookups — all type-cardinality, not corpus-cardinality),
    then the SIZE-AWARE join of scored types back against the transition
    stream (``runtime.size_aware_side`` with a 2M-type broadcast limit:
    bigram types outgrow broadcast far sooner than vocabularies — the
    probe matters more here, not less).
    """
    docs = df.select("doc_id", words(F.col("text")).alias("ws"))
    toks = docs.select("doc_id", F.explode("ws").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    stats = uni.agg(F.sum("c").alias("total"), F.count(F.lit(1)).alias("v"))
    pairs = word_pairs(docs, ["doc_id"])
    bgt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bgt.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            "w2",
            F.floor(
                -F.log(
                    F.lit(0.9) * (F.col("c12") / F.col("c1"))
                    + F.lit(0.1)
                    * ((F.col("c2") + 1) / (F.col("total") + F.col("v")))
                )
                * 1e6
            )
            .cast("long")
            .alias("s_micro"),
        )
    )
    side = size_aware_side(scored, bgt, 2_000_000)
    return (
        pairs.join(side, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s_micro").alias("surprisal_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "surprisal_micro",
            # Division order mirrored exactly in the oracle SQL.
            ((F.col("surprisal_micro") / 1e6) / F.col("n_bigrams")).alias(
                "mean_surprisal"
            ),
        )
    )


def word_pairs(df: DataFrame, keep: list[str]) -> DataFrame:
    """Explode the token array column ``ws`` of ``df`` into its word
    transitions → ``(*keep, w1, w2)``, one row per adjacent token pair;
    arrays shorter than two tokens give no rows."""
    n1 = F.size("ws") - 1
    return df.select(
        *keep,
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n1),
                F.slice("ws", 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select(*keep, "p.w1", "p.w2")


def simulated_refresh(docs: DataFrame) -> DataFrame:
    """The repo's ONE deterministic simulated corpus refresh, shared by
    every snapshot-pair query (corpus_snapshot_delta,
    matview_incremental_refresh, dq_distribution_drift): removals
    (doc_id % 13 = 0 dropped), in-place edits (doc_id % 7 = 3 appends
    ' updated'), and arrivals (doc_id % 17 = 5 re-ingested under
    doc_id + 1_000_000 with a 'new ' prefix). Keeping the edit set in
    one function (and its SQL twin in :func:`simulated_refresh_sql`)
    is what makes the cross-query "same planted refresh" guarantee a
    fact rather than a convention. Columns other than doc_id/text pass
    through unchanged."""
    from pyspark.sql import functions as F

    others = [c for c in docs.columns if c not in ("doc_id", "text")]
    edited = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        *others,
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" updated"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    arrivals = docs.filter(F.col("doc_id") % 17 == 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        *others,
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    return edited.unionByName(arrivals)


def simulated_refresh_sql(extra_cols: str = "") -> str:
    """DuckDB twin of :func:`simulated_refresh` — the body of a ``new``
    CTE over the ``documents`` view. ``extra_cols`` is an optional
    'col,' prefix list passed through both branches (e.g. ``"source,"``)."""
    return f"""
      SELECT doc_id, {extra_cols}
             CASE WHEN doc_id % 7 = 3 THEN text || ' updated' ELSE text END
               AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, {extra_cols} 'new ' || text AS text
      FROM documents WHERE doc_id % 17 = 5
    """


def snapshot_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Change-data-capture between two ``(doc_id, text)`` corpus snapshots —
    the refresh primitive of a living training corpus (monthly crawl drops,
    takedown removals, re-extraction fixes): per document id, status ∈ added
    / removed / changed / unchanged plus both content hashes, so downstream
    stages re-process exactly the added ∪ changed slice instead of the whole
    corpus.

    Shape: map-side sha256 content fingerprints (never ship the text),
    one full-outer equi-join on the id — uniform key, sort-merge at TB
    scale; bucket both snapshots on the id for shuffle-free recurring
    refreshes (sinks.write_bucketed_table). Output is one row per id in
    either snapshot.
    """
    o = old.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("old_sha")
    )
    n = new.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("new_sha")
    )
    status = (
        F.when(F.col("old_sha").isNull(), "added")
        .when(F.col("new_sha").isNull(), "removed")
        .when(F.col("old_sha") == F.col("new_sha"), "unchanged")
        .otherwise("changed")
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select("doc_id", "old_sha", "new_sha", status.alias("status"))
    )


def curriculum_buckets(df: DataFrame) -> DataFrame:
    """Equi-depth difficulty bucketing for curriculum-ordered training:
    bucket ``(doc_id, text)`` documents into 10 quantile bins of token count
    (easy→hard) plus a deterministic intra-bucket shuffle key. Consumers
    ``orderBy(bucket, shuffle_key)`` — a distributed range sort, NOT a
    global row_number window (which would funnel the corpus through one
    partition; the sort is the scalable total order).

    Exact, engine-portable quantiles with NO floating interpolation:
    thresholds come from the cumulative distribution of DISTINCT token
    counts — t_q = min value whose running count reaches
    ``ceil(q·N / 10)`` (integer arithmetic only, the
    percentile_disc definition). The distinct-value table is tiny
    relative to the corpus (bounded by max document length), so its
    single-partition cumulative window is a constant-size step at any
    corpus scale; the per-document bucket assignment is a map against the
    broadcast one-row threshold array.
    """
    n_buckets = 10
    d = df.select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    vc = d.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.select(
        "n_tokens", F.sum("c").over(w).alias("cum"), F.sum("c").over(
            Window.partitionBy()
        ).alias("n")
    )
    thr = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(f"({q} * n + {n_buckets - 1}) div {n_buckets}"),
                    F.col("n_tokens"),
                )
            ).alias(f"t{q}")
            for q in range(1, n_buckets)
        ]
    )
    bucket = F.lit(1)
    for q in range(1, n_buckets):
        bucket = bucket + F.when(
            F.col("n_tokens") > F.col(f"t{q}"), 1
        ).otherwise(0)
    return d.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        bucket.cast("int").alias("bucket"),
        F.md5(F.concat(F.lit("cur"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )


def ivm_refresh(v1: DataFrame, v2: DataFrame) -> DataFrame:
    """Incremental view maintenance of a per-``source`` (count, chars)
    aggregate of ``(doc_id, source, text)`` rows across a snapshot change,
    via TRUE multiset insert/retract algebra: snapshots reduce to per-(id,
    group, sha256(text)) MULTIPLICITIES, and the delta per key is c₂ − c₁ —
    so duplicate rows (a snapshot written twice, an append glitch) and group
    moves (same id, same text, new group) both maintain correctly; the
    refreshed view is base ⊕ Σ(count-weighted deltas), dropping zero-count
    groups. (The earlier set-based anti-join form missed both cases — each
    found by the randomized pytest.) Equals a full recomputation over v2 by
    construction (and by the driver oracle + randomized pytest).

    Scale shape: one per-key count aggregate per snapshot
    (map-combinable), ONE full-outer equi-join on the key whose output
    is filtered to the change set before the group rollup, and the base
    aggregate is group-cardinality-sized. The new snapshot is never
    rescanned into a full aggregate."""
    from pyspark.sql import functions as F

    def keyed(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col("doc_id").alias("_id"),
                F.col("source").alias("_grp"),
                F.sha2(F.col("text"), 256).alias("_sha"),
                F.length("text").cast("long").alias("_chars"),
            )
            .groupBy("_id", "_grp", "_sha")
            .agg(
                F.count(F.lit(1)).alias("_c"),
                # identical across copies (same sha)
                F.max("_chars").alias("_chars"),
            )
        )

    k1, k2 = keyed(v1), keyed(v2)
    j = k1.selectExpr(
        "_id", "_grp", "_sha", "_c AS _c1", "_chars AS _ch1"
    ).join(
        k2.selectExpr("_id", "_grp", "_sha", "_c AS _c2", "_chars AS _ch2"),
        ["_id", "_grp", "_sha"],
        "full_outer",
    )
    delta = (
        j.withColumn(
            "_dn", F.coalesce("_c2", F.lit(0)) - F.coalesce("_c1", F.lit(0))
        )
        .filter(F.col("_dn") != 0)  # only the change set reaches the rollup
        .groupBy("_grp")
        .agg(
            F.sum("_dn").alias("_d_docs"),
            F.sum(F.col("_dn") * F.coalesce("_ch1", "_ch2")).alias("_d_chars"),
        )
    )
    base = k1.groupBy("_grp").agg(
        F.sum("_c").alias("_n_docs"),
        F.sum(F.col("_c") * F.col("_chars")).alias("_t_chars"),
    )
    return (
        base.join(delta, "_grp", "full_outer")
        .select(
            F.col("_grp").alias("source"),
            (
                F.coalesce("_n_docs", F.lit(0)) + F.coalesce("_d_docs", F.lit(0))
            ).alias("n_docs"),
            (
                F.coalesce("_t_chars", F.lit(0))
                + F.coalesce("_d_chars", F.lit(0))
            ).alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )
