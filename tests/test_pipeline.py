"""Dataset-assembly operators (operators/pipeline.py): oracle parity at
sf0.001 plus semantic unit checks of packing, splitting, quality gating,
and repetition stats."""

from __future__ import annotations

from pyspark.sql import Row

from zip_to_parquet_spark.operators.pipeline import (
    gopher_quality,
    pack_greedy_contiguous,
    repetition_stats,
    train_val_test_split,
)
from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

from tests.parity import compare

KEYS = [
    "pack_sequences",
    "dataset_split",
    "quality_gopher_rules",
    "repetition_ratios",
]


def test_new_queries_match_oracle(spark, sf_dir):
    qs, oracles = all_queries(), all_oracle_sql()
    for key in KEYS:
        compare(spark, sf_dir, qs[key], oracles[key])


def test_pack_contiguous_semantics(spark):
    # One shard (ids ≡ 0 mod 32), ctx=10. Lengths 4,4,4 → the third doc
    # starts at token 8 and STRADDLES the bin boundary: bin_id is where its
    # first token lands (0), offset 8.
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a b c d"), Row(doc_id=32, text="a b c d"),
         Row(doc_id=64, text="a b c d")]
    )
    out = {r.doc_id: (r.bin_id, r.bin_offset)
           for r in pack_greedy_contiguous(df, ctx=10).collect()}
    assert out == {0: (0, 0), 32: (0, 4), 64: (0, 8)}
    # Fourth doc starts at 12 → bin 1, offset 2.
    df2 = df.union(spark.createDataFrame([Row(doc_id=96, text="x y")]))
    out2 = {r.doc_id: (r.bin_id, r.bin_offset)
            for r in pack_greedy_contiguous(df2, ctx=10).collect()}
    assert out2[96] == (1, 2)


def test_pack_shards_independent(spark):
    # Docs in different shards never share a running sum.
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="a b c")]
    )
    out = {r.doc_id: (r.shard, r.bin_id, r.bin_offset)
           for r in pack_greedy_contiguous(df, ctx=10).collect()}
    assert out == {1: (1, 0, 0), 2: (2, 0, 0)}


def test_split_deterministic_and_complete(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = train_val_test_split(df).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    # md5 prefixes are uniform: train ≈ 79.7%, val/test ≈ 10% each.
    assert 0.74 <= counts["train"] / 2000 <= 0.85
    # Rerun gives the identical assignment (no RNG anywhere).
    again = {(r.doc_id, r.split)
             for r in train_val_test_split(df).collect()}
    first = {(r.doc_id, r.split)
             for r in train_val_test_split(df).collect()}
    assert again == first


def test_gopher_gate_bounds(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the " + "table value scan " * 10),  # passes
            Row(doc_id=2, text="short doc the end"),  # < 15 words
            Row(doc_id=3, text=("supercalifragilistic " * 20).strip()),  # mean len > 10
            Row(doc_id=4, text="table value scan " * 10),  # no stopwords
        ]
    )
    out = {r.doc_id: r.passes for r in gopher_quality(df).collect()}
    assert out == {1: True, 2: False, 3: False, 4: False}


def test_repetition_stats_crafted(spark):
    df = spark.createDataFrame(
        [
            # "x x x x" — top word 4/4, top bigram "x x" 3/3.
            Row(doc_id=1, text="x x x x"),
            # all distinct words and bigrams: 1/4 and 1/3.
            Row(doc_id=2, text="a b c d"),
        ]
    )
    out = {r.doc_id: (r.n_words, r.top_word_frac, r.n_bigrams, r.top_bigram_frac)
           for r in repetition_stats(df).collect()}
    assert out[1] == (4, 1.0, 3, 1.0)
    assert out[2] == (4, 0.25, 3, 1.0 / 3.0)


def test_dsir_separates_target_domain(spark):
    """DSIR importance weights must rank target-domain documents above the
    rest on average (the resampling property the scores exist for), and
    n_features must equal unigrams + bigrams = 2*len - 1."""
    import pyspark.sql.functions as F

    from zip_to_parquet_spark.operators.pipeline import dsir_scores
    from zip_to_parquet_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = dsir_scores(docs, target_pred=F.col("source") == "src0")
    joined = scored.join(docs.select("doc_id", "source"), "doc_id")
    means = {
        r["is_t"]: r["m"]
        for r in joined.groupBy((F.col("source") == "src0").alias("is_t"))
        .agg(F.avg("dsir_micro_nats").alias("m"))
        .collect()
    }
    assert means[True] > means[False], means
    bad = (
        scored.join(docs, "doc_id")
        .filter(
            F.col("n_features")
            != 2 * F.size(F.split(F.col("text"), " ")) - 1
        )
        .count()
    )
    assert bad == 0


def test_contrastive_negatives_contract(spark):
    # No pick is the anchor itself or a jaccard-0.8 near-dup of it; at
    # most 2 picks per anchor, numbered in try order; fully deterministic
    # across runs.
    from zip_to_parquet_spark.operators.dedupe import (
        ngram_jaccard_pairs,
        shingle_sets,
    )
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table

    sf = "/root/testdata/sf0.001"
    out = all_queries()["contrastive_negative_pairs"](spark, sf)
    rows = out.collect()
    assert all(r.neg_id != r.anchor_id for r in rows)
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r.anchor_id, []).append((r.pick_no, r.try_no))
    for picks in per_anchor.values():
        assert len(picks) <= 2
        assert [p for p, _ in sorted(picks)] == list(range(1, len(picks) + 1))
    docs = load_table(spark, sf, "documents")
    nd = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(shingle_sets(docs), threshold=0.8)
        .select("doc_a", "doc_b")
        .collect()
    }
    nd |= {(b, a) for a, b in nd}
    assert not any((r.anchor_id, r.neg_id) in nd for r in rows)
    rows2 = all_queries()["contrastive_negative_pairs"](spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
