"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, join strategy, shuffle counts) must not silently rot.

These parse `explain("formatted")` output — the same artifact a human
would eyeball — so a Catalyst upgrade or operator edit that loses a
pushed filter or turns a broadcast join into a shuffle join fails CI."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from zip_to_parquet_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffles(plan: str) -> int:
    """Count physical Exchange operators (each appears once as a numbered
    detail header), excluding reuse."""
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_q6_full_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # Every predicate reaches the scan...
    assert "PushedFilters:" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters:" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed down: {pushed}"
    # ...and the read schema is pruned to exactly the referenced columns.
    read = next(l for l in plan.splitlines() if "ReadSchema:" in l)
    assert "l_extendedprice" in read
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "join_broadcast_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zip_pipeline_is_shuffle_free(spark):
    # The reference-parity pipeline is embarrassingly parallel: scan →
    # project → (no shuffle anywhere). SURVEY §3.
    plan = plan_of(spark, "zip_explode_hash")
    assert "Exchange" not in plan


def test_q1_single_shuffle(spark):
    # Scan → partial agg → ONE exchange → final agg. More exchanges means
    # the partial aggregation (map-side combine) got lost.
    plan = plan_of(spark, "q1_pricing_summary")
    assert n_shuffles(plan) <= 1


def test_minhash_banding_has_no_cross_join(spark):
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_candidates_materialized_once(spark):
    # r14: the candidate pair set is localCheckpointed inside
    # minhash_lsh_pairs_docs — before that, the three downstream
    # consumers (pair join + both cand_ids legs) re-expanded the
    # corpus-signature subtree, 10 ArrowEvalPython copies in the static
    # plan (plans/r14/dedup_minhash_lsh_before.txt; measured 1.87 →
    # 1.55 s steal-clean at sf0.1, OPTIMIZATION_r14.md §4). The final
    # plan must read the materialized candidates (ExistingRDD) and hold
    # ZERO banding-UDF evaluations — the signature pass runs exactly
    # once, at checkpoint time, still inside the timed query call.
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan


def test_lsh_signature_materialized_and_distinct_narrow(spark):
    # r14 (guide §8 fingerprint-table shape, A/B OPTIMIZATION_r14.md §6
    # 1.37 → 1.24 s): the signed corpus localCheckpoints once — before,
    # the hyperplane-signature subtree expanded 4× in the static plan —
    # and the candidate distinct runs over bare (q_id, n_id) pairs, with
    # vectors joined back from the materialized table. The final plan
    # must read ExistingRDD and hold ZERO signature-UDF evaluations; the
    # distinct aggregation must key on the two ids only (no vector
    # columns in its keys).
    import re

    plan = plan_of(spark, "ann_lsh_topk")
    assert "ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan
    keys = re.findall(r"Keys \[2\]: \[q_id#\d+L, n_id#\d+L\]", plan)
    assert keys, "candidate distinct no longer keyed on bare id pairs"


def test_ivf_assign_udf_not_duplicated(spark):
    # r14 (guide §4.4): the join's inferred isnotnull(cent_id) used to
    # push below the assign projection and duplicate the full-corpus
    # nearest_cell ArrowEvalPython (3 nodes in
    # plans/r14/ann_ivf_topk_before.txt, one feeding only the vacuous
    # null check). nearest_cell is marked asNondeterministic, so the
    # plan must hold exactly two evaluations: nearest_cells on the
    # probe side, nearest_cell on the assign side.
    import re

    plan = plan_of(spark, "ann_ivf_topk")
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2


def test_embedding_dedup_has_no_cross_join(spark):
    # Round 1's version was an all-pairs `vec_a < vec_b` theta join — a
    # BroadcastNestedLoopJoin that goes O(n²) at scale. The LSH-bucketed
    # re-plan must stay equi-join only.
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle_no_join_node(spark):
    # The linear as-of formulation: union + ONE hash exchange on the key +
    # window sort. Any *Join operator in the plan means someone rewrote it
    # into the quadratic theta-join form.
    plan = plan_of(spark, "join_asof_last_click")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 1


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Same-bucketed tables joined on the bucket column plan ZERO exchanges
    — the write-once-shuffle-never-again contract of bucketing."""
    from zip_to_parquet_spark.schema import load_table
    from zip_to_parquet_spark.sinks import write_bucketed_table

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_table(li, "t_li_b", "l_orderkey", 8, path=str(tmp_path / "li"))
    write_bucketed_table(o, "t_o_b", "o_orderkey", 8, path=str(tmp_path / "o"))
    try:
        joined = spark.table("t_li_b").join(
            spark.table("t_o_b"),
            spark.table("t_li_b").l_orderkey == spark.table("t_o_b").o_orderkey,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert n_shuffles(plan) == 0, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


def test_decontam_broadcasts_eval_grams(spark):
    # The eval side must broadcast (benchmark suites are small); a
    # SortMergeJoin here means the whole training corpus shuffles on the
    # gram key at 100 TB.
    plan = plan_of(spark, "decontam_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_is_map_only(spark):
    # Redaction is a stateless projection: the only exchange allowed is
    # the corpus spread helper's round-robin (no keyed shuffle, no join).
    plan = plan_of(spark, "pii_redact_counts")
    assert "Join" not in plan


def test_csv_member_parse_is_shuffle_free(spark):
    # Parsing members to typed records must stay inside the scan stage:
    # decompress → explode lines → from_csv, no Exchange.
    plan = plan_of(spark, "zip_csv_members")
    assert "Exchange" not in plan


def test_span_dedup_no_cross_join_bounded_shuffles(spark):
    # Span dedup's scale contract: every shuffle keys on xxhash64(gram)
    # (8 bytes — never the ~300 B gram string), (doc_id, pos), or doc_id
    # — all linear in corpus tokens — and never a cross join. The
    # explode + anti-join coverage form trades a couple more keyed
    # exchanges for O(tokens) reassembly (the in-row filter-by-starts
    # form it replaced was O(words × dup-grams) per document). A
    # cartesian here means the count-join degenerated.
    plan = plan_of(spark, "dedup_exact_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n_shuffles(plan) <= 9, plan
    # The gram shuffle key must be the 64-bit hash, not the raw string:
    # no exchange may partition on a `gram` column, and the hash must
    # appear in the plan.
    assert "hashpartitioning(gram" not in plan, plan
    assert "xxhash64" in plan, plan


def test_pq_topk_no_join_before_scoring(spark):
    # PQ: encode (map) -> decode (codegen literal lookup) -> per-batch
    # partial top-k (mapInPandas) -> one rank window. No join at all: the
    # codebook ships in closures/literals, never as a join side.
    plan = plan_of(spark, "ann_pq_topk")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_topk_equi_join_on_cell_only(spark):
    # IVFPQ's only join is the candidate equi-join on the k-cell id
    # (shuffle key cardinality = k, sized 4k-64k at real scale); both
    # codebooks ship as closures/literals, never as join sides. A
    # cartesian or nested-loop here means the probe join degenerated.
    plan = plan_of(spark, "ann_ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_broadcasts_bucket_table(spark):
    # The O(256) log-ratio table must broadcast against the feature
    # stream; a SortMergeJoin would shuffle every feature of a 100 TB
    # corpus on the bucket key.
    plan = plan_of(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_prep_recipe_no_cross_join(spark):
    # The composed gate->dedup->split->pack recipe must stay equi-join
    # only; its window is per-shard (32 packing shards), never global.
    plan = plan_of(spark, "pipeline_prep_recipe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_surprisal_broadcasts_vocab(spark):
    # The vocab surprisal table must broadcast against the token stream
    # when the probe finds it under the threshold; a SortMergeJoin here
    # would shuffle every token of the corpus on the word key.
    plan = plan_of(spark, "lm_surprisal_scores")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_surprisal_shuffle_fallback_over_threshold(spark):
    # Size-aware join: when the probe finds MORE vocab types than the
    # broadcast threshold, the join must NOT force-broadcast (a 100 TB
    # corpus vocab would blow the 8 GB broadcast limit at runtime) —
    # it falls back to a plain join and still computes the same result.
    from zip_to_parquet_spark.operators.pipeline import unigram_surprisal
    from zip_to_parquet_spark.schema import load_table

    docs = load_table(spark, SF, "documents").limit(50)
    forced = unigram_surprisal(docs, broadcast_max_types=1)
    # The physical plan can't distinguish (AQE auto-broadcasts any small
    # side); the HINT lives in the analyzed logical plan.
    analyzed = forced._jdf.queryExecution().analyzed().toString()
    default = unigram_surprisal(docs)._jdf.queryExecution().analyzed().toString()
    # Both plans broadcast the 1-row totals table (hint #1); only the
    # default may additionally hint the vocab join side (hint #2).
    assert analyzed.count("strategy=broadcast") == 1
    assert default.count("strategy=broadcast") == 2
    got = {
        (r["doc_id"], r["n_tokens"], r["surprisal_micro"])
        for r in forced.collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["surprisal_micro"])
        for r in unigram_surprisal(docs).collect()
    }
    assert got == want


def test_topic_classify_is_map_only(spark):
    # Lexicon classification is a stateless projection: the only exchange
    # allowed is the corpus spread helper's round-robin (no join, no
    # keyed shuffle).
    plan = plan_of(spark, "topic_lexicon_classify")
    assert "Join" not in plan


def test_bigram_surprisal_no_cartesian_broadcasts_types(spark):
    # The scored bigram-type table must broadcast against the transition
    # stream at fixture scale (the probe confirms it's small); the only
    # cross join allowed is the broadcast 1-row stats table.
    plan = plan_of(spark, "lm_bigram_surprisal")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_dims_broadcast_no_cartesian(spark):
    # The final plan is a checkpoint scan (localCheckpoint truncates the
    # per-iteration lineage — that IS the iterative idiom under test), so
    # join strategy must be asserted on the un-checkpointed edge build:
    # dims broadcast into the fact joins, nothing degenerates to a
    # cartesian.
    from pyspark.sql import functions as F

    from zip_to_parquet_spark.schema import load_table

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, SF, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edges.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # And the full query must still run without a cartesian anywhere.
    full = plan_of(spark, "graph_pagerank_nations")
    assert "CartesianProduct" not in full


def test_span_dedup_keep_first_same_scale_shape(spark):
    # The paper-faithful variant adds ONE window shuffle on the hashed
    # gram key; everything else inherits the remove-all shape (no
    # cartesian, hash key never the gram string).
    plan = plan_of(spark, "dedup_exact_spans_keep_first")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(gram" not in plan, plan
    assert "xxhash64" in plan, plan
    assert n_shuffles(plan) <= 10, plan


def test_snapshot_delta_single_equi_join(spark):
    # CDC is hashes + ONE full-outer equi-join on the id; a cartesian or
    # nested loop means the join degenerated.
    plan = plan_of(spark, "corpus_snapshot_delta")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_is_map_only(spark):
    # In-row chunk array (textops.word_chunks) + posexplode: the RAG
    # chunker must never shuffle.
    plan = plan_of(spark, "text_chunk_windows")
    assert "Exchange" not in plan


def test_containment_join_is_equi_only(spark):
    plan = plan_of(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    # The candidate self-join and verify joins must stay hash equi-joins;
    # the only tolerated nested-loops are the broadcast 1-row n_docs stats
    # join feeding the corpus-relative hot-shingle guard (it appears once
    # under each alias of the candidate self-join, hence two).
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj) <= 2


def test_incremental_dedup_band_join_only(spark):
    # VERDICT r4 ask #4: the nightly incremental path must classify new
    # docs via hash/band/id equi-joins against the persisted snapshot
    # index — no all-pairs step anywhere in the plan.
    plan = plan_of(spark, "dedup_incremental_vs_snapshot")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The frozen index is read back from parquet, not recomputed inline:
    # the scan list must include both persisted index paths.
    assert "hash_idx" in plan and "band_idx" in plan


def test_exact_verify_dedup_hot_shingle_guard_on_by_default(spark):
    # VERDICT r4 ask #2: the corpus-relative hot-shingle df guard must be
    # ACTIVE in the registered exact-verify dedup keys — the physical plan
    # carries a broadcast ANTI join (drop hot shingles) before the
    # quadratic candidate self-join. Guard-off was the one surviving
    # 100 TB scale-killer (skewed-key join on stop-shingles).
    for key in ("dedup_ngram_jaccard", "dedup_containment"):
        plan = plan_of(spark, key)
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), (
            f"{key}: hot-shingle broadcast anti-join guard missing:\n{plan}"
        )


def test_funnel_single_fold_shuffle(spark):
    # One groupBy(user) for the fold + one tiny stage rollup (Spark 4.1
    # renders exactly these two) — a stage added to the funnel must not
    # add a per-stage join/shuffle.
    plan = plan_of(spark, "events_funnel")
    assert n_shuffles(plan) == 2
    assert "CartesianProduct" not in plan


def test_edit_distance_join_is_equi_only(spark):
    # PassJoin candidates ride hash equi-joins on (seg_id, content);
    # an all-pairs theta join here is the O(n²) failure mode.
    plan = plan_of(spark, "dedup_edit_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_thresholds_broadcast(spark):
    # Bucket assignment maps each row against the broadcast one-row
    # threshold table; no shuffle of the corpus side.
    plan = plan_of(spark, "curriculum_quantile_order")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row thresholds crossjoin


def test_triangle_count_equi_joins_only(spark):
    # Wedge build + closure are node-keyed equi-joins (degree-oriented);
    # the only nested-loop is the final 1-row × 1-row stats join.
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_idf_broadcast_under_threshold(spark):
    # Fixture vocab is tiny → the probe confirms and the idf table
    # broadcasts; the corpus-side tf never reshuffles for the idf join.
    plan = plan_of(spark, "tfidf_topk_terms")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_single_equi_join(spark):
    # MERGE is one full-outer id join; a second exchange of the corpus
    # side (or any nested-loop) is the regression.
    plan = plan_of(spark, "corpus_merge_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_no_second_shuffle_after_join(spark):
    # full-outer join then in-row version explode: the explode must not
    # introduce another exchange.
    plan = plan_of(spark, "dim_scd2_history")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the version explode is in-row


def test_islands_single_user_shuffle(spark):
    # Both windows and the island groupBy share ONE user-keyed exchange.
    plan = plan_of(spark, "events_interval_islands")
    assert n_shuffles(plan) <= 1
    assert "Join" not in plan


def test_time_range_window_single_shuffle(spark):
    plan = plan_of(spark, "window_time_range_sum")
    assert n_shuffles(plan) <= 1
    assert "Join" not in plan


def test_minmax_bounds_broadcast(spark):
    # The per-type bounds table broadcasts back against the stream; the
    # corpus side must not reshuffle for the bounds join.
    plan = plan_of(spark, "events_minmax_scaled")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_shuffles(plan) <= 1


def test_array_battery_map_only(spark):
    plan = plan_of(spark, "scalar_array_battery")
    assert "Exchange" not in plan


def test_gapfill_no_cartesian_calendar(spark):
    # The per-user calendar is generated in-row (sequence + explode),
    # never via a cross join against a calendar table.
    plan = plan_of(spark, "events_timeseries_gapfill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the in-row date explode


def test_federated_join_single_shuffle(spark):
    plan = plan_of(spark, "zip_federated_join")
    assert "CartesianProduct" not in plan
    assert n_shuffles(plan) <= 2


def test_zip_incremental_ingest_equi_join_scoped_extract(spark):
    # Metadata probe joins the manifest with ONE equi-join; the only
    # Python fan-out is the per-archive scoped extraction group
    # (FlatMapGroupsInPandas). No all-pairs anywhere.
    plan = plan_of(spark, "zip_incremental_ingest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_ann_recall_eval_no_cross_join(spark):
    # Recall eval composes the two locked ANN plans with ONE extra
    # (q_id, n_id) equi-join — the composition must not reintroduce an
    # all-pairs join anywhere.
    plan = plan_of(spark, "ann_recall_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_broadcasts_centroids_no_cartesian(spark):
    # The n×k scoring pass must ride a BROADCAST of the k-row centroid
    # table (BroadcastNestedLoopJoin over 8 rows is the intended shape);
    # a non-broadcast CartesianProduct here is the O(n·k) shuffle bomb.
    plan = plan_of(spark, "cluster_kmeans_embeddings")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # Assignment argmin is a real aggregate (map-side combinable), not a
    # global window sort over the corpus.
    assert re.search(r"partial_min", plan) or "HashAggregate" in plan


def test_distilled_classifier_map_only(spark):
    # Training happens driver-side before the plan exists; scoring + weak
    # label are one codegen'd projection over the scan — any Exchange here
    # means the lookup fell out of the row path.
    plan = plan_of(spark, "quality_distill_classifier")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_broadcast_thresholds_single_agg_shuffle(spark):
    # Per-row assignment maps against the broadcast 1-row threshold array
    # (BroadcastNestedLoopJoin is that broadcast); the only corpus-keyed
    # shuffle is the final groupBy(file_id) rollup + the bounded sample
    # aggregation — never a global sort/row_number over the corpus.
    plan = plan_of(spark, "layout_zorder_files")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "GlobalLimit" not in plan


def test_tar_pipeline_is_shuffle_free(spark):
    # Like the zip pipeline: scan → Arrow-batched member explode →
    # project. Any Exchange means the explode fell off the scan stage.
    plan = plan_of(spark, "tar_explode_hash")
    assert "Exchange" not in plan


def test_layout_pruning_eval_no_cartesian(spark):
    # Every cross join in the evaluation is a broadcast of a constant-size
    # side (1-row thresholds/bounds, 16-row file stats, 8-row probes).
    plan = plan_of(spark, "layout_pruning_eval")
    assert "CartesianProduct" not in plan


def test_bpe_single_doc_shuffle_no_python(spark):
    # Encode is a codegen'd replace chain inside the scan stage; the only
    # shuffle is the per-document rollup. No Python evaluator anywhere.
    plan = plan_of(spark, "bpe_tokenize_stats")
    assert n_shuffles(plan) <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cogroup_attribution_mechanism_and_shuffles(spark):
    # Both relations shuffle once on user_id and meet in a cogrouped
    # Arrow task — no join blow-up, no extra exchanges.
    plan = plan_of(spark, "cogroup_user_attribution")
    assert "FlatMapCoGroupsInPandas" in plan
    assert n_shuffles(plan) <= 2
    assert "CartesianProduct" not in plan


def test_kmv_topk_is_take_ordered_not_global_sort(spark):
    # The k-smallest-hashes selection must be TakeOrdered (per-partition
    # top-k + k-sized driver merge), never a full Sort + GlobalLimit.
    plan = plan_of(spark, "agg_kmv_distinct")
    assert "TakeOrderedAndProject" in plan


def test_dq_fk_check_broadcasts_anti_join(spark):
    # Referential integrity = LEFT ANTI join with the dimension side
    # broadcast at fixture scale (size-aware at real scale).
    plan = plan_of(spark, "dq_expectations_report")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "CartesianProduct" not in plan


def test_q14_broadcast_part_exact_decimal_sums(spark):
    plan = plan_of(spark, "q14_promo_revenue")
    # part is the small side and must broadcast; the date band must reach
    # the lineitem scan.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("l_shipdate" in l for l in pushed), pushed


def test_q19_disjunction_partial_pushdown(spark):
    plan = plan_of(spark, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # Catalyst infers the part-side envelope (brand IN ... / size bounds)
    # from the OR-of-ANDs and pushes it below the join: the part scan must
    # carry pushed filters, not just the join key null check.
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("p_brand" in l or "p_size" in l for l in pushed), pushed


def test_rrf_fusion_bounded_lists_no_cartesian(spark):
    plan = plan_of(spark, "retrieval_rrf_fusion")
    # Both rankers reduce to bounded top-n lists before fusion: no
    # cartesian anywhere (the only nested-loop join is BM25's sanctioned
    # 1-row corpus-stats broadcast), and the top-n cuts are TakeOrdered
    # (per-partition top-k), not global sorts.
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) <= 1


def test_bfs_frontier_equi_joins_only(spark):
    plan = plan_of(spark, "graph_bfs_hops")
    # Frontier expansion must be an equi-join on node id (shuffle or
    # broadcast hash), never a nested loop over the edge list.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corr_moments_single_shuffle_no_join(spark):
    # The moments-matrix pattern: one scan, one map-side-combinable agg
    # (single exchange of ten partial sums), then a constant-size
    # projection. A join or second shuffle means the one-pass structure
    # broke.
    plan = plan_of(spark, "stats_corr_exact")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 1, plan


def test_q13_filter_pushdown_and_outer_join(spark):
    # The priority exclusion must reach the orders scan (right-side
    # pre-filter == Q13 join-condition semantics), and the outer join must
    # keep customers with zero qualifying orders.
    plan = plan_of(spark, "q13_order_distribution")
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("o_orderpriority" in l for l in pushed), pushed
    assert "LeftOuter" in plan


def test_q17_broadcast_part_prune_before_agg(spark):
    # The brand key set must broadcast (dim prune), never shuffle-join,
    # and the per-part aggregate runs on the pruned fact.
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("p_brand" in l for l in pushed), pushed


def test_q22_anti_join_ships_no_payload(spark):
    plan = plan_of(spark, "q22_idle_balance")
    assert "LeftAnti" in plan
    # Orders side is projected to the join key only before the exchange.
    read = [l for l in plan.splitlines() if "ReadSchema:" in l and "o_custkey" in l]
    assert read and all("o_totalprice" not in l for l in read), read


def test_bitmap_distinct_no_expand(spark):
    # count(distinct) plans an Expand + double aggregation over raw keys;
    # the bitmap formulation must NOT (its state is fixed 4 KiB bitmaps).
    plan = plan_of(spark, "agg_bitmap_distinct")
    assert "Expand" not in plan
    assert "bitmap_construct_agg" in plan or "bitmap" in plan.lower()


def test_bloom_prefilter_applied_before_shuffle(spark):
    # The Bloom membership test must sit in the scan-side stage (a Filter
    # containing the xxhash64 probe), and the exactness join must be a
    # broadcast left-semi — no fact-fact shuffle anywhere.
    plan = plan_of(spark, "join_bloom_prefilter")
    assert "xxhash64" in plan
    assert re.search(r"BroadcastHashJoin.*LeftSemi", plan), plan[:2000]
    assert "SortMergeJoin" not in plan


def test_zscore_moments_broadcast_back(spark):
    # 3-row stats table broadcast-joins onto the fact: no shuffle join, and
    # only aggregate exchanges remain.
    plan = plan_of(spark, "stats_outlier_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mapinarrow_is_map_only_after_spread(spark):
    # Arrow-native Python map: exactly the fixture-parallelism spread
    # exchange, then MapInArrow — no aggregation/join shuffles.
    plan = plan_of(spark, "mapinarrow_text_metrics")
    assert "MapInArrow" in plan
    assert n_shuffles(plan) <= 1  # the spread() repartition only


def test_existence_mark_plans_existence_join(spark):
    # EXISTS in the SELECT list must plan as ExistenceJoin (a projected
    # mark), not rewrite into union-of-semi/anti scans.
    plan = plan_of(spark, "join_existence_mark")
    assert "ExistenceJoin" in plan


def test_histogram_broadcasts_bounds_no_cartesian(spark):
    plan = plan_of(spark, "agg_histogram_equiwidth")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_null_safe_join_stays_hash_join(spark):
    # <=> must remain an equi-joinable condition (broadcast hash join),
    # never the nested-loop degeneration of the OR-of-IS-NULL rewrite.
    plan = plan_of(spark, "join_null_safe")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_global_rank_has_no_single_partition_window(spark):
    # The whole point: the ranking Window must be partitioned by the
    # bucket id (hashpartitioning(pid)), never a global ORDER BY over an
    # Exchange SinglePartition. The only SinglePartition allowed is the
    # 1-row bounds aggregate.
    plan = plan_of(spark, "global_rank_two_pass")
    assert "row_number" in plan
    assert re.search(r"hashpartitioning\(pid", plan), plan[:2000]
    single = len(re.findall(r"Arguments: SinglePartition", plan))
    assert single <= 1, plan[:2000]


def test_spatial_grid_is_equi_join_not_all_pairs(spark):
    plan = plan_of(spark, "spatial_grid_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Candidates come from an equi-join on the cell ids.
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*\[cx", plan) or "cx" in plan


def test_mode_window_runs_over_counts_not_rows(spark):
    # The rank window must consume the (group, value) count table, i.e.
    # sit ABOVE the aggregate — a window over the raw fact would sort
    # every row per group.
    plan = plan_of(spark, "agg_mode_exact")
    assert "row_number" in plan
    # The Window's input schema carries the aggregated count column —
    # proof it consumes the (group, value) counts, not raw fact rows.
    m = re.search(r"\(\d+\) Window\s*\nInput \[\d+\]: \[[^\]]*\]", plan)
    assert m and "mode_count" in m.group(0), m.group(0) if m else plan[:1500]


def test_skew_report_single_count_shuffle_per_leg(spark):
    plan = plan_of(spark, "skew_diagnosis_report")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_equi_join_on_bucket(spark):
    plan = plan_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"hashpartitioning\(bucket", plan) or "bucket" in plan


def test_skyline_prunes_before_sweep(spark):
    # The dominance sweep must run over pruned candidates: the only
    # nested-loop join allowed is the 1-row bounds broadcast; the final
    # candidate join must be a broadcast hash join.
    plan = plan_of(spark, "skyline_orders_pareto")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pmi_top50_is_take_ordered(spark):
    # The top-50 must plan as TakeOrderedAndProject (distributed partial
    # top-k), never Sort over a SinglePartition exchange.
    plan = plan_of(spark, "text_collocations_pmi")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mad_gate_broadcasts_median_tables(spark):
    plan = plan_of(spark, "stats_outlier_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_merge_is_take_ordered(spark):
    # Every k-smallest selection (including the sketch MERGE) must be
    # TakeOrdered, never a global Sort.
    plan = plan_of(spark, "sketch_set_algebra")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pit_join_is_equi_on_id(spark):
    # PIT correctness at scale: the join must hash-partition on the id
    # (validity range as post-join filter), never degenerate to a range
    # nested-loop.
    plan = plan_of(spark, "join_point_in_time_scd2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_is_take_ordered_map_only(spark):
    plan = plan_of(spark, "sample_weighted_aes")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_linreg_single_moment_shuffle(spark):
    # One map-combinable moments pass, no join, ≤1 exchange.
    plan = plan_of(spark, "stats_groupwise_linreg")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 1


def test_q4_semi_join_with_cross_relation_predicate(spark):
    # The EXISTS must stay a LeftSemi whose condition spans both
    # relations; the date window must reach the orders scan.
    plan = plan_of(spark, "q4_priority_count")
    assert "LeftSemi" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("o_orderdate" in l for l in pushed), pushed


def test_q10_filters_push_and_topk_is_take_ordered(spark):
    plan = plan_of(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters:" in l)
    assert "l_returnflag" in pushed and "o_orderdate" in pushed, pushed


def test_lateral_top1_is_decorrelated(spark):
    # The per-row LATERAL subquery must decorrelate into a set-based
    # plan (no per-outer-row execution; no cartesian/nested-loop).
    plan = plan_of(spark, "join_lateral_top1")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_shards_window_is_shard_partitioned(spark):
    # The within-shard position window must partition by shard_id — the
    # only shuffle, state = one shard. A global ORDER BY (Exchange
    # SinglePartition) would serialize the whole corpus through one task.
    plan = plan_of(spark, "layout_shuffle_shards")
    assert "row_number" in plan
    assert re.search(r"hashpartitioning\(shard_id", plan), plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_q21_decorrelates_double_exists(spark):
    # The EXISTS/NOT-EXISTS pair must collapse into per-order aggregates
    # joined back on orderkey — never a nested-loop re-execution.
    plan = plan_of(spark, "q21_waiting_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters:" in l)
    assert "o_orderstatus" in pushed, pushed


def test_q15_max_is_one_row_broadcast_not_sort(spark):
    # The scalar max joins back as a broadcast of a 1-row aggregate; a
    # global sort of the revenue relation would be the wrong plan.
    plan = plan_of(spark, "q15_top_supplier")
    assert plan.count("BroadcastHashJoin") >= 2  # max row + supplier dim
    assert "TakeOrderedAndProject" not in plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters:" in l)
    assert "l_shipdate" in pushed, pushed


def test_q2_single_fact_pass_broadcast_dims(spark):
    # lineitem is scanned once (the DISTINCT bridge); part/supplier legs
    # broadcast; the correlated min decorrelates without a cross join.
    plan = plan_of(spark, "q2_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") - plan.count("lineitem.parquet") >= 0
    assert len(re.findall(r"lineitem\.parquet", plan)) <= 1, "fact scanned twice"
    assert "TakeOrderedAndProject" in plan


def test_q16_exclusion_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_variety")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters:" in l)
    assert "p_size" in pushed or "p_brand" in pushed, pushed


def test_q18_having_gate_reuses_one_rollup(spark):
    # The qty rollup feeds BOTH the HAVING gate and the output column —
    # lineitem must be scanned exactly once.
    plan = plan_of(spark, "q18_large_orders")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, "fact scanned twice"
    assert "TakeOrderedAndProject" in plan


def test_seasonal_naive_single_fact_scan(spark):
    # The daily rollup materializes once; the lag-7 self-join must run
    # over the checkpointed calendar-sized relation, not re-scan orders.
    plan = plan_of(spark, "ts_seasonal_naive_mae")
    assert len(re.findall(r"orders\.parquet", plan)) == 0, "fact re-scanned"
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_k_anonymity_single_scan_no_join(spark):
    plan = plan_of(spark, "dq_k_anonymity")
    assert len(re.findall(r"customer\.parquet", plan)) == 1
    assert "Join" not in plan


def test_batch_buckets_single_bucket_window_shuffle(spark):
    # The batching window partitions by length bucket — never a global
    # row_number — and the rollup reuses that partitioning.
    plan = plan_of(spark, "batch_length_buckets")
    assert "SinglePartition" not in plan, plan[:2000]
    assert re.search(r"hashpartitioning\(bucket", plan), plan[:2000]


def test_topp_one_source_window_shuffle(spark):
    # Running mass and total mass share ONE source-keyed shuffle.
    plan = plan_of(spark, "select_token_mass_topp")
    assert "SinglePartition" not in plan, plan[:2000]
    assert n_shuffles(plan) <= 1, plan[:2000]


def test_cusum_single_user_shuffle(spark):
    # Both prefix windows and the rollup share one user-keyed exchange.
    plan = plan_of(spark, "events_cusum_alarm")
    assert "SinglePartition" not in plan, plan[:2000]
    assert n_shuffles(plan) <= 1, plan[:2000]


def test_compaction_window_runs_over_file_inventory(spark):
    # The only fact-sized shuffle is the per-file rollup; the global
    # cumulative-fill window (deliberately SinglePartition — metadata-
    # sized input) must sit ABOVE the aggregate, never over raw docs.
    plan = plan_of(spark, "layout_compaction_plan")
    assert len(re.findall(r"documents\.parquet", plan)) == 1
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_rank_normalize_single_source_shuffle(spark):
    plan = plan_of(spark, "quality_rank_normalize")
    assert "SinglePartition" not in plan, plan[:2000]
    assert n_shuffles(plan) <= 1, plan[:2000]


def test_mom_yoy_fact_collapses_before_calendar_joins(spark):
    # The month rollup materializes once; both calendar self-joins run
    # over the checkpointed |months| relation, never re-scanning orders.
    plan = plan_of(spark, "revenue_mom_yoy")
    assert len(re.findall(r"orders\.parquet", plan)) == 0, "fact re-scanned"


def test_holt_single_user_shuffle_no_python(spark):
    plan = plan_of(spark, "events_holt_linear_trend")
    assert "SinglePartition" not in plan, plan[:2000]
    assert n_shuffles(plan) <= 1, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_null_aware_anti_uses_special_operator(spark):
    # The nullable NOT IN must plan as Spark's null-aware anti join — a
    # regular LeftAnti would return WRONG (non-empty) results. The flag
    # is BroadcastHashJoinExec's trailing isNullAwareAntiJoin=true,
    # printed only in the raw plan string ("LeftAnti, BuildRight, true").
    df = all_queries()["join_null_aware_anti"](spark, SF)
    raw = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in raw, raw[:3000]
    assert "CartesianProduct" not in raw


def test_anova_single_fact_pass(spark):
    # ONE pass over orders: the per-group moments shuffle is the only
    # corpus-sized exchange; everything downstream runs on 5 group rows
    # (1-row broadcast stats, never a re-scan of the fact).
    plan = plan_of(spark, "stats_anova_f")
    assert len(re.findall(r"orders\.parquet", plan)) <= 1, "fact re-scanned"
    assert "CartesianProduct" not in plan


def test_acf_prunes_to_timestamp_and_joins_on_index(spark):
    # The corpus scan reads ONLY ts (day index is derived, no other
    # column survives pruning), and the lag pairing is an equi-join on
    # the day index — never a cartesian over the series.
    plan = plan_of(spark, "ts_autocorrelation")
    for line in plan.splitlines():
        if "ReadSchema:" in line and "events" in plan:
            assert "props" not in line and "user_id" not in line, line
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan[:2000]


def test_fk_audit_broadcasts_parents_and_prunes_children(spark):
    # Every parent key set rides a broadcast; child scans are pruned to
    # the FK column only (an audit that reads full fact rows is wrong).
    plan = plan_of(spark, "dq_referential_integrity")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    li_reads = [
        l for l in plan.splitlines()
        if "ReadSchema:" in l and "l_orderkey" in l or
           "ReadSchema:" in l and "l_partkey" in l
    ]
    for line in li_reads:
        assert "l_extendedprice" not in line, line


def test_kcenter_iterations_are_checkpoint_flat(spark):
    # Each greedy iteration localCheckpoints, so the returned plan is a
    # union of materialized 1-row picks — no exchange, no lineage tower,
    # no corpus re-scan at collect time.
    plan = plan_of(spark, "select_coreset_kcenter")
    assert "Exchange" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_vocab_coverage_broadcasts_vocab(spark):
    # The top-64 vocab is vocab-sized by construction: it must ride a
    # broadcast mark-join (TakeOrdered, not a global sort, produces it).
    plan = plan_of(spark, "tokenizer_vocab_coverage")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_lexical_diversity_join_free(spark):
    # Pure two-level rollup: tokenize shuffle + doc rollup, no join of
    # any kind and no corpus-global stage.
    plan = plan_of(spark, "text_lexical_diversity")
    assert "Join" not in plan, plan[:2000]
    assert "SinglePartition" not in plan


def test_rolling_median_windows_the_daily_grain(spark):
    # The RANGE-frame window runs over the daily rollup (series-sized),
    # never over raw orders rows: exactly one fact scan feeding an
    # aggregate BEFORE the window.
    plan = plan_of(spark, "ts_rolling_median")
    assert len(re.findall(r"orders\.parquet", plan)) == 1, "fact re-scanned"
    # Operator ids number leaf-to-root: the rollup must execute first.
    agg_id = int(re.search(r"\((\d+)\) HashAggregate", plan).group(1))
    win_id = int(re.search(r"\((\d+)\) Window", plan).group(1))
    assert agg_id < win_id, plan[:1500]


def test_theil_sen_pairs_run_on_checkpointed_series(spark):
    # The O(D^2) pair join must consume the checkpointed daily series,
    # not re-derive it from the fact table per side.
    plan = plan_of(spark, "stats_theil_sen_daily")
    assert "orders.parquet" not in plan, "pair join re-scans the fact"


def test_zipf_regression_runs_on_checkpointed_vocab(spark):
    plan = plan_of(spark, "stats_zipf_fit")
    assert "documents.parquet" not in plan, "moments re-scan the corpus"


def test_kaplan_meier_folds_over_day_grain(spark):
    # The survival fold and risk window run on the checkpointed subject
    # table's day rollup — never back over raw events.
    plan = plan_of(spark, "stats_kaplan_meier")
    assert "events.parquet" not in plan, "curve re-scans the corpus"
    assert "CartesianProduct" not in plan


def test_linkpred_wedge_join_is_equi_and_topk(spark):
    # Candidate scoring is the joinless wedge explode; the hub-center
    # guard (ON by default) is the size(us) <= cap filter on the fused
    # adjacency (r15 — locked with the cap literal in
    # test_linkpred_pair_agg_is_joinless_and_smj_free); existing edges
    # leave via an equi anti-join; top-20 is TakeOrdered, not a global
    # sort.
    plan = plan_of(spark, "graph_jaccard_linkpred")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "lineitem.parquet" not in plan, "edge set re-derived per leg"
    assert "LeftAnti" in plan, plan[:2000]


def test_poisson_replicate_is_map_only(spark):
    plan = plan_of(spark, "sample_poisson_replicate")
    assert "Exchange" not in plan, plan[:2000]
    assert "Generate" in plan  # the sequence-explode


def test_confusion_eval_adds_reduce_not_shuffle(spark):
    # Evaluation rides the classifier's map-only scoring pass: no join,
    # and the only exchange is the 1-row final reduce.
    plan = plan_of(spark, "quality_classifier_confusion")
    assert "Join" not in plan, plan[:2000]
    assert n_shuffles(plan) <= 1, plan[:2000]


def test_cms_build_is_one_cell_rollup(spark):
    # The sketch build must aggregate to (row, bucket) cells — partial
    # aggregation into <=4096 cells per partition is the whole point of
    # CMS on a cluster. Probes ride broadcasts; no cartesian beyond the
    # 4-row replication broadcast.
    plan = plan_of(spark, "sketch_count_min")
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"documents\.parquet", plan)) <= 2
    assert "BroadcastHashJoin" in plan


def test_runs_test_windows_the_daily_grain(spark):
    # Both lag windows run over the daily rollup, not raw orders: the
    # rollup's HashAggregate executes before the first Window.
    plan = plan_of(spark, "stats_runs_test")
    assert len(re.findall(r"orders\.parquet", plan)) == 1, "fact re-scanned"
    agg_id = int(re.search(r"\((\d+)\) HashAggregate", plan).group(1))
    win_id = int(re.search(r"\((\d+)\) Window", plan).group(1))
    assert agg_id < win_id, plan[:1500]


def test_attribution_equi_joins_user_no_cartesian(spark):
    # Touch↔conversion matching must be an equi-join on user_id with the
    # 7-day range as a post-join filter — never a cartesian or pure
    # range join (per-user fanout is the bounded quantity at scale).
    plan = plan_of(spark, "events_attribution_linear")
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[1\]: \[user_id", plan), plan[:2000]


def test_session_paths_single_user_shuffle_then_tiny_topk(spark):
    # Sessionize + rank + path assembly all partition by user_id; the
    # only other exchanges are the path-count rollup and the final
    # TakeOrdered over path cardinality (bounded by |event_type|^4).
    plan = plan_of(spark, "events_session_paths")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert n_shuffles(plan) <= 3, plan[:2000]


def test_readability_is_map_only_rollup(spark):
    # Per-doc scoring must stay inside the scan stage (no UDF, no join);
    # one partial-agg shuffle on the source key.
    plan = plan_of(spark, "text_readability_fk")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert n_shuffles(plan) <= 1, plan[:2000]


def test_ahash_band_join_guarded_no_cartesian(spark):
    # Candidate generation is an inverted-index equi-join on
    # (band_idx, band_val) with the df<=64 hot-bucket guard join in the
    # plan; hamming verify joins back on int ids. No cartesian anywhere.
    plan = plan_of(spark, "multimodal_ahash_dedup")
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[2\]: \[band_idx", plan), plan[:2000]


def test_prf_expansion_has_no_python_collect_boundary(spark):
    # The PRF loop must be ONE plan: expansion terms flow through a
    # broadcast semi join (dynamic-terms bm25), so the full two-pass
    # query builds without any driver action.
    plan = plan_of(spark, "retrieval_prf_expansion")
    assert "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 2, plan[:2000]  # fb docs + terms


def test_hll_is_mergeable_register_rollup(spark):
    # Register build: map-only hash + one 256-group aggregate; the rho
    # lookup and register completion ride broadcasts; no cartesian
    # beyond the two 1-row stat broadcasts.
    plan = plan_of(spark, "sketch_hll_registers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(re.findall(r"orders\.parquet", plan)) <= 2


def test_item_item_pairs_join_on_order_key(spark):
    # Pair generation must equi-join on l_orderkey (candidates bounded
    # by basket size); count tables broadcast; rank window partitions
    # by item.
    plan = plan_of(spark, "recsys_item_item_topn")
    assert "CartesianProduct" not in plan
    assert re.search(r"keys \[1\]: \[l_orderkey", plan), plan[:2000]
    assert "BroadcastHashJoin" in plan


def test_cuped_user_shuffle_broadcast_moments_no_smj(spark):
    # Per-user pre/post rollup hash-shuffles on user_id; the 1-row
    # global-moment table crosses back as a broadcast (never a shuffle
    # join); events scan prunes to exactly (ts, user_id).
    plan = plan_of(spark, "experiment_cuped_adjust")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row moments x 2-row variants
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "ts" in read and "user_id" in read
    for col in ("event_type", "value", "props", "event_id"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_srm_is_distinct_then_single_reduce(spark):
    # User distinct (partial-agg shuffle) then a 1-row reduce: no joins
    # of any kind, no window, scan pruned to user_id alone.
    plan = plan_of(spark, "experiment_srm_check")
    assert "Join" not in plan
    assert "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "user_id" in read and "event_type" not in read and "ts" not in read


def test_randomized_response_broadcast_only_perturbation(spark):
    # The k-row type dim joins the scan as a BroadcastHashJoin on the
    # replacement index; the 1-row k/n tables ride broadcast loops; the
    # fact never sort-merge-joins or goes cartesian.
    plan = plan_of(spark, "privacy_randomized_response")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_loo_encode_one_fact_shuffle_broadcast_cells(spark):
    # The orders fact collapses in ONE (category, y) partial-agg
    # shuffle; the per-category rollup and join-back run on the 10-row
    # cell table via broadcast. Scan prunes to the two input columns.
    plan = plan_of(spark, "feature_target_encode_loo")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderpriority" in read and "o_orderstatus" in read
    assert "o_totalprice" not in read and "o_orderdate" not in read


def test_stratified_sample_single_stratum_shuffle_no_join(spark):
    # Rank and stratum-count windows share one source-keyed partitioning;
    # quotas come from the count window, not a join.
    plan = plan_of(spark, "sample_stratified_exact")
    assert "Join" not in plan
    # spread() adds one repartition at fixture scale; the windows add the
    # source hash partitioning — nothing else may shuffle.
    assert n_shuffles(plan) <= 2, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) >= 1


def test_locf_fill_shares_user_partitioning(spark):
    # The LOCF window and the per-user rollup reuse one user_id
    # partitioning: no join, and at most spread + one user shuffle.
    plan = plan_of(spark, "events_locf_fill")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 2, plan


def test_lift_t2_single_user_shuffle_pruned_scan(spark):
    # Per-user count needs ONLY user_id from the scan; the variant
    # rollup and 1-row pivot never join or window.
    plan = plan_of(spark, "experiment_lift_t2")
    assert "Join" not in plan
    assert "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "user_id" in read
    for col in ("ts", "event_type", "value"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_bootstrap_is_explode_then_32_group_agg(spark):
    # Poisson weights are map-only (hash + CASE); the 32x explode
    # collapses in one replicate-keyed agg; rank selection runs on the
    # sorted 32-element array, not a window. No join anywhere.
    plan = plan_of(spark, "stats_bootstrap_ci_poisson")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" in plan  # the explode
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_orderdate" not in read


def test_ushape_attribution_equi_joins_user_no_cartesian(spark):
    # Same contract as the linear key: candidates bound by the user
    # equi-join; conversion windows share that shuffle; no cartesian.
    plan = plan_of(spark, "events_attribution_ushape")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"keys(?: \[\d\])?: \[user_id", plan) or "user_id" in plan


def test_sequence_pairs_span_join_is_session_equi(spark):
    # The a-before-b pair join must be an equi-join on
    # (user_id, session_id) over the span ROLLUP (<= |types| rows per
    # session), never an event-level or cartesian pairing.
    plan = plan_of(spark, "events_sequence_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"\[user_id.{0,40}session_id", plan), plan[:3000]


def test_stratified_ate_single_fact_shuffle(spark):
    # Per-user outcome rollup is the only fact shuffle; the stratum
    # table and N total ride broadcasts; scan prunes to the two
    # consumed columns.
    plan = plan_of(spark, "experiment_stratified_ate")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "user_id" in read and "event_type" in read
    assert "value" not in read and "props" not in read


def test_did_is_join_free_single_reduce(spark):
    # One user-keyed partial agg then a 1-row reduce: no join, no
    # window; scan pruned to (ts, user_id).
    plan = plan_of(spark, "experiment_diff_in_diff")
    assert "Join" not in plan
    assert "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "ts" in read and "user_id" in read and "event_type" not in read


def test_matryoshka_eval_no_global_window_no_cartesian(spark):
    # Both GEMM legs emit per-batch partial top-k (Python boundary),
    # rank windows partition by q_id, recall is a (q_id, n_id)
    # equi-join — never a cartesian or a global window.
    plan = plan_of(spark, "vector_matryoshka_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_assortativity_equi_joins_and_single_reduce(spark):
    # Edge build equi-joins on l_orderkey; degree join-backs equi-join
    # on node ids; moments end in a 1-row reduce. No cartesian.
    plan = plan_of(spark, "graph_degree_assortativity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"l_orderkey", plan)


def test_cohort_ltv_aggregates_before_join(spark):
    # The running-sum window runs over the (cohort, offset) rollup, not
    # the event stream; cohort sizes broadcast. No cartesian.
    plan = plan_of(spark, "events_cohort_ltv")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in read


def test_dp_geometric_is_one_rollup_then_map_noise(spark):
    # The only fact shuffle is the count rollup; noise is a map-only
    # expression over the |cells| rows. No join, no window.
    plan = plan_of(spark, "privacy_dp_geometric_counts")
    assert "Join" not in plan
    assert "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "event_type" in read and "value" not in read and "ts" not in read


def test_asof_nearest_is_one_union_sort_no_join(spark):
    # Both directional carries share one user_id partitioning over the
    # union — the nearest join must not contain any physical join.
    plan = plan_of(spark, "join_asof_nearest_click")
    assert "Join" not in plan
    assert "Union" in plan
    assert n_shuffles(plan) <= 1, plan


def test_freshness_lag_is_rollup_plus_frontier_broadcast(spark):
    # One (type) rollup + a broadcast 1-row frontier; no SMJ, no window.
    plan = plan_of(spark, "dq_freshness_lag")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "value" not in read and "props" not in read


def test_builtin_session_window_is_one_user_shuffle(spark):
    # session_window groups in one user-keyed aggregation: no join, at
    # most spread + one shuffle.
    plan = plan_of(spark, "events_session_window_builtin")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 2, plan


def test_abc_runs_window_on_part_level_rollup(spark):
    # The global running sum must run over the part-level revenue
    # rollup (catalog-sized), never the lineitem fact; the total rides
    # a 1-row broadcast.
    plan = plan_of(spark, "parts_abc_classification")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_partkey" in read and "l_extendedprice" in read
    assert "l_quantity" not in read and "l_shipdate" not in read


def test_holdout_lm_scores_type_table_not_token_stream(spark):
    # The backoff scoring joins run on the val-pair TYPE table; count
    # tables LEFT-join (OOV-safe); no cartesian beyond the 1-row stats
    # broadcast.
    plan = plan_of(spark, "lm_perplexity_holdout")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_apss_prefix_no_cross_join_no_global_window(spark):
    # Prefix filtering must stay an equi-join pipeline: any Cartesian /
    # broadcast-nested-loop node means someone rewrote it into the
    # quadratic theta join; a SinglePartition exchange means the per-doc
    # ranking window lost its partitioning.
    plan = plan_of(spark, "dedup_apss_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_conformal_broadcasts_thresholds(spark):
    # Per-type medians/thresholds are |event_type|-row tables: they must
    # broadcast onto the calibration/test scans, never shuffle the facts.
    plan = plan_of(spark, "stats_conformal_coverage")
    assert "BroadcastHashJoin" in plan


def test_boilerplate_df_join_not_broadcast_gated(spark):
    # The line-df join is corpus-sized on both sides at scale — the plan
    # must be pure equi-joins (no nested loop), and the per-doc aggregate
    # must keep map-side partial aggregation (HashAggregate pairs).
    plan = plan_of(spark, "text_boilerplate_lines")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_calibration_bins_single_shuffle(spark):
    # scan → partial agg → ONE exchange → final agg onto <= 10 rows.
    plan = plan_of(spark, "quality_calibration_bins")
    assert n_shuffles(plan) <= 1
    assert "Join" not in plan


def test_entity_blocking_is_single_equi_join(spark):
    # Blocking = one shuffle per side on the block key; the a<b predicate
    # must ride the equi-join as a filter, not force a nested loop.
    plan = plan_of(spark, "dedup_entity_blocking")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pinball_thresholds_broadcast(spark):
    # The per-type P90 table is |event_type| rows: broadcast onto the
    # test scan, never a fact-fact SortMergeJoin.
    plan = plan_of(spark, "ts_pinball_loss")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ht_estimate_rate_table_broadcast(spark):
    # The per-source rate dim broadcasts; the sampling decision and both
    # the HT and truth sums ride ONE map-side-combinable rollup.
    plan = plan_of(spark, "sample_ht_estimate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_effective_size_is_single_shuffle_join_free(spark):
    plan = plan_of(spark, "sample_effective_size")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 1


def test_spearman_windows_stay_partitioned(spark):
    # Rank windows partition by priority over the daily rollup — no
    # global single-partition sort, no joins.
    plan = plan_of(spark, "stats_spearman_daily")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_kneser_ney_scores_type_table(spark):
    # Same contract as the holdout-LM key: scoring joins run on the val
    # TYPE table with the 1-row N1all broadcast the only non-equi join.
    plan = plan_of(spark, "lm_kneser_ney_bigram")
    assert "CartesianProduct" not in plan
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj) <= 1


def test_strict_funnel_two_shuffles(spark):
    # user-key window shuffle + daily rollup shuffle; nothing else.
    plan = plan_of(spark, "events_pattern_strict_funnel")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 2


def test_mcnemar_single_pass(spark):
    # Both classifiers evaluate in one codegen stage; one rollup.
    plan = plan_of(spark, "quality_classifier_mcnemar")
    assert "Join" not in plan
    assert n_shuffles(plan) <= 1


def test_boilerplate_hash_keys_narrow_shuffle_and_value_identity(spark):
    """hash_keys=True must re-key BOTH boilerplate shuffles on the 8-byte
    xxhash64(line) — no Exchange may partition on the raw line string —
    and at sf0.001 (no hash collisions) the two variants must agree."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from zip_to_parquet_spark.operators.textops import boilerplate_line_stats
    from zip_to_parquet_spark.schema import load_table

    d = load_table(spark, SF, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    nl = F.greatest(
        ((F.size("toks") + 7) / 8).cast("long"), F.lit(1).cast("long")
    )
    lines = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), nl - 1),
                lambda i: F.array_join(
                    F.slice("toks", (i * 8 + 1).cast("int"), 8), " "
                ),
            )
        ).alias("line"),
    ).withColumn("wc", F.size(F.split("line", " ")).cast("long"))

    hashed = boilerplate_line_stats(lines, hash_keys=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        hashed.explain("formatted")
    plan = buf.getvalue()
    # The line-key exchanges hash-partition on xxhash64, never the string.
    assert "xxhash64" in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        if "line_key" in args:
            # doc_id rollup partitions are fine; line_key partitions must
            # be the hashed 8-byte column (bigint), not a string line.
            assert "string" not in args
    got = {
        tuple(r)
        for r in hashed.orderBy("doc_id").collect()
    }
    want = {
        tuple(r)
        for r in boilerplate_line_stats(lines, hash_keys=False)
        .orderBy("doc_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_linkpred_pair_agg_is_joinless_and_smj_free(spark):
    # r12 plan locks for the re-planned wedge pipeline (VERDICT r11 ask
    # #3), re-pinned r14 for the measured wide+packed+raw-exchange
    # rewrite and r15 for the fused adjacency (deg/hub derive from
    # size(us) over the checkpointed neighbor lists), all three
    # link-prediction keys — one kernel, scidata._common_neighbors:
    #   1. the candidate anti-join holds the shuffle_hash hint — a
    #      SortMergeJoin would sort the ~10^8-row candidate side;
    #   2. array-pair wedge generation — the pair aggregation sits on a
    #      Generate over the MATERIALIZED adjacency (r15: a Filter over
    #      the checkpoint scan; no Join node, no second und exchange —
    #      the r10-era self-join materialized deg^2 rows per center),
    #      and r14: the RAW packed pairs exchange BEFORE the
    #      aggregation (Generate → Exchange → HashAggregate), so the
    #      explode stage streams into shuffle writers instead of
    #      building ~10^8-entry map-side partial-agg hash tables (any
    #      number of Projects may sit between Generate and Filter —
    #      Spark stacks two on the weighted keys' in-row weight);
    #   3. the pair rides the PACKED single-long encoding whenever node
    #      ids fit 31 bits (r14 A/B: branch-free shiftleft/or — see the
    #      measurement history at scidata.PACK_MAX_NODE);
    #   4. the hub-center cap literal reaches the adjacency size filter
    #      — anchored to the Filter condition text, not a bare substring
    #      ("1024" also appears as expression ids / size stats; ADVICE
    #      r12), and derived from HUB_DEG_CAP so a cap change re-pins
    #      the lock. Spark 4.1 renders size's legacy flag either way
    #      (``size(us#N, false)``), so the lock accepts true or false.
    # r13: graph_adamic_adar shares _weighted_linkpred with RA — same
    # locks apply.
    from zip_to_parquet_spark.plans.scidata import HUB_DEG_CAP

    for name in (
        "graph_jaccard_linkpred",
        "graph_resource_allocation",
        "graph_adamic_adar",
    ):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "ShuffledHashJoin LeftAnti" in plan, name
        assert re.search(
            r"HashAggregate \(\d+\)\s*\n[\s:+-]*HashAggregate \(\d+\)\s*\n"
            r"[\s:+-]*Exchange \(\d+\)\s*\n"
            r"(?:[\s:+-]*Project \(\d+\)\s*\n)?"
            r"[\s:+-]*Generate \(\d+\)\s*\n"
            r"(?:[\s:+-]*Project \(\d+\)\s*\n)*"
            r"[\s:+-]*Filter \(\d+\)\s*\n"
            r"[\s:+-]*Scan ExistingRDD",
            plan,
        ), f"{name}: pair agg not raw-exchange-over-Generate-over-ckpt-adj"
        assert re.search(r"Keys \[\d\]: \[pk#", plan), (
            f"{name}: default encoding must be packed"
        )
        assert re.search(
            rf"size\(us#\d+(?:, (?:true|false))?\) <= {HUB_DEG_CAP}", plan
        ), f"{name}: hub cap size filter missing"
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_linkpred_precision_eval_tail_streams_heldout(spark):
    # r14 plan locks for linkpred_precision_at_k: the wedge stage inherits
    # the family locks (shuffle_hash anti-join, hub-cap filter, no
    # cartesian), and the EVALUATION tail must keep the corpus-sized
    # held-out edge set stream-side — hit detection is a
    # BroadcastHashJoin against the broadcast ≤100-row ranked relation.
    # The first version's ranked-LEFT-JOIN-test compiled to a
    # SortMergeJoin that sorts the held-out set; lock: no SortMergeJoin
    # may key on the edge columns (u, v) — the only tolerated SMJ is the
    # constant-size k-grid join.
    from zip_to_parquet_spark.plans.scidata import HUB_DEG_CAP

    plan = plan_of(spark, "linkpred_precision_at_k")
    assert "ShuffledHashJoin LeftAnti" in plan
    assert re.search(
        rf"size\(us#\d+(?:, (?:true|false))?\) <= {HUB_DEG_CAP}", plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    raw = (
        all_queries()["linkpred_precision_at_k"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"SortMergeJoin \[u#", raw), raw[:3000]


def test_linkpred_degree_dims_size_aware_fallback(spark, monkeypatch):
    # VERDICT r11 finding #1: the degree dims / hub set are
    # node-cardinality, so above the size_aware_side threshold they must
    # join WITHOUT a force-broadcast (fallback = plain shuffle join,
    # never a nested loop) and still produce identical values. As in
    # test_lm_surprisal_shuffle_fallback_over_threshold, the physical
    # plan can't distinguish (AQE auto-broadcasts any small side), so
    # the HINT count is read from the analyzed logical plan.
    from zip_to_parquet_spark.plans import scidata

    # r15 fused adjacency: the hub prune is a size filter and the
    # weighted keys compute their per-center weight in-row, so the only
    # remaining size-aware dims are Jaccard's shared deg side (dx and
    # dy). RA/AA have ZERO force-broadcast joins — their rows below
    # assert exactly that (and that values are unchanged either way).
    default_max = scidata.DEG_BROADCAST_MAX
    for name, n_hints in (
        ("graph_jaccard_linkpred", 2),
        ("graph_resource_allocation", 0),
        ("graph_adamic_adar", 0),
    ):
        q = all_queries()[name]
        monkeypatch.setattr(scidata, "DEG_BROADCAST_MAX", default_max)
        default = q(spark, SF)
        analyzed_default = default._jdf.queryExecution().analyzed().toString()
        assert analyzed_default.count("strategy=broadcast") >= n_hints, name

        # -1, not 0: an EMPTY hub set passes a 0-row probe (0 <= 0) and
        # force-broadcasts legitimately; -1 fails every probe.
        monkeypatch.setattr(scidata, "DEG_BROADCAST_MAX", -1)
        forced = q(spark, SF)
        analyzed = forced._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("strategy=broadcast") == 0, name
        fplan_buf = io.StringIO()
        with contextlib.redirect_stdout(fplan_buf):
            forced.explain("formatted")
        fplan = fplan_buf.getvalue()
        assert "BroadcastNestedLoopJoin" not in fplan, name
        assert "CartesianProduct" not in fplan, name
        assert [tuple(r) for r in forced.collect()] == [
            tuple(r) for r in default.collect()
        ], name


@pytest.mark.parametrize(
    "name",
    [
        "graph_jaccard_linkpred",
        "graph_resource_allocation",
        "graph_adamic_adar",
        "linkpred_precision_at_k",
    ],
)
def test_linkpred_struct_pair_fallback_same_values(spark, monkeypatch, name):
    # The struct pair encoding (the automatic fallback for node ids
    # ≥ 2³¹, where the single-long pack would collide) must produce the
    # SAME rows as the packed encoding — packing is an encoding choice,
    # never a semantic one — and must hold the shuffle_hash hint on its
    # two-key anti-join. Driven through the kernel's real selection
    # (_max_node(deg) < PACK_MAX_NODE) for every caller of
    # _common_neighbors, since each consumes its output differently.
    from zip_to_parquet_spark.plans import scidata

    q = all_queries()[name]
    packed_rows = [tuple(r) for r in q(spark, SF).collect()]
    monkeypatch.setattr(scidata, "PACK_MAX_NODE", 0)
    struct_df = q(spark, SF)
    plan_buf = io.StringIO()
    with contextlib.redirect_stdout(plan_buf):
        struct_df.explain("formatted")
    plan = plan_buf.getvalue()
    assert not re.search(r"Keys \[\d\]: \[pk#", plan)  # struct path taken
    assert "ShuffledHashJoin LeftAnti" in plan  # shuffle_hash holds there
    assert "SortMergeJoin LeftAnti" not in plan
    assert [tuple(r) for r in struct_df.collect()] == packed_rows
    assert packed_rows
