"""Operational behaviors a production deployment leans on — exercised
against the real session so upgrades cannot silently change them:
corrupt-input tolerance, in-flight metric observation, and the
merged-schema read contract (the query-key side of which is
scan_schema_evolution)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from zip_to_parquet_spark.schema import load_table

SF = "/root/testdata/sf0.001"


def test_ignore_corrupt_files_salvages_good_shards(spark, tmp_path):
    """A 100 TB landing dir WILL contain truncated/garbage files; with
    spark.sql.files.ignoreCorruptFiles the scan salvages every healthy
    shard instead of failing the job. Default (fail-fast) must raise."""
    good = load_table(spark, SF, "region")
    n_good = good.count()
    good.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "d"))
    with open(tmp_path / "d" / "part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a parquet file")

    import pytest

    # Fail-fast default: the error must actually be about the bad file
    # (footer/parquet parse), not an incidental path/schema problem.
    with pytest.raises(Exception, match=r"(?i)footer|parquet|corrupt"):
        spark.read.parquet(str(tmp_path / "d")).count()

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = spark.read.parquet(str(tmp_path / "d")).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
    assert got == n_good


def test_observe_metrics_ride_the_job(spark):
    """df.observe(): QA metrics computed IN-FLIGHT on the same pass as
    the action — no second scan — via the collected-metrics API. The
    zero-extra-pass property is why production pipelines attach row
    counts / null budgets to every write this way."""
    from pyspark.sql import Observation

    obs = Observation("qa")
    df = (
        load_table(spark, SF, "lineitem")
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_seen"),
            F.sum(
                F.when(F.col("l_quantity").isNull(), 1).otherwise(0)
            ).alias("null_qty"),
        )
        .filter(F.col("l_quantity") > 25)
    )
    n_filtered = df.count()
    m = obs.get
    # The observation sees PRE-filter traffic (it rides the scan).
    assert m["rows_seen"] > n_filtered > 0
    assert m["null_qty"] == 0


def test_aqe_coalesces_small_shuffles(spark):
    """AQE must be live: a 32-partition shuffle over tiny data coalesces
    at runtime (AQEShuffleRead coalesced) — the mechanism that right-
    sizes reducer counts at 100 TB without hand-tuning
    spark.sql.shuffle.partitions per stage."""
    import contextlib
    import io

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = (
        load_table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # AQE final plan exists only after execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan.lower()


def test_parquet_zstd_codec_roundtrip(spark, tmp_path):
    """zstd parquet output (the modern storage-cost default) must be a
    first-class sink option: codec recorded in the file metadata,
    lossless round-trip."""
    import pyarrow.parquet as pq

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    out = str(tmp_path / "zstd")
    docs.write.option("compression", "zstd").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    a = {tuple(r) for r in docs.collect()}
    assert {tuple(r) for r in back.collect()} == a
    part = next(
        p for p in os.listdir(out) if p.endswith(".parquet")
    )
    meta = pq.ParquetFile(os.path.join(out, part)).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"


def test_exact_group_auc_known_values(spark):
    """Midrank Mann-Whitney AUC on hand-checkable inputs: perfect
    separation -> 1000, reversed -> 0, all-tied -> 500, single-class ->
    NULL, and a mixed-ties case verified against the closed form."""
    from zip_to_parquet_spark.plans.learn import exact_group_auc

    rows = (
        # g=perf: every positive scores above every negative.
        [("perf", 10.0, 1), ("perf", 9.0, 1), ("perf", 1.0, 0), ("perf", 0.5, 0)]
        # g=rev: every positive scores below every negative.
        + [("rev", 0.1, 1), ("rev", 0.2, 1), ("rev", 5.0, 0)]
        # g=tied: one score value for everything -> coin-flip AUC.
        + [("tied", 3.0, 1), ("tied", 3.0, 1), ("tied", 3.0, 0)]
        # g=mono: single class -> undefined.
        + [("mono", 1.0, 1), ("mono", 2.0, 1)]
        # g=mix: pos at {2,2}, neg at {1,2}. Pairs: (2,1)=1, (2,1)=1,
        # (2,2)=.5, (2,2)=.5 -> AUC = 3/4.
        + [("mix", 2.0, 1), ("mix", 2.0, 1), ("mix", 1.0, 0), ("mix", 2.0, 0)]
    )
    df = spark.createDataFrame(rows, "g string, score double, pos int")
    got = {r["g"]: r for r in exact_group_auc(df, "g").collect()}
    assert got["perf"]["auc_milli"] == 1000
    assert got["rev"]["auc_milli"] == 0
    assert got["tied"]["auc_milli"] == 500
    assert got["mono"]["auc_milli"] is None
    assert got["mix"]["auc_num"] * 4 == got["mix"]["auc_den"] * 3
    # The rational is exact even where milli truncates: 750 exactly here.
    assert got["mix"]["auc_milli"] == 750


def test_boilerplate_lines_conservation_and_signal(spark):
    """Kept + boiler word masses reconcile, line segmentation matches
    ceil(words/8), and the fixture's planted near-duplicates actually
    produce cross-document boilerplate lines."""
    from zip_to_parquet_spark.plans import all_queries

    out = all_queries()["text_boilerplate_lines"](spark, SF)
    rows = out.collect()
    docs = {
        r["doc_id"]: r["text"].count(" ") + 1
        for r in load_table(spark, SF, "documents").collect()
    }
    assert len(rows) == len(docs)
    for r in rows:
        assert r["n_lines"] == -(-docs[r["doc_id"]] // 8)
        assert r["total_words"] == docs[r["doc_id"]]
        assert 0 <= r["n_boiler_lines"] <= r["n_lines"]
        assert r["kept_words"] <= r["total_words"]
        assert r["kept_permille"] == 1000 * r["kept_words"] // r["total_words"]
    assert sum(r["n_boiler_lines"] for r in rows) > 0


def test_conformal_coverage_split_and_guarantee(spark):
    """The 75/25 split reconciles with the per-type event counts and the
    empirical coverage sits in a sane band around the 90% target (the
    finite-sample guarantee is >= 90% in expectation; one draw at sf0.001
    gets a generous floor)."""
    from zip_to_parquet_spark.plans import all_queries

    out = {
        r["event_type"]: r
        for r in all_queries()["stats_conformal_coverage"](spark, SF).collect()
    }
    totals = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(out) == set(totals)
    for t, r in out.items():
        assert r["n_cal"] + r["n_test"] == totals[t]
        assert r["qhat_cents"] >= 0
        assert 750 <= r["coverage_permille"] <= 1000
        assert r["covered"] <= r["n_test"]


def test_changepoint_moments_reconcile(spark):
    """Left/right segment moments reconcile with the totals and the
    winning split is interior."""
    from zip_to_parquet_spark.plans import all_queries

    for r in all_queries()["ts_changepoint_binary"](spark, SF).collect():
        assert 1 <= r["n_left_days"] < r["t_days"]
        assert r["sum_left"] + r["sum_right"] == r["n_total"]
        assert r["bss_milli"] >= 0


def test_entity_blocking_pairs_canonical_and_scored(spark):
    """Pairs are canonical (a < b), scores decompose into the documented
    weights, and is_match is exactly score >= 4."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["dedup_entity_blocking"](spark, SF).collect()
    assert rows, "blocking produced no candidate pairs"
    assert all(r["a_key"] < r["b_key"] for r in rows)
    assert all(0 <= r["score"] <= 6 for r in rows)
    assert all(r["is_match"] == (r["score"] >= 4) for r in rows)
    # +2 ($100 bucket) implies +3 ($1000 bucket) is possible to miss only
    # at bucket boundaries that differ in the coarser grid — but a score
    # of exactly 2 requires $100 agreement WITHOUT $1000 agreement, which
    # the nesting makes impossible: $100 buckets nest inside $1000.
    assert all(r["score"] != 2 for r in rows)


def test_apss_prefix_matches_brute_force_synthetic(spark):
    """Prefix filtering finds exactly the brute-force answer on a crafted
    corpus: two planted near-duplicate pairs over distinct vocabularies,
    plus unrelated docs that share a few hot terms (the case a df-capped
    index mishandles and prefix filtering must not)."""
    from itertools import combinations

    from zip_to_parquet_spark.operators.dedupe import (
        apss_prefix_pairs,
        shingle_sets,
    )

    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    base_b = "one two three four five six seven eight nine ten"
    docs = [
        (1, base_a),
        (2, base_a + " lambda"),          # near-dup of 1
        (3, base_b),
        (4, "zero " + base_b),            # near-dup of 3
        (5, "alpha beta unrelated words everywhere in this document now"),
        (6, "totally different content with no overlap at all here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingle_sets(df)
    got = {
        (r["doc_a"], r["doc_b"]): r["o"]
        for r in apss_prefix_pairs(sh).collect()
    }
    # Brute force in Python over the same 3-gram shingle sets.
    sets = {
        r["doc_id"]: set(r["sh"]) for r in sh.collect()
    }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        o = len(sets[a] & sets[b])
        if o > 0 and 2 * o * o >= len(sets[a]) * len(sets[b]):
            want[(a, b)] = o
    assert got == want
    assert (1, 2) in got and (3, 4) in got  # the planted pairs survive


def test_trimmed_mean_invariants(spark):
    """Trim bookkeeping reconciles: k = n div 20, trimmed_n = n - 2k, and
    the winsorized sum re-adds exactly k boundary values per tail."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["stats_trimmed_mean"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["k"] == r["n"] // 20
        assert r["trimmed_n"] == r["n"] - 2 * r["k"]
        assert r["winsor_sum_cents"] >= r["trimmed_sum_cents"]
        assert (
            r["trimmed_mean_millicents"]
            == r["trimmed_sum_cents"] * 1000 // r["trimmed_n"]
        )


def test_temperature_mixture_flattens(spark):
    """T=2 rates up-weight small sources monotonically: boost_micro is
    non-increasing in source size, and the temperature distribution sits
    between proportional and uniform."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["mixture_temperature_rates"](spark, SF).collect()
    rows.sort(key=lambda r: (r["n_docs"], r["source"]))
    boosts = [r["boost_micro"] for r in rows]
    for small, big in zip(boosts, boosts[1:]):
        assert small >= big - 1  # integer floor tolerance on ties
    total = sum(r["temp_permille"] for r in rows)
    assert 1000 - len(rows) <= total <= 1000


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_strict_funnel_contiguity_semantics(spark, tmp_path):
    """The defining cases: an intervening event of ANY type breaks the
    match; a gap over 30 minutes breaks it; the clean adjacent pair
    matches exactly once."""
    import datetime as dt

    from zip_to_parquet_spark.plans import all_queries

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: view -> purchase 10 min later, adjacent => MATCH
        (1, m(0), 1, "view", 1.0, "{}"),
        (2, m(10), 1, "purchase", 1.0, "{}"),
        # user 2: view -> click -> purchase => intervening click, no match
        (3, m(0), 2, "view", 1.0, "{}"),
        (4, m(5), 2, "click", 1.0, "{}"),
        (5, m(10), 2, "purchase", 1.0, "{}"),
        # user 3: view -> purchase 40 min later => too late, no match
        (6, m(0), 3, "view", 1.0, "{}"),
        (7, m(40), 3, "purchase", 1.0, "{}"),
        # user 4: purchase then view => wrong order, no match
        (8, m(0), 4, "purchase", 1.0, "{}"),
        (9, m(5), 4, "view", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = all_queries()["events_pattern_strict_funnel"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_matches"] == 1 and r["n_users"] == 1
    assert r["gap_us_sum"] == 10 * 60 * 1_000_000


def test_l_diversity_flags_uniform_sensitive_group(spark, tmp_path):
    """A large (k-anonymous) group whose sensitive value is uniform must
    surface as weak (l = 1); a diverse group must not."""
    from zip_to_parquet_spark.plans import all_queries

    cust = [
        # nation 1, band 0: four customers (k-fine)
        (1, "Customer#1", 1, 100.0, "AUTOMOBILE"),
        (2, "Customer#2", 1, 200.0, "AUTOMOBILE"),
        (3, "Customer#3", 1, 300.0, "AUTOMOBILE"),
        (4, "Customer#4", 1, 400.0, "AUTOMOBILE"),
        # nation 2, band 0: two customers with diverse priorities
        (5, "Customer#5", 2, 100.0, "MACHINERY"),
        (6, "Customer#6", 2, 200.0, "MACHINERY"),
    ]
    orders = (
        # nation 1's orders all share ONE priority -> l = 1, weak
        [(i, 1 + (i % 4), "O", 10.0, "1996-01-0%d" % (1 + i % 9), "1-URGENT")
         for i in range(8)]
        # nation 2's orders span three priorities -> l = 3, fine
        + [(100, 5, "O", 10.0, "1996-01-01", "1-URGENT"),
           (101, 5, "O", 10.0, "1996-01-02", "2-HIGH"),
           (102, 6, "O", 10.0, "1996-01-03", "3-MEDIUM")]
    )
    spark.createDataFrame(
        cust, "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {r["nat"]: r for r in all_queries()["privacy_l_diversity"](
        spark, str(tmp_path)).collect()}
    assert out[1]["min_l"] == 1 and out[1]["weak_groups"] == 1
    assert out[1]["weak_rows"] == 8
    assert out[2]["min_l"] == 3 and out[2]["weak_groups"] == 0


def test_kneser_ney_probability_mass_and_bounds(spark):
    """KN probabilities are proper probabilities: every per-bigram micro
    value sits in [0, 1e6], the per-source accounting reconciles, and the
    val split scores every source that has val documents."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["lm_kneser_ney_bigram"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r["mean_p_micro"] <= 1_000_000
        assert r["mean_p_micro"] == r["p_sum_micro"] // r["n_bigrams"]
        assert 0 <= r["unseen_permille"] <= 1000


def test_isotonic_pav_matches_classic_stack_algorithm(spark):
    """The minimax closed form must equal the classic stack PAV run in
    plain Python on the same bins, and the fit must be monotone."""
    import duckdb

    from zip_to_parquet_spark.plans import all_queries

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    bins = con.execute("""
        WITH scored AS (
          SELECT (lang = 'en')::INT AS pos,
                 floor(1000 * (
                   least(len(string_split(text, ' ')) / 400.0, 1.0) * 0.5
                   + least(len(list_filter(string_split(text, ' '),
                             x -> x IN ('the','a','of','and','to','in','is','on','for')))::DOUBLE
                           / greatest(len(string_split(text, ' ')), 1)
                           / 0.05, 1.0) * 0.5))::BIGINT AS s
          FROM documents
        )
        SELECT least(s // 100, 9) AS bin, count(*) AS n, sum(pos) AS p
        FROM scored GROUP BY 1 ORDER BY 1
    """).fetchall()
    # Classic PAV: pool adjacent violators over (n, p) blocks.
    from fractions import Fraction

    blocks = [[b, n, p] for b, n, p in bins]  # [first_bin, n, p]
    stack = []
    for blk in blocks:
        stack.append(blk)
        while len(stack) >= 2 and (
            Fraction(stack[-2][2], stack[-2][1])
            > Fraction(stack[-1][2], stack[-1][1])
        ):
            b2 = stack.pop()
            stack[-1][1] += b2[1]
            stack[-1][2] += b2[2]
    # Map each original bin to its pooled block's mean by walking the
    # blocks in order, consuming each block's row mass.
    want = {}
    block_iter = iter(stack)
    cur = next(block_iter)
    remaining = cur[1]
    for b, n, p in bins:
        while remaining == 0:
            cur = next(block_iter)
            remaining = cur[1]
        want[b] = 1000 * cur[2] // cur[1]
        remaining -= n

    got = {
        r["bin"]: r
        for r in all_queries()["quality_isotonic_pav"](spark, SF).collect()
    }
    assert {b: r["iso_milli"] for b, r in got.items()} == want
    seq = [got[b]["iso_milli"] for b in sorted(got)]
    assert seq == sorted(seq)  # monotone non-decreasing
    assert all(0 <= v <= 1000 for v in seq)


def test_group_aware_split_never_straddles_groups(spark):
    """Every exact-duplicate cluster must land wholly inside ONE split,
    and the assignment must agree with the md5-prefix rule applied to
    the cluster representative."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["split_group_aware"](spark, SF).collect()
    assert len(rows) > 0
    by_rep = {}
    for r in rows:
        by_rep.setdefault(r["group_rep"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_rep.values())
    import hashlib

    for rep, splits in by_rep.items():
        b = hashlib.md5(str(rep).encode()).hexdigest()[:2]
        want = "train" if b < "cc" else ("val" if b < "e6" else "test")
        assert splits == {want}
    # the fixture plants near-dups, so at least one cluster has size > 1
    assert any(r["group_size"] > 1 for r in rows)


def test_gap_log2_buckets_are_exact_powers_of_two(spark):
    """Bucket k must hold exactly gaps in [2^k, 2^(k+1)); bucket -1 the
    simultaneous events."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["events_gap_log2_histogram"](spark, SF).collect()
    assert rows
    for r in rows:
        if r["bucket"] == -1:
            assert r["max_gap_us"] <= 0
        else:
            k = r["bucket"]
            assert 2**k <= r["min_gap_us"] <= r["max_gap_us"] < 2 ** (k + 1)


def test_int8_quant_error_bounds(spark):
    """Per-element residuals are <= 0.5 quant units, so a vector's
    err_micro is bounded by 500000 * n_dims; saturation never exceeds
    element count."""
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["vector_int8_quant_error"](spark, SF).collect()
    assert rows
    for r in rows:
        dims = r["n_elems"] // r["n_vecs"]
        assert 0 <= r["max_vec_err_micro"] <= 500000 * dims
        assert 0 <= r["sum_err_micro"] <= 500000 * r["n_elems"]
        assert 0 <= r["n_saturated"] <= r["n_elems"]
        # every vector has at least its amax element exactly representable,
        # so errors can't be maximal everywhere
        assert r["sum_err_micro"] < 500000 * r["n_elems"]


def test_int8_quant_error_empty_vector_parity(spark, tmp_path):
    """ADVICE r8: an EMPTY embedding array must short-circuit to 0
    identically in both engines. Without the size(embedding)=0 guard,
    DuckDB's list_max([]) is NULL (whole CASE -> NULL) while Spark's
    aggregate([], 0L, +) is 0 — a latent parity break the real fixture
    (no degenerate rows) can never expose. This test builds the
    degenerate fixture and runs the REAL query + REAL oracle on it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.parity import rows_multiset
    from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

    tbl = pa.table(
        {
            "vec_id": pa.array([0, 1, 2], pa.int64()),
            "embedding": pa.array(
                [[], [0.0, 0.0, 0.0], [1.0, -2.0, 0.5]],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 0, 1], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    sdf = all_queries()["vector_int8_quant_error"](spark, str(tmp_path))
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet'"
    )
    res = con.execute(all_oracle_sql()["vector_int8_quant_error"])
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]
    con.close()

    assert sorted(sdf.columns) == sorted(duck_cols)
    assert rows_multiset(sdf.columns, spark_rows) == rows_multiset(
        duck_cols, duck_rows
    )
    # And the degenerate rows landed where they should: label 0 holds the
    # empty + zero vectors -> zero error, zero saturation, 3 elems total.
    by_label = {r[0]: r for r in spark_rows}
    assert by_label[0][3] == 0 and by_label[0][5] == 0
