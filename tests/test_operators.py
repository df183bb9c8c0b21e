"""Unit tests for the operator library against hand-computable truths."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.dedupe import (
    exact_dedup,
    minhash_lsh_pairs_docs,
    ngram_jaccard_pairs,
    shingle_sets,
    simhash,
    simhash_pairs,
    span_dedup,
)
from zip_to_parquet_spark.operators.multimodal import attach_media_metadata, decode_media
from zip_to_parquet_spark.operators.vectors import cosine
from zip_to_parquet_spark.functions.globs import glob_to_regex


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words entirely unrelated text here now"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["text_sha"] for r in exact_dedup(docs).collect()}
    assert set(out) == {1, 3, 4}  # doc 2 deduped into doc 1 (min id wins)
    expected = hashlib.sha256(b"the quick brown fox jumps over the lazy dog").hexdigest()
    assert out[1] == expected


def test_span_dedup_removes_cross_doc_runs(spark):
    """A verbatim run of >= span_words words shared by two docs is removed
    from BOTH regardless of its alignment inside each doc (stride-1 grams
    make detection alignment-invariant — the property the tiled form
    lacked); unique text and sub-gram-length docs survive verbatim."""
    boiler = "all rights reserved copyright notice terms of service apply"  # 9 words
    rows = [
        # Deliberately DIFFERENT phases: offset 2 in doc 1, offset 0 in doc 2.
        (1, "alpha bravo " + boiler + " tail1"),
        (2, boiler + " charlie delta echo"),
        (3, "totally unique words that appear nowhere else at all"),
        (4, "tiny"),  # shorter than one gram: zero grams, text kept verbatim
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, span_words=3).collect()}

    assert out[4]["n_grams"] == 0 and out[4]["clean_text"] == "tiny"
    assert out[3]["n_dup_grams"] == 0
    assert out[3]["clean_text"] == rows[2][1]
    # The 9 boiler words vanish from both docs despite the phase mismatch;
    # neighboring unique words survive except those captured inside a
    # boundary-straddling duplicated gram (here: none straddle, because
    # the straddling grams differ between the two docs).
    assert out[1]["clean_text"] == "alpha bravo tail1"
    assert out[2]["clean_text"] == "charlie delta echo"
    assert out[1]["n_dup_grams"] == 7  # the run's 9-3+1 internal grams
    assert out[2]["n_dup_grams"] == 7


def test_ngram_jaccard_pairs(spark, docs):
    # Guard off: exact unguarded semantics on a tiny fixture (at n_docs=4
    # the corpus-relative permille bound would drop every shared shingle —
    # the guard is a corpus-scale contract, unit-tested separately below).
    sh = shingle_sets(docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(
                 sh, threshold=0.1, max_shingle_permille=None).collect()}
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3 differ in the last word: 9 words -> 7 shingles each,
    # 6 shared -> jaccard = 6 / (7 + 7 - 6) = 0.75
    assert math.isclose(pairs[(1, 3)], 6 / 8)
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs_docs(docs, threshold=0.7).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_pairs_equal_exact_jaccard_pairs(spark, docs):
    # On near-duplicates this dense, banding must miss nothing: the LSH
    # pairs (Python shingling in the UDF, Catalyst shingle_sets in the
    # verify) equal the unguarded exact inverted-index pairs, jaccard
    # values included.
    via_text = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                minhash_lsh_pairs_docs(docs, threshold=0.7).collect()}
    exact = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
             ngram_jaccard_pairs(shingle_sets(docs), 0.7,
                                 max_shingle_permille=None).collect()}
    assert via_text == exact and via_text


def test_simhash_identical_and_different(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[1] == out[2]  # identical text -> identical signature
    assert out[1] != out[4]
    assert all(v >= 0 for v in out.values())  # 60-bit packing stays positive
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_pairs(simhash(docs), max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_cosine_known_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0]), (2, [1.0, 2.0], [2.0, 4.0]), (3, [1.0, 0.0], [1.0, 1.0])],
        "id long, a array<double>, b array<double>",
    )
    got = {r["id"]: r["c"] for r in
           df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert math.isclose(got[1], 0.0, abs_tol=1e-12)
    assert math.isclose(got[2], 1.0)
    assert math.isclose(got[3], 1 / math.sqrt(2))


def test_cosine_zero_vector_is_null(spark):
    # ANSI mode: 0/0 would abort the job; zero-norm vectors must yield NULL
    # (similar to nothing) and fall out of threshold filters/top-k ranks.
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 2.0]), (2, [0.0, 0.0], [0.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )
    got = {r["id"]: r["c"] for r in
           df.select("id", cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert got[1] is None and got[2] is None


def test_minhash_and_jaccard_survive_empty_docs(spark):
    # Docs with < 3 words have empty 3-shingle sets; they must neither
    # crash the ANSI-mode jaccard (0/0) nor pair with each other through a
    # degenerate all-zeros LSH bucket.
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, ""),
        (4, ""),
        (5, "hi"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           minhash_lsh_pairs_docs(docs, threshold=0.7).collect()}
    assert lsh == {(1, 2)}
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(
                 shingle_sets(docs), threshold=0.1,
                 max_shingle_permille=None).collect()}
    assert exact == {(1, 2)}


def test_incremental_dedup_vs_snapshot_classification(spark):
    """Exact recrawls hit the hash index (min-id canonical match), light
    edits classify near_dup with the best prior match, fresh text and
    sub-n-word docs classify novel."""
    from zip_to_parquet_spark.operators.dedupe import (
        incremental_dedup_vs_snapshot,
        snapshot_dedup_index,
    )

    prior = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
            (3, "completely different prior content about spark engines here"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog today"),  # exact
            (102, "the quick brown fox jumps over the lazy dog today extra"),  # near
            (103, "fresh unrelated words nothing shared with history corpus"),  # novel
            (104, "hi"),  # < n words: no shingles → novel
        ],
        "doc_id long, text string",
    )
    hash_idx, band_idx = snapshot_dedup_index(prior)
    out = {
        r["doc_id"]: (r["status"], r["matched_prior_id"], r["jaccard"])
        for r in incremental_dedup_vs_snapshot(
            new, hash_idx, band_idx, prior
        ).collect()
    }
    assert out[101] == ("exact_dup", 1, None)  # min prior id wins
    status, match, j = out[102]
    # 10-word base → 8 trigrams; +1 word adds 1 → j = 8/9; doc 1 ties doc
    # 2 on jaccard, min prior id breaks the tie.
    assert (status, match) == ("near_dup", 1)
    assert math.isclose(j, 8 / 9)
    assert out[103] == ("novel", None, None)
    assert out[104] == ("novel", None, None)
    assert len(out) == 4


def test_hot_shingle_permille_guard_drops_stop_shingle_pairs(spark):
    """Corpus-relative guard semantics: a pair whose ONLY shared shingle
    exceeds the permille df bound disappears from the candidate set, while
    pairs sharing a rare shingle keep their EXACT similarity value."""
    from zip_to_parquet_spark.operators.dedupe import ngram_jaccard_pairs

    # 20 docs all containing the stop-shingle "of the day"; docs 1/2 also
    # share the rare "alpha bravo charlie" run.
    rows = [(i, f"uniq{i}a uniq{i}b of the day uniq{i}c") for i in range(3, 21)]
    rows += [
        (1, "alpha bravo charlie delta of the day"),
        (2, "alpha bravo charlie echo of the day"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_sets(docs)
    # df("of the day") = 20 = 100% of docs; permille=500 → dropped. The
    # only surviving candidate pair is (1,2) via "alpha bravo charlie",
    # and its jaccard is still computed on the FULL shingle sets.
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(
                 sh, threshold=0.0, max_shingle_permille=500).collect()}
    assert set(pairs) == {(1, 2)}
    # 5 trigrams each, 2 shared ("alpha bravo charlie", plus hot
    # "of the day" which still counts in the verify sets) → 2/8.
    assert math.isclose(pairs[(1, 2)], 2 / 8)
    # Guard off: every doc pairs with every other through the stop-shingle.
    unguarded = ngram_jaccard_pairs(
        sh, threshold=0.0, max_shingle_permille=None).count()
    assert unguarded == 20 * 19 // 2


def test_multimodal_decode_dispatch(spark):
    from zip_to_parquet_spark.operators.multimodal import synth_png, synth_wav
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(2,), (4,), (7,)], "doc_id long")
    media = (
        synth_png(ids.filter("doc_id % 2 = 0")).withColumn("mime", F.lit("image/png"))
        .unionByName(
            synth_wav(ids.filter("doc_id % 2 = 1")).withColumn("mime", F.lit("audio/wav"))
        )
    )
    feats = {r["doc_id"]: r for r in decode_media(media).collect()}
    assert set(feats) == {2, 4, 7}
    # PNG rows: real decoded dims + defiltered pixel sum, audio cols NULL.
    assert feats[2]["width"] == 8 + 2 % 25 and feats[2]["height"] == 8 + (2 % 7) * 3
    assert feats[2]["px_sum"] is not None and feats[2]["sample_rate"] is None
    # WAV rows: recovered container params, image cols NULL.
    assert feats[7]["sample_rate"] == 8000
    assert feats[7]["n_samples"] == 800 + (7 % 100) * 8
    assert feats[7]["width"] is None


def test_multimodal_decode_on_error(spark):
    from pyspark.sql import functions as F

    bad = spark.createDataFrame([(1, b"not a png", "image/png")],
                                "doc_id long, payload binary, mime string")
    with pytest.raises(Exception):
        decode_media(bad, on_error="fail").collect()
    assert decode_media(bad, on_error="skip").count() == 0
    nulled = decode_media(bad, on_error="null").collect()
    assert len(nulled) == 1 and nulled[0]["px_sum"] is None
    unknown = spark.createDataFrame([(1, b"x", "video/mp4")],
                                    "doc_id long, payload binary, mime string")
    assert decode_media(unknown, on_error="skip").count() == 0


@pytest.mark.parametrize(
    "pattern,matches,rejects",
    [
        ("*.png", ["a.png"], ["d/a.png", "a.txt"]),
        ("**/*.png", ["a.png", "d/a.png", "d/e/a.png"], ["a.txt"]),
        ("doc_?.txt", ["doc_1.txt"], ["doc_12.txt"]),
        ("[ab].txt", ["a.txt", "b.txt"], ["c.txt"]),
        ("[!ab].txt", ["c.txt"], ["a.txt"]),
        ("{foo,bar}.csv", ["foo.csv", "bar.csv"], ["baz.csv"]),
        # Alternatives are globs themselves, not literals (wax semantics).
        ("{*.txt,*.md}", ["a.txt", "b.md"], ["c.rs", "d/a.txt"]),
        ("docs/{**/*.rst,README}", ["docs/a/b.rst", "docs/README"], ["docs/README.md"]),
        ("data/**", ["data/x", "data/d/y"], ["other/x"]),
    ],
)
def test_glob_semantics(pattern, matches, rejects):
    import re

    rx = re.compile(glob_to_regex(pattern))
    for m in matches:
        assert rx.match(m), f"{pattern} should match {m}"
    for r in rejects:
        assert not rx.match(r), f"{pattern} should reject {r}"


def test_connected_components_known_graph(spark):
    from pyspark.sql import Row

    from zip_to_parquet_spark.operators.graph import connected_components_star

    # Components: {1,2,3,4} (chain), {7,9}, singleton edges only — no
    # isolated nodes appear since nodes come from the edge list.
    edges = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=3, doc_b=2), Row(doc_a=3, doc_b=4),
         Row(doc_a=9, doc_b=7)]
    )
    got = {r.node: r.comp for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}


def test_ann_lsh_recall_floor(spark):
    """Multi-table LSH must beat a recall floor against the exact top-5
    (theory on this near-random fixture: ~0.64; a broken single-table
    construction measures ~0.01)."""
    from zip_to_parquet_spark.plans import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.n_id) for r in qs["ann_cosine_topk"](spark, sf).collect()}
    lsh = {(r.q_id, r.n_id) for r in qs["ann_lsh_topk"](spark, sf).collect()}
    assert exact, "exact top-k returned nothing"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.4, f"LSH recall collapsed: {recall:.3f}"


def test_cosine_lsh_pairs_match_brute_force(spark):
    """LSH-bucketed near-dup pairs must equal the brute-force ground truth
    on a corpus with planted near-duplicates (miss prob ~2e-8/pair)."""
    import numpy as np

    from zip_to_parquet_spark.operators.vectors import cosine_lsh_pairs

    rng = np.random.RandomState(7)
    base = rng.standard_normal((30, 64))
    # Plant near-duplicates of vectors 0..4 as ids 30..34 (tiny noise).
    planted = base[:5] + 0.02 * rng.standard_normal((5, 64))
    x = np.vstack([base, planted])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, v array<double>",
    )
    got = {(r.vec_a, r.vec_b) for r in
           cosine_lsh_pairs(df, threshold=0.95, dim=64).collect()}
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(xn @ xn.T, 6)
    want = {(a, b) for a in range(len(x)) for b in range(a + 1, len(x))
            if sims[a, b] >= 0.95}
    assert want, "fixture planted no qualifying pairs"
    assert got == want


def test_pq_recall_floor(spark):
    """PQ16x4 ADC top-5 must beat a recall floor against the EXACT
    inner-product top-5 (the metric PQ scores here). Measured ~0.40 on the
    fixture's near-random embeddings — PQ's hardest case (no cluster
    structure to quantize); chance is ~1%."""
    import numpy as np
    import pyarrow.parquet as pq

    from zip_to_parquet_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    exact = set()
    for qi in np.flatnonzero(ids % 25 == 0):
        ips = x @ x[qi]
        ips[qi] = -np.inf
        exact |= {(ids[qi], ids[j]) for j in np.argsort(-ips, kind="stable")[:5]}
    got = {(r.q_id, r.n_id) for r in all_queries()["ann_pq_topk"](spark, sf).collect()}
    assert exact, "exact IP top-k is empty"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.25, f"PQ recall collapsed: {recall:.3f}"


def test_ivf_trained_recall_floor(spark):
    """Trained-codebook IVF (k=32, nprobe=8) must beat a recall floor
    against the exact top-5 on the fixture (measured ~0.76; random
    embeddings are IVF's hardest case)."""
    from zip_to_parquet_spark.plans import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    exact = {(r.q_id, r.n_id) for r in qs["ann_cosine_topk"](spark, sf).collect()}
    ivf = {(r.q_id, r.n_id) for r in qs["ann_ivf_trained"](spark, sf).collect()}
    assert exact, "exact top-k returned nothing"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.6, f"trained IVF recall collapsed: {recall:.3f}"


def test_wav_roundtrip_real_decode(spark):
    # synth_wav writes a genuine RIFF/WAVE container; audio_features must
    # recover the embedded params by parsing it, and the decoded PCM must
    # have sine-wave statistics: rms ≈ A/√2, zcr ≈ 2f/sr.
    import math

    from zip_to_parquet_spark.operators.multimodal import (
        audio_features,
        synth_wav,
        _wav_params,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 7, 123)], "doc_id long")
    out = {r.doc_id: r for r in audio_features(synth_wav(ids)).collect()}
    for doc_id in (0, 7, 123):
        sr, n, freq = _wav_params(doc_id)
        r = out[doc_id]
        assert (r.n_channels, r.sample_rate, r.n_samples) == (1, sr, n)
        assert r.duration_ms == n * 1000 // sr
        assert math.isclose(r.rms, 12000 / math.sqrt(2), rel_tol=0.02)
        assert math.isclose(r.zcr, 2 * freq / sr, rel_tol=0.05)


def test_png_roundtrip_real_decode(spark):
    # synth_png writes genuine PNG containers cycling all five scanline
    # filters; png_features must defilter correctly to recover the exact
    # generative gradient.
    import numpy as np

    from zip_to_parquet_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
        _png_params,
        _png_pixels,
        png_features,
        synth_png,
    )

    # Pure round trip: decoded image == generative spec, bit for bit.
    for doc_id in (0, 3, 41, 999):
        w, h = _png_params(doc_id)
        img = _png_pixels(doc_id, w, h)
        dw, dh, depth, ctype, out = _decode_png(_encode_png(img))
        assert (dw, dh, depth, ctype) == (w, h, 8, 0)
        assert np.array_equal(out, img)

    # Corrupting a payload byte breaks the CRC — decode must refuse.
    blob = bytearray(_encode_png(_png_pixels(5, *_png_params(5))))
    blob[40] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _decode_png(bytes(blob))

    # Through Spark: features recovered by parsing match the spec.
    ids = spark.createDataFrame([(i,) for i in (0, 3, 41)], "doc_id long")
    rows = {r.doc_id: r for r in png_features(synth_png(ids)).collect()}
    for doc_id in (0, 3, 41):
        w, h = _png_params(doc_id)
        r = rows[doc_id]
        assert (r.width, r.height, r.bit_depth, r.color_type) == (w, h, 8, 0)
        assert r.n_pixels == w * h
        assert r.px_sum == int(_png_pixels(doc_id, w, h).sum())


def test_gemm_topk_matches_catalyst_brute_force(spark):
    # The GEMM partial-top-k path must reproduce the pure-Catalyst
    # broadcast-join + global-window formulation EXACTLY (same doubles:
    # the numpy dot accumulates sequentially over dimensions).
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from zip_to_parquet_spark.operators.vectors import (
        cosine,
        gemm_topk_candidates,
    )
    from zip_to_parquet_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") % 25 == 0)

    qrows = sorted(q.collect(), key=lambda r: r[0])
    cand = gemm_topk_candidates(
        emb, [r[0] for r in qrows], [list(r[1]) for r in qrows], k=5
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    gemm = (
        cand.select("q_id", "n_id", F.round("cos_sim_raw", 6).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )

    qb = q.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    c = emb.select(F.col("vec_id").alias("n_id"), F.col("v").alias("cv"))
    ref = (
        c.join(F.broadcast(qb), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    got = sorted(tuple(r) for r in gemm.collect())
    want = sorted(tuple(r) for r in ref.collect())
    assert got == want


def test_png_resize_nearest_neighbor(spark):
    # Resize must sample from the genuinely-decoded image with the integer
    # nearest-neighbor mapping x_src = x*w_in // w_out.
    import numpy as np

    from zip_to_parquet_spark.operators.multimodal import (
        _png_params,
        _png_pixels,
        png_resize_features,
        synth_png,
    )

    ids = spark.createDataFrame([(i,) for i in (2, 9, 100)], "doc_id long")
    rows = {r.doc_id: r for r in png_resize_features(synth_png(ids)).collect()}
    for doc_id in (2, 9, 100):
        w, h = _png_params(doc_id)
        img = _png_pixels(doc_id, w, h).astype(np.int64)
        xs = (np.arange(8) * w) // 8
        ys = (np.arange(8) * h) // 8
        small = img[np.ix_(ys, xs)]
        r = rows[doc_id]
        assert (r.out_w, r.out_h) == (8, 8)
        assert r.px_sum == int(small.sum())
        assert r.top_left == int(small[0, 0])
        assert r.bottom_right == int(small[7, 7])


def test_codec_roundtrip_properties():
    # Property tests: the PNG encoder/decoder round-trips ARBITRARY
    # grayscale images (not just the generative gradient), and the WAV
    # path round-trips arbitrary PCM lengths.
    import io
    import wave as wavmod

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from zip_to_parquet_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
    )
    def png_prop(w, h, seed):
        img = np.random.RandomState(seed).randint(0, 256, (h, w), np.uint8)
        dw, dh, depth, ctype, out = _decode_png(_encode_png(img))
        assert (dw, dh, depth, ctype) == (w, h, 8, 0)
        assert np.array_equal(out, img)

    @settings(max_examples=20, deadline=None)
    @given(n=st.integers(1, 5000), seed=st.integers(0, 2**31 - 1))
    def wav_prop(n, seed):
        pcm = np.random.RandomState(seed).randint(-(2**15), 2**15, n)
        pcm = pcm.astype(np.int16)
        buf = io.BytesIO()
        with wavmod.open(buf, "wb") as wr:
            wr.setnchannels(1)
            wr.setsampwidth(2)
            wr.setframerate(16000)
            wr.writeframes(pcm.tobytes())
        with wavmod.open(io.BytesIO(buf.getvalue()), "rb") as rd:
            assert rd.getnframes() == n
            got = np.frombuffer(rd.readframes(n), dtype=np.int16)
        assert np.array_equal(got, pcm)

    png_prop()
    wav_prop()


def test_media_decode_on_error_modes(spark):
    # One corrupt payload among good ones: fail aborts, skip drops the
    # row, null keeps it with null features — the zip-source contract,
    # because at corpus scale one bad file must not kill the job.
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from zip_to_parquet_spark.operators.multimodal import (
        audio_features,
        png_features,
        synth_png,
        synth_wav,
    )

    for synth, feats in ((synth_png, png_features), (synth_wav, audio_features)):
        ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
        good = synth(ids)
        corrupted = good.withColumn(
            "payload",
            F.when(F.col("doc_id") == 2, F.lit(b"garbage")).otherwise(
                F.col("payload")
            ),
        )
        with pytest.raises((Py4JJavaError, PySparkException)):
            feats(corrupted, on_error="fail").collect()
        skip = feats(corrupted, on_error="skip").collect()
        assert sorted(r.doc_id for r in skip) == [1, 3]
        null = {r.doc_id: r for r in feats(corrupted, on_error="null").collect()}
        assert sorted(null) == [1, 2, 3]
        assert null[2][1] is None  # first feature column nulled
        assert null[1][1] is not None


def test_semantic_dedup_pairs_planted(spark):
    """SemDeDup pair semantics on planted near-duplicates: a >=0.95 pair
    sharing a cluster is found with its exact cosine; pairs split across
    clusters are invisible (the documented SemDeDup recall bound)."""
    import numpy as np

    from zip_to_parquet_spark.operators.vectors import (
        semantic_dedup_pairs,
        train_ivf_codebook,
    )

    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 16))
    planted = base[:4] + 0.01 * rng.standard_normal((4, 16))
    x = np.vstack([base, planted])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, v array<double>",
    )
    cb = train_ivf_codebook(df, k=4)
    assign, pairs = semantic_dedup_pairs(df, cb)
    clusters = {r["vec_id"]: r["cluster"] for r in assign.collect()}
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = np.round(xn @ xn.T, 6)
    want_same_cluster = {
        (a, b)
        for a in range(len(x))
        for b in range(a + 1, len(x))
        if sims[a, b] >= 0.95 and clusters[a] == clusters[b]
    }
    assert want_same_cluster, "fixture planted no same-cluster pairs"
    assert got == want_same_cluster


def test_span_dedup_invariants_random_corpus(spark):
    """Property sweep on a seeded random corpus: surviving words are a
    subsequence of the original, gram counts are consistent, and a doc
    duplicated verbatim is erased from both copies (every gram shared)."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    rows.append((100, rows[0][1]))  # verbatim duplicate of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dedup(df, span_words=4).collect()}
    texts = dict(rows)
    for doc_id, r in out.items():
        orig = texts[doc_id].split(" ")
        clean = r["clean_text"].split(" ") if r["clean_text"] else []
        # subsequence check (order-preserving removal)
        it = iter(orig)
        assert all(any(w == o for o in it) for w in clean), doc_id
        assert 0 <= r["n_dup_grams"] <= r["n_grams"]
        assert r["n_grams"] == max(len(orig) - 4 + 1, 0)
    if len(texts[0].split(" ")) >= 4:
        # the duplicated pair: every gram occurs >= 2x -> full erasure
        assert out[0]["clean_text"] == "" and out[100]["clean_text"] == ""


def test_gemm_topk_unknown_metric_raises(spark):
    """Unknown metric must raise, never silently score as cosine."""
    import pytest as _pytest

    from zip_to_parquet_spark.operators.vectors import gemm_topk_candidates

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, v array<double>"
    )
    with _pytest.raises(ValueError, match="metric must be cosine|ip"):
        gemm_topk_candidates(corpus, [2], [[0.0, 1.0]], metric="l2")


def test_pq_encode_accumulates_squared_l2_sequentially(spark):
    """Locks the left-to-right per-dimension accumulation contract of
    pq_encode_udf (the bit-parity seam with DuckDB's list_distance).

    The fixture discriminates summation ORDER: centroid A's squared diffs
    are [1e16, 1 x 32] — sequential accumulation absorbs every +1 into
    1e16 (ulp = 2, round-half-even) giving exactly 1e16, while ANY
    blocked/pairwise scheme (numpy .sum's 8-way unrolled pairwise path)
    sums the ones first and lands ABOVE centroid B's exact 1e16 + 16.
    Sequential → argmin = A (code 0); pairwise → argmin = B (code 1).
    A refactor of the explicit dd-loop to numpy .sum flips this test."""
    from zip_to_parquet_spark.operators.vectors import pq_encode_udf

    cb = [[
        [1e8] + [1.0] * 32,          # centroid A: diffs² = 1e16, then 32×1
        [1e8, 4.0] + [0.0] * 31,     # centroid B: diffs² = 1e16, 16, 0…
    ]]
    df = spark.createDataFrame(
        [(1, [0.0] * 33)], "vec_id long, v array<double>"
    )
    enc = pq_encode_udf(cb)
    code = df.select(enc("v").alias("c")).collect()[0]["c"]
    assert list(code) == [0]


def test_pq_encode_decode_shapes(spark):
    """PQ codes are valid indices and decode reconstructs centroid rows of
    the right dimensionality; encode is deterministic across calls."""
    import numpy as np

    from zip_to_parquet_spark.operators.vectors import (
        pq_decode_expr,
        pq_encode_udf,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(3)
    x = rng.standard_normal((64, 32))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, v array<double>",
    )
    cbs = train_pq_codebooks(df, m=8, ksub=8, iters=5, sample_per_centroid=8)
    assert len(cbs) == 8 and all(len(cb) == 8 for cb in cbs)
    enc = pq_encode_udf(cbs)
    codes1 = {r["vec_id"]: list(r["c"]) for r in
              df.select("vec_id", enc("v").alias("c")).collect()}
    codes2 = {r["vec_id"]: list(r["c"]) for r in
              df.select("vec_id", enc("v").alias("c")).collect()}
    assert codes1 == codes2  # deterministic
    assert all(len(c) == 8 and all(0 <= ci < 8 for ci in c)
               for c in codes1.values())
    dec = df.select("vec_id", enc("v").alias("codes"))
    dec = dec.select("vec_id", pq_decode_expr(cbs).alias("d"))
    got = {r["vec_id"]: list(r["d"]) for r in dec.collect()}
    for vid, d in got.items():
        assert len(d) == 32
        # each subvector must be one of that subspace's centroids
        for s in range(8):
            sub = d[s * 4 : (s + 1) * 4]
            assert any(
                all(abs(a - b) < 1e-12 for a, b in zip(sub, cent))
                for cent in cbs[s]
            )


def test_mp4_container_roundtrip_and_on_error(spark):
    """ISO-BMFF write -> box-walk parse recovers the embedded parameters;
    corrupt payloads honor fail/skip/null."""
    from pyspark.sql import functions as F

    from zip_to_parquet_spark.operators.multimodal import (
        _mp4_params,
        mp4_meta,
        synth_mp4,
    )

    ids = spark.createDataFrame([(2,), (5,), (11,)], "doc_id long")
    out = {r["doc_id"]: r for r in mp4_meta(synth_mp4(ids)).collect()}
    for doc_id in (2, 5, 11):
        ts, dur, w, h, nf, fs = _mp4_params(doc_id)
        r = out[doc_id]
        assert r["width"] == w and r["height"] == h
        assert r["duration_ms"] == dur * 1000 // ts
        assert r["n_frames"] == nf and r["mdat_bytes"] == nf * fs

    bad = synth_mp4(ids).withColumn(
        "payload",
        F.when(F.col("doc_id") == 5, F.lit(b"\x00\x00\x00\x08junk")).otherwise(
            F.col("payload")
        ),
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="mp4 parse failed"):
        mp4_meta(bad, on_error="fail").collect()
    assert {r["doc_id"] for r in mp4_meta(bad, on_error="skip").collect()} == {2, 11}
    nulls = {r["doc_id"]: r for r in mp4_meta(bad, on_error="null").collect()}
    assert nulls[5]["width"] is None and nulls[2]["width"] is not None


def test_mp4_size0_and_largesize_boxes(spark):
    """Legal ISO-BMFF variants real-world files use: size==0 (box extends
    to end of file — common for the trailing mdat) and size==1 (64-bit
    largesize header). Both must parse identically to the compact form."""
    import struct

    from pyspark.sql import functions as F

    from zip_to_parquet_spark.operators.multimodal import mp4_meta, synth_mp4

    ids = spark.createDataFrame([(3,)], "doc_id long")
    [(baseline, payload)] = [
        (r["doc_id"], bytes(r["payload"]))
        for r in synth_mp4(ids).collect()
    ]
    expected = mp4_meta(synth_mp4(ids)).collect()[0]

    # Rewrite the trailing mdat header: compact -> size==0 (to-EOF).
    mdat_off = payload.rindex(b"mdat") - 4
    size0 = payload[:mdat_off] + b"\x00\x00\x00\x00" + payload[mdat_off + 4 :]
    # Rewrite it again as a 64-bit largesize box (8 extra header bytes).
    body = payload[mdat_off + 8 :]
    large = (
        payload[:mdat_off]
        + struct.pack(">I4sQ", 1, b"mdat", 16 + len(body))
        + body
    )
    variants = spark.createDataFrame(
        [(0, size0), (1, large)], "doc_id long, payload binary"
    )
    got = {r["doc_id"]: r for r in mp4_meta(variants).collect()}
    for did in (0, 1):
        r = got[did]
        assert r["width"] == expected["width"]
        assert r["height"] == expected["height"]
        assert r["duration_ms"] == expected["duration_ms"]
        assert r["n_frames"] == expected["n_frames"]
        assert r["mdat_bytes"] == expected["mdat_bytes"]


def test_approx_count_distinct_promoted_oracle(spark):
    """r14 (VERDICT r13 ask #5): the HLL++ key now emits the EXACT distinct
    count plus an in-plan integer bound flag on the sketch's error —
    hash-comparable against the SQL oracle. Pin both halves: the exact
    column matches DuckDB, and the flag is 1 (sketch inside 60 permille,
    3σ at rsd=0.02 — measured fixture error ≤ 11 permille)."""
    import duckdb

    from zip_to_parquet_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    rows = {
        r["l_returnflag"]: (r["n_parts_exact"], r["within_60_permille"])
        for r in all_queries()["agg_approx_count_distinct"](spark, sf).collect()
    }
    exact = dict(
        duckdb.sql(
            f"""SELECT l_returnflag, count(DISTINCT l_partkey)
                FROM '{sf}/lineitem.parquet' GROUP BY 1"""
        ).fetchall()
    )
    assert {k: v[0] for k, v in rows.items()} == exact
    assert all(v[1] == 1 for v in rows.values()), rows


def test_approx_percentile_promoted_oracle(spark):
    """r14 (VERDICT r13 ask #5): the t-digest key now emits the EXACT
    interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)
    plus per-quantile in-plan bound flags — hash-comparable. Pin both:
    exact values match DuckDB, flags are 1 (sketch inside 10 permille of
    the exact value; accuracy=10000 bounds rank error at 1e-4, measured
    fixture value error ≤ 1 permille)."""
    import duckdb

    from zip_to_parquet_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["agg_approx_percentile"](spark, sf).collect()
    con = duckdb.connect()
    exact = {
        flag: (p50, p95)
        for flag, p50, p95 in con.sql(
            f"""SELECT l_returnflag,
                       quantile_cont(l_extendedprice, 0.50),
                       quantile_cont(l_extendedprice, 0.95)
                FROM '{sf}/lineitem.parquet' GROUP BY 1"""
        ).fetchall()
    }
    assert len(rows) == len(exact)
    for r in rows:
        e50, e95 = exact[r["l_returnflag"]]
        assert r["p50_exact"] == e50 and r["p95_exact"] == e95
        assert r["p50_within_10_permille"] == 1
        assert r["p95_within_10_permille"] == 1


def test_ivfpq_recall_floor(spark):
    """IVFPQ (k=16 cells, nprobe=8, residual PQ16x4) top-5 must beat a
    recall floor against the exact inner-product top-5. Measured ~0.42 on
    the fixture's near-random embeddings — EQUAL to raw-vector PQ's
    measured recall (test_pq_recall_floor) while scanning only half the
    cells: residual encoding buys back what probe restriction costs."""
    import numpy as np
    import pyarrow.parquet as pq

    from zip_to_parquet_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    exact = set()
    for qi in np.flatnonzero(ids % 25 == 0):
        ips = x @ x[qi]
        ips[qi] = -np.inf
        exact |= {(ids[qi], ids[j]) for j in np.argsort(-ips, kind="stable")[:5]}
    got = {
        (r.q_id, r.n_id)
        for r in all_queries()["ann_ivfpq_topk"](spark, sf).collect()
    }
    assert exact, "exact IP top-k is empty"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.3, f"IVFPQ recall collapsed: {recall:.3f}"


def test_pagerank_integer_known_graph(spark):
    """Hand-computed 3-node graph, integer arithmetic: edges 1->2, 1->3,
    2->1 (node 3 dangling/absorbing). Two power steps."""
    from zip_to_parquet_spark.operators.graph import pagerank_integer

    e = spark.createDataFrame([(1, 2), (1, 3), (2, 1)], "src long, dst long")
    # iter1: n1 = 150000 + 85%*1000000 = 1000000
    #        n2 = n3 = 150000 + 85%*(1000000 div 2) = 575000
    # iter2: n1 = 150000 + 85%*575000 = 638750; n2 = n3 = 575000
    got = {r["node"]: r["rank_micro"]
           for r in pagerank_integer(e, iters=2).collect()}
    assert got == {1: 638750, 2: 575000, 3: 575000}


def test_bigram_surprisal_hand_computed(spark):
    """Doc 'a b a b': bigrams ab, ba, ab. p(ab)=0.9*(2/2)+0.1*(3/6)=0.95,
    p(ba)=0.9*(1/2)+0.1*(3/6)=0.5 -> micro-nats 51293 and 693147. A
    single-token doc has no transitions and must drop out."""
    import math

    from zip_to_parquet_spark.operators.pipeline import bigram_surprisal

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "x")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    assert set(rows) == {1}
    r = rows[1]
    s_ab = math.floor(-math.log(0.9 * (2 / 2) + 0.1 * ((2 + 1) / (5 + 3))) * 1e6)
    s_ba = math.floor(-math.log(0.9 * (1 / 2) + 0.1 * ((2 + 1) / (5 + 3))) * 1e6)
    assert r["n_bigrams"] == 3
    assert r["surprisal_micro"] == 2 * s_ab + s_ba
    assert r["mean_surprisal"] == ((2 * s_ab + s_ba) / 1e6) / 3


def test_topic_classify_tiebreak_and_none(spark):
    """Equal hits -> first lexicon in order wins; zero hits -> 'none';
    occurrence counts keep duplicates."""
    from zip_to_parquet_spark.operators.textops import topic_classify

    df = spark.createDataFrame(
        [
            (1, "scan scan query table"),   # execution 2 > others
            (2, "scan query"),              # tie 1-1-0 -> execution (order)
            (3, "zzz yyy"),                 # no hits -> none
            (4, "table table table scan"),  # storage 3
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in topic_classify(df).collect()}
    assert got[1]["topic"] == "execution" and got[1]["hits_execution"] == 2
    assert got[2]["topic"] == "execution" and got[2]["top_hits"] == 1
    assert got[3]["topic"] == "none" and got[3]["top_hits"] == 0
    assert got[4]["topic"] == "storage" and got[4]["hits_storage"] == 3


def test_span_dedup_keep_first_preserves_canonical(spark):
    """keep='first': the canonical (lowest doc_id, position) occurrence of
    a duplicated run survives; other copies are removed. Same corpus as
    the remove-all test — doc 1 holds every canonical gram, so its text
    survives verbatim while doc 2 still loses the run."""
    boiler = "all rights reserved copyright notice terms of service apply"
    rows = [
        (1, "alpha bravo " + boiler + " tail1"),
        (2, boiler + " charlie delta echo"),
        (3, "totally unique words that appear nowhere else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in span_dedup(df, span_words=3, keep="first").collect()
    }
    assert out[1]["clean_text"] == rows[0][1]  # canonical copy intact
    assert out[2]["clean_text"] == "charlie delta echo"
    assert out[1]["n_dup_grams"] == 7 and out[2]["n_dup_grams"] == 7
    assert out[3]["clean_text"] == rows[2][1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep must be"):
        span_dedup(df, keep="bogus")


def test_snapshot_delta_statuses(spark):
    from zip_to_parquet_spark.operators.pipeline import snapshot_delta

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in snapshot_delta(old, new).collect()}
    assert got[1]["status"] == "unchanged"
    assert got[2]["status"] == "changed"
    assert got[3]["status"] == "removed" and got[3]["new_sha"] is None
    assert got[4]["status"] == "added" and got[4]["old_sha"] is None
    import hashlib

    assert got[1]["old_sha"] == hashlib.sha256(b"same").hexdigest()


# ---------------------------------------------------------------------------
# Round-4 analytics operators
# ---------------------------------------------------------------------------
def test_word_chunks_cover_every_word(spark):
    """Chunk windows (size 32 / stride 24) tile the doc: starts advance by
    the stride, consecutive chunks overlap by 8 words, the final chunk
    reaches the last word, and re-concatenating chunk word ranges covers
    1..n with no gaps."""
    from zip_to_parquet_spark.operators.textops import word_chunks, words

    rows = [(n, " ".join(f"w{i}" for i in range(1, n + 1))) for n in
            (1, 8, 24, 31, 32, 33, 55, 56, 57, 80, 99)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        F.posexplode(word_chunks(words(F.col("text")))).alias(
            "cid", "ch"
        ),
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for n, _text in rows:
        chunks = sorted(by_doc[n], key=lambda r: r["cid"])
        starts = [c["ch"]["start"] for c in chunks]
        assert starts == [1 + 24 * i for i in range(len(starts))]
        last = chunks[-1]
        assert last["ch"]["start"] + last["ch"]["n_chunk_tokens"] - 1 == n
        for c in chunks:
            assert c["ch"]["chunk_text"].split(" ")[0] == f"w{c['ch']['start']}"
            assert len(c["ch"]["chunk_text"].split(" ")) == c["ch"]["n_chunk_tokens"]


def test_funnel_strict_ordering_and_zero_stages(spark):
    """Greedy fold semantics: a click at the SAME timestamp as the matched
    view does not advance (strictly-after), later steps match the
    earliest qualifying event, and unreached stages emit rows with 0."""
    from zip_to_parquet_spark.operators.temporal import funnel_stage_counts

    rows = [
        # u1: full funnel, but the first click ties the view's ts exactly
        (1, "2024-01-01 00:00:00.000001", "view"),
        (1, "2024-01-01 00:00:00.000001", "click"),   # tie → no advance
        (1, "2024-01-01 00:00:00.000002", "click"),   # advances
        (1, "2024-01-01 00:00:00.000003", "purchase"),
        # u2: purchase BEFORE any view → stops at view
        (2, "2024-01-01 00:00:01.000000", "purchase"),
        (2, "2024-01-01 00:00:02.000000", "view"),
        # u3: never views
        (3, "2024-01-01 00:00:03.000000", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["stage"]: (r["step_name"], r["users_reached"])
        for r in funnel_stage_counts(
            df, steps=["view", "click", "purchase"]
        ).collect()
    }
    assert got == {1: ("view", 2), 2: ("click", 1), 3: ("purchase", 1)}


def test_triangle_count_known_graph(spark):
    """K4 (4 triangles) plus a pendant edge and a duplicate/reversed edge
    — dedup and orientation must not change the count."""
    from zip_to_parquet_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (2, 1), (1, 2)]  # pendant + dup + reversed dup
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert row["n_edges"] == 7  # 6 K4 edges + pendant
    assert row["n_triangles"] == 4


def test_word_edit_pairs_planted_near_dup(spark):
    from zip_to_parquet_spark.operators.dedupe import word_edit_pairs

    base = [f"tok{i}" for i in range(60)]
    mutated = list(base)
    for i in (5, 20, 40):  # 3 substitutions inside the 48-word prefix
        mutated[i] = f"sub{i}"
    far = [f"other{i}" for i in range(60)]
    short = [f"s{i}" for i in range(10)]  # < 48 words → out of scope
    rows = [
        (1, " ".join(base)),
        (2, " ".join(mutated)),
        (3, " ".join(far)),
        (4, " ".join(short)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["word_edit_distance"]
        for r in word_edit_pairs(df).collect()
    }
    assert got == {(1, 2): 3}


def test_curriculum_buckets_equi_depth_and_monotone(spark):
    from zip_to_parquet_spark.operators.pipeline import curriculum_buckets
    from zip_to_parquet_spark.schema import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = curriculum_buckets(docs).collect()
    assert len(out) == docs.count()
    # monotone: a doc with more tokens never lands in a lower bucket
    pairs = sorted((r["n_tokens"], r["bucket"]) for r in out)
    for (n1, b1), (n2, b2) in zip(pairs, pairs[1:]):
        assert b1 <= b2
    # equi-depth up to distinct-value granularity: every bucket nonempty
    # and no bucket is grossly oversized
    from collections import Counter

    sizes = Counter(r["bucket"] for r in out)
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) <= 2 * (len(out) // 10 + 1)


def test_merge_upsert_semantics(spark):
    """Upsert replaces or inserts, delete drops (including a delete of a
    missing id — a no-op), untouched rows pass through."""
    from zip_to_parquet_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [
            (2, "upsert", "b2"),   # replace
            (4, "upsert", "d"),    # insert
            (3, "delete", None),   # drop
            (9, "delete", None),   # delete of missing id: no-op
        ],
        "doc_id long, op string, text string",
    )
    got = {r["doc_id"]: r["text"] for r in merge_upsert(base, changes).collect()}
    assert got == {1: "a", 2: "b2", 4: "d"}
    # Base-only columns pass through for untouched AND upserted rows
    # (NULL for inserted ids) — a narrow change feed must never destroy
    # the wide snapshot's columns.
    wide = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "doc_id long, text string, n_chars long",
    )
    wide_out = {
        r["doc_id"]: (r["text"], r["n_chars"])
        for r in merge_upsert(wide, changes).collect()
    }
    assert wide_out == {1: ("a", 10), 2: ("b2", 20), 4: ("d", None)}
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, "upsert", "x")], "doc_id long, op string, nope string"
    )
    with _pytest.raises(ValueError, match="absent from base"):
        merge_upsert(base, bad)


def test_merge_upsert_contract_violations_fail_loudly(spark):
    """A typo'd op ('Upsert', 'insert', NULL) must error, not silently act
    as a delete; a duplicate change id must error, not fan out through the
    full-outer join (the Delta/Iceberg MERGE 'multiple source rows
    matched' contract)."""
    import pytest as _pytest

    from zip_to_parquet_spark.operators.joins import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    typo = spark.createDataFrame(
        [(2, "Upsert", "b2")], "doc_id long, op string, text string"
    )
    with _pytest.raises(Exception, match="contract violation"):
        merge_upsert(base, typo).collect()
    null_op = spark.createDataFrame(
        [(2, None, "b2")], "doc_id long, op string, text string"
    )
    with _pytest.raises(Exception, match="contract violation"):
        merge_upsert(base, null_op).collect()
    dup = spark.createDataFrame(
        [(2, "upsert", "x"), (2, "upsert", "y")],
        "doc_id long, op string, text string",
    )
    with _pytest.raises(Exception, match="contract violation"):
        merge_upsert(base, dup).collect()
    # Opt-out keeps the documented permissive behavior for callers that
    # pre-validate their feed.
    out = merge_upsert(base, dup, enforce_contract=False).collect()
    assert {r["text"] for r in out if r["doc_id"] == 2} <= {"x", "y"}


def test_scd2_history_branches(spark):
    from zip_to_parquet_spark.operators.joins import scd2_history

    old = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, attr int"
    )
    new = spark.createDataFrame(
        [(1, 10), (2, 25), (4, 40)], "k long, attr int"
    )
    rows = scd2_history(old, new, "k", ["attr"]).collect()
    by_k: dict[int, list] = {}
    for r in rows:
        by_k.setdefault(r["k"], []).append(
            (r["attr"], str(r["valid_to"]) if r["valid_to"] else None, r["is_current"])
        )
    assert by_k[1] == [("10", None, True)]                       # unchanged
    assert sorted(by_k[2]) == [("20", "2024-02-01", False),      # changed
                               ("25", None, True)]
    assert by_k[3] == [("30", "2024-02-01", False)]              # removed
    assert by_k[4] == [("40", None, True)]                       # added


def test_merge_upsert_random_property(spark):
    """Random base + random disjoint change set: the merge equals a plain
    Python dict simulation, including inserts of unseen ids and deletes
    of missing ids."""
    import random

    rnd = random.Random(41)
    base = {i: f"t{rnd.randrange(1000)}" for i in range(200) if rnd.random() < 0.7}
    ops = {}
    for i in range(260):  # ids 200..259 are never in base
        r = rnd.random()
        if r < 0.25:
            ops[i] = ("upsert", f"u{rnd.randrange(1000)}")
        elif r < 0.4:
            ops[i] = ("delete", None)
    expected = dict(base)
    for i, (op, txt) in ops.items():
        if op == "upsert":
            expected[i] = txt
        else:
            expected.pop(i, None)

    from zip_to_parquet_spark.operators.joins import merge_upsert

    bdf = spark.createDataFrame(
        list(base.items()), "doc_id long, text string"
    )
    cdf = spark.createDataFrame(
        [(i, op, txt) for i, (op, txt) in ops.items()],
        "doc_id long, op string, text string",
    )
    got = {r["doc_id"]: r["text"] for r in merge_upsert(bdf, cdf).collect()}
    assert got == expected


def _funnel_greedy(rows, steps):
    """Pure-Python funnel: per user, events sorted by (us, type) like the
    fold's struct sort, matched greedily with strict > between matched
    stages. → {stage: users_reached}."""
    per_user: dict[int, list] = {}
    for u, us, t in rows:
        per_user.setdefault(u, []).append((us, t))
    reached = {s: 0 for s in range(1, len(steps) + 1)}
    for evs in per_user.values():
        stage, last = 0, -1
        for us, t in sorted(evs):
            if stage < len(steps) and t == steps[stage] and us > last:
                stage, last = stage + 1, us
        for s in range(1, stage + 1):
            reached[s] += 1
    return reached


def _funnel_spark(spark, rows, steps):
    from zip_to_parquet_spark.operators.temporal import funnel_stage_counts

    df = spark.createDataFrame(
        rows, "user_id long, us long, event_type string"
    ).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "event_type",
    )
    return {
        r["stage"]: r["users_reached"]
        for r in funnel_stage_counts(df, steps=steps).collect()
    }


def test_funnel_random_property(spark):
    """Random event streams: the one-shuffle fold state machine equals a
    Python greedy simulation of strict-after earliest matching."""
    import random

    rnd = random.Random(17)
    steps = ["view", "click", "purchase"]
    types = steps + ["error", "signup"]
    rows = []
    for u in range(40):
        for _ in range(rnd.randrange(0, 25)):
            rows.append((u, rnd.randrange(0, 10**6), rnd.choice(types)))
    assert _funnel_spark(spark, rows, steps) == _funnel_greedy(rows, steps)


def test_word_edit_pairs_random_completeness(spark):
    """Pigeonhole completeness on random mutations: every planted pair
    within max_dist substitutions is found with the exact distance a
    Python Levenshtein DP computes on the same encoding."""
    import hashlib
    import random

    rnd = random.Random(7)

    def enc(ws):
        return "".join(hashlib.md5(w.encode()).hexdigest()[0] for w in ws[:48])

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rows, planted = [], {}
    for g in range(12):
        base = [f"g{g}w{i}" for i in range(50)]
        mut = list(base)
        k = rnd.randrange(0, 5)  # 0..4 substitutions
        for pos in rnd.sample(range(48), k):
            mut[pos] = f"g{g}m{pos}"
        a_id, b_id = 2 * g, 2 * g + 1
        rows += [(a_id, " ".join(base)), (b_id, " ".join(mut))]
        d = lev(enc(base), enc(mut))
        if d <= 4:
            planted[(a_id, b_id)] = d

    from zip_to_parquet_spark.operators.dedupe import word_edit_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["word_edit_distance"]
        for r in word_edit_pairs(df).collect()
    }
    # Cross-group random pairs never collide under 4 edits (16-symbol
    # alphabet, distance ~44), so the found set == the planted set.
    assert got == planted


def test_funnel_hot_user_and_tied_timestamps_match_greedy(spark):
    """The fold equals the greedy reference on random streams with a hot
    user (400 events in one fold) and ties at equal timestamps: a click
    and a purchase at the same µs cannot both advance the funnel."""
    import random

    rnd = random.Random(99)
    steps = ["view", "click", "purchase"]
    types = steps + ["error"]
    rows = []
    for u in range(25):
        for _ in range(rnd.randrange(0, 20)):
            rows.append((u, rnd.randrange(0, 10_000), rnd.choice(types)))
    for _ in range(400):
        rows.append((999, rnd.randrange(0, 10_000), rnd.choice(types)))
    rows += [(7, 1000, "view"), (7, 2000, "click"), (7, 2000, "purchase"),
             (7, 3000, "purchase")]
    assert _funnel_spark(spark, rows, steps) == _funnel_greedy(rows, steps)


# ---------------------------------------------------------------------------
# Integer k-means (cluster_kmeans_embeddings)
# ---------------------------------------------------------------------------
def _kmeans_replica(vecs, k, iters, scale=1_000_000, offset=4_000_000):
    """Pure-Python replay of operators.vectors.kmeans_integer — same
    quantization, argmin tie-break, floor-division update, empty-cluster
    fallback. Keep in lockstep with the operator AND the learn.py oracle."""
    xm = [
        [int(math.floor(float(v) * scale)) + offset for v in vec]
        for vec in vecs
    ]
    cent = [list(xm[j]) for j in range(k)]  # ids 0..k-1 are the smallest

    def assign(cent):
        out = []
        for x in xm:
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(x, c)), j)
                for j, c in enumerate(cent)
            )
            out.append((best[1], best[0]))
        return out

    for _ in range(iters):
        a = assign(cent)
        for j in range(k):
            members = [xm[i] for i, (cl, _) in enumerate(a) if cl == j]
            if members:
                cent[j] = [
                    sum(col) // len(members) for col in zip(*members)
                ]
    return assign(cent)


def test_kmeans_integer_matches_pure_python_replica(spark):
    from zip_to_parquet_spark.operators.vectors import kmeans_integer

    # Two well-separated groups + stragglers; exactly-representable floats
    # so float32 round-trip is lossless in the replica.
    vecs = [
        [0.0, 0.5], [0.25, 0.5], [10.0, -2.5], [10.5, -2.0],
        [0.125, 0.75], [9.75, -2.25], [0.5, 0.25], [10.25, -2.75],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in kmeans_integer(df, k=2, iters=2).collect()
    }
    want = dict(enumerate(_kmeans_replica(vecs, k=2, iters=2)))
    assert got == want
    # The two planted groups must separate.
    assert len({got[i][0] for i in (0, 1, 4, 6)}) == 1
    assert len({got[i][0] for i in (2, 3, 5, 7)}) == 1
    assert got[0][0] != got[2][0]


def test_kmeans_integer_empty_cluster_keeps_previous_centroid(spark):
    from zip_to_parquet_spark.operators.vectors import kmeans_integer

    # Duplicate init vectors: in iteration 1 every point ties to cluster 0
    # (smallest-id tie-break), so cluster 1 receives no members — the
    # fallback must keep its previous centroid (to which the duplicate
    # points then return, since cluster 0's mean drifted toward the
    # outlier). The replica models exactly that trajectory.
    vecs = [[0.0], [0.0], [5.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_integer(df, k=2, iters=2).collect()
    got = {r.vec_id: (r.cluster, r.dist2) for r in rows}
    assert got == dict(enumerate(_kmeans_replica(vecs, k=2, iters=2)))
    assert all(r.dist2 is not None for r in rows)


# ---------------------------------------------------------------------------
# Distilled quality classifier (quality_distill_classifier)
# ---------------------------------------------------------------------------
def test_perceptron_spark_score_matches_python(spark):
    from zip_to_parquet_spark.operators.classify import (
        trigram_bucket_counts_score,
        trigram_feats_py,
    )

    weights = tuple((7 * i) % 13 - 6 for i in range(1024))
    bias = -3
    texts = ["the quick brown fox", "ab", "", "xx yy zz xx yy zz", "☃☃☃☃"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r.id: r.s
        for r in df.select(
            "id", trigram_bucket_counts_score(weights, bias).alias("s")
        ).collect()
    }
    for i, t in enumerate(texts):
        want = sum(weights[b] * c for b, c in trigram_feats_py(t).items()) + bias
        assert got[i] == want, (t, got[i], want)


def test_distilled_classifier_beats_majority_baseline(spark):
    # The distillation must actually learn the gate, not just emit the
    # majority class: accuracy above the all-pass baseline AND meaningful
    # recall on the minority (gate-fail) class. Floors sit under the
    # measured sf0.001 values (acc 0.930, fail-recall 0.654).
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["quality_distill_classifier"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = len(rows)
    acc = sum(r.pred == r.gate_pass for r in rows) / n
    fails = [r for r in rows if not r.gate_pass]
    fail_recall = sum(not r.pred for r in fails) / max(len(fails), 1)
    majority = max(sum(r.gate_pass for r in rows), len(fails)) / n
    assert acc >= 0.90 and acc > majority, (acc, majority)
    assert fail_recall >= 0.5, fail_recall


# ---------------------------------------------------------------------------
# Z-order layout (layout_zorder_files)
# ---------------------------------------------------------------------------
def test_zorder_interleave_expression(spark):
    from zip_to_parquet_spark.operators.layout import ZORDER_VALUE_SQL

    def z_py(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(5, 3), (0, 0), (65535, 65535), (1, 0), (0, 1), (21845, 43690)],
        "u long, d long",
    )
    got = [r.z for r in df.select(F.expr(ZORDER_VALUE_SQL).alias("z")).collect()]
    want = [z_py(u, d) for u, d in [(5, 3), (0, 0), (65535, 65535), (1, 0), (0, 1), (21845, 43690)]]
    assert got == want


def test_zorder_files_disjoint_z_ranges_and_balance(spark):
    from zip_to_parquet_spark.operators.layout import zorder_file_stats
    from zip_to_parquet_spark.schema import load_table

    rows = sorted(
        zorder_file_stats(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect(),
        key=lambda r: r.file_id,
    )
    assert [r.file_id for r in rows] == list(range(16))
    # Threshold assignment ⇒ files tile the z axis without overlap.
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_z <= cur.min_z
    # Sampled equi-depth ⇒ roughly balanced files (loose bound).
    sizes = [r.n_rows for r in rows]
    assert max(sizes) <= 4 * min(sizes), sizes
    # The layout's point: per-file ranges are TIGHT on both dimensions —
    # no file spans the full extent of both user and day simultaneously.
    full_u = max(r.max_user for r in rows) - min(r.min_user for r in rows)
    full_d = max(r.max_day for r in rows) - min(r.min_day for r in rows)
    assert all(
        (r.max_user - r.min_user) < full_u or (r.max_day - r.min_day) < full_d
        for r in rows
    )


def test_zorder_pruning_eval_story(spark):
    # The reason Z-order exists, asserted: a user-sorted layout prunes
    # user probes to ~1 file but must scan (nearly) every file for day
    # probes; the Z-layout prunes day probes strictly better while
    # keeping user probes bounded.
    from zip_to_parquet_spark.operators.layout import zorder_pruning_eval
    from zip_to_parquet_spark.schema import load_table

    rows = {
        r.pred: r
        for r in zorder_pruning_eval(
            load_table(spark, "/root/testdata/sf0.001", "events")
        ).collect()
    }
    assert len(rows) == 8
    for q in range(4):
        u, d = rows[f"user_q{q}"], rows[f"day_q{q}"]
        assert u.files_usersorted <= 2, u
        assert d.files_usersorted >= 15, d
        assert d.files_zorder < d.files_usersorted, d
        assert 1 <= u.files_zorder <= 16 and 1 <= d.files_zorder <= 16


# ---------------------------------------------------------------------------
# Trained BPE tokenization (bpe_tokenize_stats)
# ---------------------------------------------------------------------------
def test_bpe_replace_chain_matches_python_encoder(spark):
    from zip_to_parquet_spark.operators.bpe import (
        SEP,
        SPARK_DELIM_CHARS_SQL,
        bpe_encode_py,
        bpe_replace_chain,
    )

    merges = (("a", "b"), ("ab", "c"), ("d", "d"), ("ab", "ab"))
    words = ["abcabd", "ababab", "dddd", "xyz", "a", "abcabcabc"]
    df = spark.createDataFrame([(w,) for w in words], "wd string")
    chain = bpe_replace_chain(SPARK_DELIM_CHARS_SQL, merges)
    got = {
        r.wd: tuple(r.s.strip(SEP).split(SEP + SEP))
        for r in df.select("wd", F.expr(chain).alias("s")).collect()
    }
    for w in words:
        assert got[w] == bpe_encode_py(w, merges), (w, got[w])
    # Ascending-rank application == greedy lowest-rank-first: 'ababab'
    # must become (abab, ab) via rank-0 then rank-3, never (ab, abab).
    assert got["ababab"] == ("abab", "ab")


def test_bpe_training_deterministic_and_compressive(spark):
    from zip_to_parquet_spark.operators.bpe import train_bpe_merges
    from zip_to_parquet_spark.plans import all_queries

    m1 = train_bpe_merges("/root/testdata/sf0.001")
    train_bpe_merges.cache_clear()
    m2 = train_bpe_merges("/root/testdata/sf0.001")
    assert m1 == m2 and len(m1) == 40

    rows = all_queries()["bpe_tokenize_stats"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_chars = sum(r.n_chars for r in rows)
    n_tokens = sum(r.n_tokens for r in rows)
    n_words = sum(r.n_words for r in rows)
    # Merges must actually fire (tokens ≪ chars) but can never merge
    # across word boundaries (tokens ≥ words).
    assert n_tokens < 0.6 * n_chars, (n_tokens, n_chars)
    assert n_tokens >= n_words


# ---------------------------------------------------------------------------
# Large-star/small-star connected components (graph.connected_components_star)
# ---------------------------------------------------------------------------
def _union_find_components(edges):
    """Reference labeling: node → min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return sorted((x, find(x)) for x in parent)


def test_star_cc_matches_label_propagation(spark):
    from zip_to_parquet_spark.operators.graph import connected_components_star

    # Long chain (the diameter case star-contraction exists for), a
    # triangle, an isolated pair, and edges given in both orientations.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
             (10, 11), (11, 12), (10, 12), (20, 21), (31, 30)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = sorted((r.node, r.comp) for r in connected_components_star(df).collect())
    assert star == _union_find_components(edges)
    assert ([c for _, c in star if c == 1] and [c for _, c in star if c == 10]
            and [c for _, c in star if c == 20] and [c for _, c in star if c == 30])


def test_cogroup_attribution_boundaries(spark):
    from datetime import datetime

    from zip_to_parquet_spark.operators.temporal import cogroup_attribution

    t = lambda m, s=0: datetime(2020, 1, 1, 12, m, s)
    purchases = spark.createDataFrame(
        [(1, 100, t(40)), (1, 101, t(5)), (2, 200, t(30)), (3, 300, t(50))],
        "user_id long, event_id long, ts timestamp",
    )
    clicks = spark.createDataFrame(
        [(1, t(10)), (1, t(40)),   # strictly-before only: t(40) excluded
         (2, t(0)),                # exactly 30 min before: included
         (9, t(49))],              # other user: ignored
        "user_id long, ts timestamp",
    )
    got = {
        r.purchase_event_id: (r.n_prior_clicks, r.attributed)
        for r in cogroup_attribution(purchases, clicks).collect()
    }
    assert got == {
        100: (1, True),   # click t10 in (t10, t40]; click at t40 excluded
        101: (0, False),  # no click before t5
        200: (1, True),   # click exactly window_minutes before
        300: (0, False),  # user 3 has no clicks (empty cogroup side)
    }


def test_kmv_estimate_within_theory_bounds(spark):
    # KMV with k=256 has relative stderr ~1/sqrt(k) ≈ 6.3%; assert a
    # generous 4-sigma bound so the test pins correctness, not luck.
    from zip_to_parquet_spark.plans import all_queries

    r = all_queries()["agg_kmv_distinct"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.k == 256
    rel_err = abs(r.est_distinct - r.exact_distinct) / r.exact_distinct
    assert rel_err < 0.25, (r.est_distinct, r.exact_distinct)


def test_dq_expectations_report_shape_and_verdicts(spark):
    from zip_to_parquet_spark.plans import all_queries

    rows = {
        r.constraint: r
        for r in all_queries()["dq_expectations_report"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) == 6
    assert rows["row_count_positive"].passed
    assert rows["fk_orderkey_in_orders"].passed          # no orphans
    assert rows["returnflag_in_domain"].passed
    assert rows["quantity_in_1_to_50"].passed
    assert rows["shipdate_null_fraction_micro"].passed
    # The gate catching something real: the fixture generator does NOT
    # key lineitem by (orderkey, linenumber) — the uniqueness check
    # must FAIL with a positive duplicate-group count.
    pk = rows["pk_unique_orderkey_linenumber"]
    assert not pk.passed and pk.metric > 0


def test_bpe_chain_equals_python_on_random_words(spark):
    # Randomized (seeded) equivalence: for ANY merge table — not just
    # trained ones — the SQL replace chain must equal the ascending-rank
    # Python encoder on arbitrary words, including repeats and runs.
    import random

    from zip_to_parquet_spark.operators.bpe import (
        SEP,
        SPARK_DELIM_CHARS_SQL,
        bpe_encode_py,
        bpe_replace_chain,
    )

    rng = random.Random(20260814)
    alpha = "abcd"
    words = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 14)))
             for _ in range(40)]
    toks = list(alpha)
    merges = []
    for _ in range(12):
        a, b = rng.choice(toks), rng.choice(toks)
        merges.append((a, b))
        toks.append(a + b)
    merges = tuple(merges)

    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                               "i long, wd string")
    chain = bpe_replace_chain(SPARK_DELIM_CHARS_SQL, merges)
    got = {r.i: tuple(r.s.strip(SEP).split(SEP + SEP))
           for r in df.select("i", F.expr(chain).alias("s")).collect()}
    for i, w in enumerate(words):
        assert got[i] == bpe_encode_py(w, merges), (w, got[i])


def test_star_cc_equals_label_propagation_on_random_graphs(spark):
    import random

    from zip_to_parquet_spark.operators.graph import connected_components_star

    for seed in (1, 7):
        rng = random.Random(seed)
        n = 40
        edges = [(u, v) for u in range(n) for v in range(u + 1, n)
                 if rng.random() < 0.05]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        star = sorted((r.node, r.comp)
                      for r in connected_components_star(df).collect())
        assert star == _union_find_components(edges), seed


def test_star_cc_long_path_is_one_component(spark):
    # Diameter 63: a one-hop-per-round labeling capped at 20 rounds leaves
    # most of this path mislabeled; star contraction needs O(log² n)
    # rounds.
    from zip_to_parquet_spark.operators.graph import connected_components_star

    edges = [(i + 1, i) for i in range(63)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.comp for r in connected_components_star(df).collect()}
    assert got == {i: 0 for i in range(64)}


def test_star_cc_empty_edge_set(spark):
    from zip_to_parquet_spark.operators.graph import connected_components_star

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(df).count() == 0


def test_hot_shingle_guard_small_corpus_no_cliff(spark):
    # Review finding: the corpus-relative permille guard alone would mark
    # EVERY shared shingle hot below ~200 docs (df >= 2 > n/100), silently
    # returning zero pairs. The absolute MIN_DF floor keeps small batches
    # working with default arguments.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(0, base), (1, base + " mu")]  # near-dup pair
    docs += [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f") for i in range(2, 20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(shingle_sets(df), threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]


def test_sampled_percentiles_close_to_exact(spark):
    from zip_to_parquet_spark.plans import all_queries

    r = all_queries()["agg_sampled_percentiles"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.n_sample > 500
    for s, e in ((r.p50_sampled, r.p50_exact), (r.p90_sampled, r.p90_exact)):
        assert abs(s - e) / e < 0.1, (s, e)


def test_bloom_filter_no_false_negatives_random_keys(spark):
    # The Bloom prefilter's correctness contract: a key the filter was
    # built from can NEVER fail the membership test (false positives are
    # fine — the exact semi join removes them; a false negative would
    # silently drop real rows). Random key sets, including negatives and
    # values far outside the fixture domain.
    import random

    from pyspark.sql import functions as F
    from zip_to_parquet_spark.plans.tpch_deco import (
        bloom_build_words,
        bloom_member,
    )

    for seed in (3, 11):
        rng = random.Random(seed)
        keys = [rng.randint(-(2**40), 2**40) for _ in range(500)]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        arr = bloom_build_words(df, "k")
        misses = df.filter(~bloom_member(F.col("k"), arr)).count()
        assert misses == 0, (seed, misses)


def test_ivm_refresh_equals_full_recompute_random_edits(spark):
    # Property: for ARBITRARY edit sets (deletes, in-place updates,
    # inserts, group moves), the insert/retract delta algebra must equal
    # a full recomputation over the new snapshot.
    import random

    from pyspark.sql import functions as F
    from zip_to_parquet_spark.operators.pipeline import ivm_refresh

    for seed in (2, 9):
        rng = random.Random(seed)
        base = [
            (i, f"g{rng.randint(0, 3)}", "x" * rng.randint(1, 30))
            for i in range(60)
        ]
        new = []
        for i, g, t in base:
            r = rng.random()
            if r < 0.2:
                continue  # delete
            if r < 0.4:
                new.append((i, g, t + "!" * rng.randint(1, 5)))  # edit
            elif r < 0.5:
                new.append((i, f"g{rng.randint(0, 3)}", t))  # group move
            else:
                new.append((i, g, t))  # unchanged
        for j in range(rng.randint(0, 10)):  # inserts
            new.append((1000 + j, f"g{rng.randint(0, 3)}", "y" * (j + 1)))
        # Multiset cases: duplicate rows on either side (snapshot written
        # twice / append glitch) must maintain by multiplicity — include
        # a GUARANTEED unchanged-row-duplicated-in-one-side case, the
        # one a set-based anti-join provably misses.
        base += [r for r in base[:5]]
        new += [r for r in new[:3]]
        base.append((5000, "g0", "stable"))
        new.append((5000, "g0", "stable"))
        new.append((5000, "g0", "stable"))  # c1=1, c2=2: delta must be +1
        schema = "doc_id long, source string, text string"
        v1 = spark.createDataFrame(base, schema)
        v2 = spark.createDataFrame(new, schema)
        got = sorted(
            tuple(r) for r in ivm_refresh(v1, v2).collect()
        )
        want = sorted(
            tuple(r)
            for r in v2.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text").cast("long")).alias("total_chars"),
            )
            .collect()
        )
        assert got == want, seed


def test_bloom_empty_build_set_rejects_everything(spark):
    # Degenerate-input contract: an empty build side yields an all-zeros
    # filter that rejects every probe (and the downstream exact semi join
    # agrees: empty result, not an error).
    from pyspark.sql import functions as F
    from zip_to_parquet_spark.plans.tpch_deco import (
        bloom_build_words,
        bloom_member,
    )

    empty = spark.createDataFrame([], "k long")
    arr = bloom_build_words(empty, "k")
    assert set(arr) == {0}
    probe = spark.createDataFrame([(i,) for i in range(100)], "k long")
    assert probe.filter(bloom_member(F.col("k"), arr)).count() == 0


def test_ivm_refresh_from_empty_base(spark):
    # Bootstrapping: an empty prior snapshot must refresh to exactly the
    # new snapshot's aggregate (all-insert delta, no base rows).
    from pyspark.sql import functions as F
    from zip_to_parquet_spark.operators.pipeline import ivm_refresh

    schema = "doc_id long, source string, text string"
    v1 = spark.createDataFrame([], schema)
    v2 = spark.createDataFrame(
        [(1, "a", "xx"), (2, "a", "yyy"), (3, "b", "z")], schema
    )
    got = sorted(tuple(r) for r in ivm_refresh(v1, v2).collect())
    assert got == [("a", 2, 5), ("b", 1, 1)]
    # And the reverse: everything deleted → empty view, not zero rows.
    assert ivm_refresh(v2, v1).count() == 0


def test_mmr_select_hand_computed(spark):
    # Pool: A(rel 90) B(rel 85) C(rel 80); A~B near-dups (psim 95),
    # C dissimilar to both (psim 10). λ=0.7 → pick 1: A (argmax rel).
    # Pick 2: B scores 7*85-3*95=310, C scores 7*80-3*10=530 → C wins
    # over the higher-relevance-but-redundant B. Pick 3: B (only left).
    from zip_to_parquet_spark.operators.retrieval import mmr_select

    cand = spark.createDataFrame(
        [(1, 90), (2, 85), (3, 80)], "n_id long, rel_micro long"
    )
    sims = {(1, 2): 95, (2, 1): 95, (1, 3): 10, (3, 1): 10, (2, 3): 10, (3, 2): 10}
    pairs = spark.createDataFrame(
        [(a, b, s) for (a, b), s in sims.items()],
        "a_id long, b_id long, psim_micro long",
    )
    rows = mmr_select(cand, pairs, k=3).orderBy("pick_order").collect()
    assert [(r.pick_order, r.n_id) for r in rows] == [(1, 1), (2, 3), (3, 2)]
    assert rows[0].mmr_score == 7 * 90
    assert rows[1].mmr_score == 7 * 80 - 3 * 10
    assert rows[2].mmr_score == 7 * 85 - 3 * 95


def test_mmr_select_keeps_candidates_missing_pairs_rows(spark):
    # Candidate 3 has NO pairs row against anything — its redundancy is 0
    # by definition, so with λ=0.5 it must beat the near-dup B on pick 2:
    # B = 5*85-5*95 = -50, C = 5*40-0 = 200 (an inner join would silently
    # drop C and pick B instead).
    from zip_to_parquet_spark.operators.retrieval import mmr_select

    cand = spark.createDataFrame(
        [(1, 90), (2, 85), (3, 40)], "n_id long, rel_micro long"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 95), (2, 1, 95)], "a_id long, b_id long, psim_micro long"
    )
    rows = mmr_select(cand, pairs, k=3, lam_tenths=5).orderBy("pick_order").collect()
    # pick 2: B = 5*85-5*95 = -50; C = 5*40-0 = 200 → C wins.
    assert [(r.pick_order, r.n_id) for r in rows] == [(1, 1), (2, 3), (3, 2)]
    assert rows[1].mmr_score == 5 * 40


def test_mmr_select_rejects_bad_lambda(spark):
    from zip_to_parquet_spark.operators.retrieval import mmr_select

    cand = spark.createDataFrame([(1, 1)], "n_id long, rel_micro long")
    pairs = spark.createDataFrame([], "a_id long, b_id long, psim_micro long")
    with pytest.raises(ValueError, match="lam_tenths"):
        mmr_select(cand, pairs, k=1, lam_tenths=11)


def test_silhouette_overflow_headroom_and_bounds(spark):
    # The (b2 - a2) * 1000 product must keep far away from 2^63, and
    # every per-point score must land in [0, 1000] (a2 <= b2 by argmin).
    from zip_to_parquet_spark.operators.vectors import kmeans_integer
    from zip_to_parquet_spark.schema import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dm = kmeans_integer(emb, k=8, iters=3, return_distance_matrix=True)
    mx = dm.agg(F.max("d2")).collect()[0][0]
    assert mx * 1000 < 2**62, mx  # one spare doubling of headroom
    from zip_to_parquet_spark.plans import all_queries

    rows = all_queries()["cluster_silhouette_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "no clusters"
    for r in rows:
        assert 0 <= r.min_sil_milli <= r.mean_sil_milli <= 1000, r


def test_ks_statistic_matches_bruteforce(spark):
    # Exact replica: D = sup |F1 - F2| over the union of sample points,
    # computed brute-force from the raw samples.
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table

    sf = "/root/testdata/sf0.001"
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rows = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
        .select(
            (F.col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("long").alias("v"),
            "r_name",
        )
        .collect()
    )
    a = sorted(x.v for x in rows if x.r_name == "EUROPE")
    b = sorted(x.v for x in rows if x.r_name == "ASIA")
    na, nb = len(a), len(b)
    import bisect

    best = 0
    for v in sorted(set(a) | set(b)):
        ca = bisect.bisect_right(a, v)
        cb = bisect.bisect_right(b, v)
        best = max(best, abs(ca * nb - cb * na))
    got = all_queries()["stats_ks_statistic"](spark, sf).collect()[0]
    assert (got.n_a, got.n_b, got.ks_scaled) == (na, nb, best)
    assert got.ks_permille == (best * 1000) // (na * nb)


def test_mannwhitney_matches_bruteforce_auc(spark):
    # U counts (a > b) pairs plus half the (a == b) ties; doubled U must
    # equal the brute-force pair count exactly.
    from zip_to_parquet_spark.plans import all_queries
    from zip_to_parquet_spark.schema import load_table

    sf = "/root/testdata/sf0.001"
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rows = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("EUROPE", "ASIA"))
        .select(
            (F.col("c_acctbal").cast("decimal(12,2)") * 100)
            .cast("long").alias("v"),
            "r_name",
        )
        .collect()
    )
    a = [x.v for x in rows if x.r_name == "EUROPE"]
    b = [x.v for x in rows if x.r_name == "ASIA"]
    u2 = sum(2 for x in a for y in b if x > y) + sum(
        1 for x in a for y in b if x == y
    )
    got = all_queries()["stats_mannwhitney_u"](spark, sf).collect()[0]
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert got.u2_a == u2
    assert got.u2_a + got.u2_b == 2 * len(a) * len(b)


def test_pav_minimax_identity_property():
    """Property: the minimax closed form max_{j<=i} min_{k>=i}
    mean(y[j..k]) (what quality_isotonic_pav computes relationally)
    equals the classic stack PAV on arbitrary bin sequences — exact
    Fraction arithmetic, no engines involved."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    bins_strategy = st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)).map(
            lambda t: (t[0], min(t[1], t[0]))  # p <= n
        ),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=300, deadline=None)
    @given(bins=bins_strategy)
    def prop(bins):
        # stack PAV
        stack = []
        for n, p in bins:
            stack.append([n, p])
            while len(stack) >= 2 and Fraction(
                stack[-2][1], stack[-2][0]
            ) > Fraction(stack[-1][1], stack[-1][0]):
                n2, p2 = stack.pop()
                stack[-1][0] += n2
                stack[-1][1] += p2
        pav = []
        for n_blk, p_blk in stack:
            consumed = 0
            while consumed < n_blk:
                take = bins[len(pav)][0]
                pav.append(Fraction(p_blk, n_blk))
                consumed += take
        # minimax closed form
        pre_n = [0]
        pre_p = [0]
        for n, p in bins:
            pre_n.append(pre_n[-1] + n)
            pre_p.append(pre_p[-1] + p)
        m = len(bins)
        for i in range(m):
            best = None
            for j in range(i + 1):
                worst = None
                for k in range(i, m):
                    mean = Fraction(
                        pre_p[k + 1] - pre_p[j], pre_n[k + 1] - pre_n[j]
                    )
                    if worst is None or mean < worst:
                        worst = mean
                if best is None or worst > best:
                    best = worst
            assert best == pav[i], (bins, i, best, pav[i])

    prop()


def test_apss_prefix_property_vs_brute_force(spark):
    """Property: on arbitrary tiny corpora (with heavy shared-term
    collisions by design — tokens drawn from a 6-word alphabet), the
    prefix-filtered APSS returns exactly the brute-force answer. A few
    hypothesis-chosen corpora, one Spark job each."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from zip_to_parquet_spark.operators.dedupe import (
        apss_prefix_pairs,
        shingle_sets,
    )

    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(token, min_size=3, max_size=12).map(" ".join)
    corpus = st.lists(doc, min_size=2, max_size=6)

    @settings(max_examples=8, deadline=None)
    @given(docs=corpus)
    def prop(docs):
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        sh = shingle_sets(df)
        got = {
            (r["doc_a"], r["doc_b"]): r["o"]
            for r in apss_prefix_pairs(sh).collect()
        }
        sets = {r["doc_id"]: set(r["sh"]) for r in sh.collect()}
        want = {}
        for a, b in combinations(sorted(sets), 2):
            o = len(sets[a] & sets[b])
            if o > 0 and 2 * o * o >= len(sets[a]) * len(sets[b]):
                want[(a, b)] = o
        assert got == want, (docs, got, want)

    prop()


def test_lsh_params_corpus_sized():
    """lsh_params_for (r13): fixture scales resolve to the historical
    (8, 32) exactly — oracle hashes unchanged — and at corpus scale the
    dials keep candidate volume linear while holding the recall bound."""
    import math

    from zip_to_parquet_spark.operators.vectors import lsh_params_for

    # Every fixture scale (sf0.001 .. sf0.1 embeddings: 50..2000 vecs).
    for n in (0, 50, 500, 2000):
        assert lsh_params_for(n, threshold=0.95) == {
            "n_planes": 8,
            "n_tables": 32,
        }
    # 10^9 vectors: planes track log2(n/target), tables rise to hold the
    # OR-amplification miss probability at <= 1e-6.
    big = lsh_params_for(1_000_000_000, threshold=0.95)
    assert big["n_planes"] == 24
    q = 1.0 - math.acos(0.95) / math.pi
    miss = (1.0 - q ** big["n_planes"]) ** big["n_tables"]
    assert miss <= 1e-6
    # Planes never exceed the UDF's packing bound and grow monotonically.
    last = 0
    for n in (10**3, 10**5, 10**7, 10**9, 10**12):
        p = lsh_params_for(n, threshold=0.95)["n_planes"]
        assert last <= p <= 24
        last = p
    # A softer threshold (wider angle) needs MORE tables at equal planes.
    soft = lsh_params_for(1_000_000_000, threshold=0.80)
    assert soft["n_tables"] >= big["n_tables"]


def test_lsh_params_degenerate_thresholds():
    """ADVICE r13: threshold=±1.0 must return finite dials, not a math
    domain error (q=1 → log(0)) or a division by zero (q=0 → log(1));
    max_tables bounds the OR-amplification blow-up as q → 0."""
    from zip_to_parquet_spark.operators.vectors import lsh_params_for

    exact = lsh_params_for(2000, threshold=1.0)
    assert exact == {"n_planes": 8, "n_tables": 32}
    anti = lsh_params_for(2000, threshold=-1.0)
    assert anti["n_planes"] == 8 and 32 <= anti["n_tables"] <= 4096
    # Out-of-range cosines clamp rather than raise.
    assert lsh_params_for(2000, threshold=2.0) == exact
    assert lsh_params_for(2000, threshold=0.0)["n_tables"] <= 4096


def test_simhash_params_corpus_sized():
    """simhash_params_for (r13 ask #3): fixture scales resolve to the
    historical blocks=4 exactly — oracle results unchanged — and at
    corpus scale the block count rises so the table-KEY width
    (bits·(B-k)/B) holds expected bucket occupancy at the target, with
    the pigeonhole completeness guarantee (blocks > max_hamming) intact
    at every setting."""
    import math

    from zip_to_parquet_spark.operators.dedupe import (
        simhash_params_for,
        simhash_tables,
    )

    # Every fixture scale (sf0.001 .. sf0.1 documents: 50..5000 docs).
    for n in (0, 50, 500, 5000):
        assert simhash_params_for(n) == {"blocks": 4}
    # Dial breakpoints: key width must clear log2(n/64).
    assert simhash_params_for(2_000_000) == {"blocks": 4}  # needed 14.9 <= 15
    assert simhash_params_for(3_000_000) == {"blocks": 5}  # needed 15.5 -> 24
    assert simhash_params_for(1_000_000_000) == {"blocks": 5}  # 23.9 <= 24
    assert simhash_params_for(2_000_000_000) == {"blocks": 6}  # 24.9 -> 30
    assert simhash_params_for(10**13) == {"blocks": 6}  # clamp at the cap
    # Occupancy scaling + completeness at every reachable setting.
    for n in (5_000, 3_000_000, 2_000_000_000):
        b = simhash_params_for(n)["blocks"]
        width = 60 * (b - 3) // b
        combos = simhash_tables(b, 3)
        assert len(combos) == math.comb(b, 3)
        assert all(len(c) == b - 3 for c in combos)
        assert b > 3  # pigeonhole guarantee
        if n > 64 * 2**15:  # past the fixture regime the occupancy holds
            assert n / 2**width <= 64 * 1.5
    # Invalid settings are loud.
    import pytest

    with pytest.raises(ValueError):
        simhash_tables(3, 3)  # blocks must exceed max_hamming
    with pytest.raises(ValueError):
        simhash_tables(7, 3)  # blocks must divide bits
