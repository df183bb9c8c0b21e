"""Vector math over ``array<float>`` embedding columns.

Catalyst-only building blocks (`zip_with` + `aggregate` — codegen'd, no
Python in the row path) for exact cosine similarity, plus a fixed-seed
random-hyperplane signature UDF (Arrow-batched numpy matmul — the one place
vectorized Python genuinely beats 64 nested aggregate expressions).
"""

# NOTE: no `from __future__ import annotations` here — it would stringify
# the pandas-UDF type hints, which pandas_udf cannot resolve at runtime.

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "hyperplane_multitable_udf",
    "cosine_lsh_pairs",
    "train_ivf_codebook",
    "gemm_topk_candidates",
    "kmeans_integer",
    "lloyds_codebook_l2",
    "train_pq_codebooks",
    "ivfpq_train_arrays",
    "pq_encode_udf",
    "pq_decode_expr",
    "semantic_dedup_pairs",
    "deterministic_training_sample",
    "replayed_training_sample",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ, sequential left-to-right — the same evaluation order DuckDB
    uses, so doubles match bit-for-bit in oracle comparisons."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    ``try_divide`` instead of ``/``: Spark 4 runs ANSI mode, where plain
    0.0/0.0 raises DIVIDE_BY_ZERO — an all-zero embedding (padding rows,
    failed encoders) would abort the whole job. NULL similarity then falls
    out of ``>= threshold`` filters and of ``ORDER BY sim DESC`` top-k
    (Spark sorts NULL last on DESC), which is the semantics we want:
    zero vectors are similar to nothing, not similar to everything.
    """
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def hyperplane_multitable_udf(
    dim: int, n_planes: int = 8, n_tables: int = 8, seed: int = 42
):
    """array<float> → array<long>: one hyperplane-LSH bucket per hash table.

    OR-amplification: a single n_planes-bit table only catches pairs at
    angle θ with probability (1-θ/π)^n_planes — near zero for the moderate
    similarities that dominate top-k neighbors. L independent tables lift
    recall to 1-(1-p)^L at the cost of L bucket keys per vector (explode →
    equi-join per (table, bucket), still no cross join). One numpy matmul
    computes all L×n_planes projections per Arrow batch.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if n_planes > 63:
        raise ValueError("bucket must fit a signed 64-bit integer")

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        planes = np.random.RandomState(seed).standard_normal(
            (dim, n_tables * n_planes)
        )
        mat = np.vstack(v.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, tables*planes)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series(list((bits @ weights).astype(np.int64)))

    return buckets


def lsh_params_for(n_vectors: int, threshold: float) -> dict:
    """Corpus-sized hyperplane-LSH parameters for :func:`cosine_lsh_pairs`.

    A FIXED plane count is a scale bug: 2^n_planes buckets per table
    means bucket occupancy — and with it C(bucket, 2) candidate volume —
    grows linearly with the corpus (n²/2^(planes+1) pairs per table; the
    LSH_BUCKET_CAP star guard bounds the damage but collapses recall
    inside oversized buckets). Sizing both dials from the corpus keeps
    candidate volume LINEAR in n with recall held:

    - ``n_planes`` = log2(n / 64), clamped to [8, 24]: expected bucket
      occupancy stays near 64, so per-table candidate volume is
      ~n/64 · C(64, 2) ∝ n.
    - ``n_tables`` from the OR-amplification bound, clamped to
      [32, 4096]: a qualifying pair at angle θ = arccos(threshold)
      collides per table with q^planes (q = 1 - θ/π), so
      tables = ln(1e-6)/ln(1 - q^planes) holds the miss probability at
      1e-6 as planes rise.

    At every fixture scale (≤ 2000 vectors) this resolves to exactly the
    historical (8, 32) — plan and oracle hashes unchanged; the dials move
    only when the corpus does (e.g. n = 10⁹ → 24 planes, ~170 tables:
    ~5×10³ candidates per vector instead of ~n/16). Degenerate
    thresholds are clamped — q is held in the open interval (0, 1) so
    threshold=±1.0 returns finite dials instead of a math domain error,
    and the 4096-table cap bounds the OR-amplification blow-up as q → 0
    (ADVICE r13). Enumerated in tests/test_operators.py."""
    import math

    planes = max(8, min(24, math.ceil(math.log2(max(1.0, n_vectors / 64)))))
    # Clamp q into the OPEN interval: threshold=1.0 gives q=1 (log(0)
    # domain error in the table formula) and threshold=-1.0 gives q=0
    # (log(1)=0 divisor) — both degenerate thresholds must still return
    # finite dials (ADVICE r13).
    q = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    q = min(max(q, 1e-9), 1.0 - 1e-9)
    # log1p keeps the denominator finite and non-zero even when q**planes
    # underflows past float resolution (1.0 - 1e-72 rounds to 1.0).
    tables = min(
        4096, max(32, math.ceil(math.log(1e-6) / math.log1p(-(q**planes))))
    )
    return {"n_planes": planes, "n_tables": tables}


def cosine_lsh_pairs(
    emb,
    threshold: float,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "v",
):
    """Embedding near-duplicate pairs (cosine ≥ threshold) with hyperplane-
    LSH candidate generation and exact cosine verification — the
    shuffle-bounded replacement for the O(n²) all-pairs theta join.

    Shape: one numpy matmul per Arrow batch computes 32 bucket keys per
    vector; buckets group on (table_idx, bucket) and expand pairs in-row
    (same bucket-then-expand idiom as minhash_lsh_pairs_docs — no
    self-join, no cartesian); the exact `cosine ≥ threshold` predicate then
    decides every surviving pair, so precision is exact and only recall is
    probabilistic.
    Bucket count per table is FIXED at 2^n_planes, so bucket size grows
    linearly with the corpus — n_planes must scale with log2(corpus) on a
    real deployment, and mis-sizing is bounded rather than fatal: above
    dedupe.LSH_BUCKET_CAP ids a bucket expands the linear bucket-minimum
    star instead of C(b, 2) pairs (r13; recall contract at _bucket_pairs).

    Recall at the default 0.95/8-plane/32-table setting: a qualifying pair
    (θ ≤ 18.2°) collides in one table with p = (1-θ/π)^8 ≈ 0.43, so the
    miss probability across 32 independent tables is (1-p)^32 ≈ 2e-8.
    Fixed-seed planes keep the output deterministic.
    """
    from zip_to_parquet_spark.operators.dedupe import _bucket_pairs

    sig = hyperplane_multitable_udf(
        dim=dim, n_planes=n_planes, n_tables=n_tables, seed=seed
    )
    banded = emb.select(
        F.col(id_col).alias("vec_id"), F.posexplode(sig(F.col(vec_col)))
    ).select("vec_id", F.col("pos").alias("table_idx"), F.col("col").alias("bucket"))
    cand = (
        banded.groupBy("table_idx", "bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assign_udfs(codebook, nprobe: int):
    """(nearest_cell, nearest_cells) pandas UDFs for IVF coarse
    quantization over a driver-side ``[(cent_id, [float, ...]), ...]``
    codebook (must be cent_id-sorted for the tie-break below).

    One numpy matmul per Arrow batch against the closure-shipped,
    row-normalized codebook matrix — map-only, no join, no shuffle: the
    FAISS/ScaNN coarse-quantizer shape. numpy argmax returns the FIRST
    max and stable argsort keeps codebook order for ties, so with a
    cent_id-sorted codebook both reproduce SQL's
    ``ORDER BY sim DESC, cent_id`` tie-break. Zero-norm vectors assign
    via clipped norms (sim 0 to every cell); the exact-cosine re-rank
    downstream yields NULL sim for them either way, keeping them out of
    every top-k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not codebook:
        # Loud precondition, not a numpy AxisError downstream: an empty
        # codebook means the centroid sample matched nothing — an
        # ill-posed corpus for IVF (degenerate_sweep.py allowlist).
        raise ValueError("IVF codebook is empty: centroid sample matched no vectors")
    cent_ids = np.array([c[0] for c in codebook], dtype=np.int64)
    cmat = np.array([c[1] for c in codebook], dtype=np.float64)
    cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True).clip(min=1e-300)

    def _sims(v):
        mat = np.vstack(v.to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True).clip(min=1e-300)
        return mat @ cnorm.T

    @pandas_udf("long")
    def nearest_cell(v: pd.Series) -> pd.Series:
        return pd.Series(cent_ids[_sims(v).argmax(axis=1)])

    # asNondeterministic: every consumer joins/groups on the assigned cell
    # id, and the join's inferred isnotnull(cent_id) filter gets pushed
    # BELOW the projection, duplicating the full-corpus argmax UDF — the
    # plan showed two ArrowEvalPython[nearest_cell] nodes on the assign
    # path, one only feeding the vacuous null check (guide §4.4; the UDF
    # never returns null). The marking stops the optimizer from copying
    # the expression; the function itself is pure and the assigned ids
    # are unchanged. Trade-off per the guide: filters no longer push past
    # the projection — the only one here is that same vacuous isnotnull.
    nearest_cell = nearest_cell.asNondeterministic()

    @pandas_udf("array<long>")
    def nearest_cells(v: pd.Series) -> pd.Series:
        idx = np.argsort(-_sims(v), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cent_ids[idx]))

    return nearest_cell, nearest_cells


def ivf_sample_modulus(n: int, k: int, sample_per_centroid: int) -> int:
    """The deterministic 1-in-m training-sample rate for a corpus of ``n``
    rows — shared by the Spark sampler below and the pure-Python oracle
    replication in ``plans/llm.py``."""
    return max(n // max(k * sample_per_centroid, k), 1)


def _lloyds(x, k: int, iters: int, assign_fn):
    """Pure-numpy Lloyd's k-means over an (n, dim) float64 sample;
    ``assign_fn(x, cents)`` → per-row centroid index is the only step the
    two public trainers vary. Deterministic (fixed init from the first k
    rows, an empty cluster re-seeds from a RandomState seeded 42), so the
    SAME array trains the SAME codebook anywhere it runs: the driver-side
    oracle generators replay the public trainers to inline centroids as
    SQL literals."""
    import numpy as np

    if len(x) < k:
        raise ValueError(f"sample of {len(x)} rows cannot seed {k} centroids")
    rng = np.random.RandomState(42)
    cents = x[:k].copy()  # deterministic init: first k sampled ids
    for _ in range(iters):
        assign = assign_fn(x, cents)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
            else:
                cents[j] = x[rng.randint(len(x))]
    return [[float(v) for v in c] for c in cents]


def _cosine_assign(x, cents):
    import numpy as np

    # Cosine assignment == euclidean on normalized vectors.
    xn = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-12)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True).clip(min=1e-12)
    return (xn @ cn.T).argmax(axis=1)


def _l2_assign(x, cents):
    d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
    return d.argmin(axis=1)  # first-min ties == lowest code


def lloyds_codebook(x, k: int):
    """Cosine Lloyd's k-means (the IVF coarse trainer), 10 rounds: each
    round assigns rows by normalized-cosine argmax. See ``_lloyds``."""
    return _lloyds(x, k, 10, _cosine_assign)


def train_ivf_codebook(emb, k: int = 64):
    """Sampled-k-means IVF codebook over ``(vec_id, v)`` rows: returns a
    ``(k, dim)`` list of centroid lists, trained with Lloyd's algorithm on
    a deterministic hash sample.

    The sample is taken distributed (crc32-of-id filter — no full collect)
    and only ~k·16 vectors land on the driver, where numpy
    Lloyd's runs in milliseconds: codebook training is a bounded driver-side
    step by design in IVF builds (FAISS trains on a sample the same way).
    Deterministic: hash sampling, sorted ids, fixed seed/iteration count —
    and the sample hash is crc32 over the id's decimal string, which
    ``zlib.crc32(str(id).encode())`` reproduces bit-for-bit outside Spark,
    so the value oracle can replay training from the raw parquet.
    """
    x = deterministic_training_sample(emb, k, 16)
    return lloyds_codebook(x, k=k)


def deterministic_training_sample(emb, k: int, sample_per_centroid: int):
    """The ONE definition of the bounded deterministic training sample of
    ``(vec_id, v)`` rows:
    crc32-of-decimal-id filter at ``ivf_sample_modulus`` rate, id-sorted,
    float64. Shared by the IVF and PQ trainers — and replayed bit-for-bit
    by the oracle generators in plans/llm.py (same crc32 contract), so
    any change here must change both or the value oracles break loudly."""
    import numpy as np

    n = emb.count()
    m = ivf_sample_modulus(n, k, sample_per_centroid)
    sample = (
        emb.filter(
            F.crc32(F.col("vec_id").cast("string").cast("binary")) % m == 0
        )
        .select("vec_id", "v")
        .collect()
    )
    sample.sort(key=lambda r: r[0])
    return np.array([list(r[1]) for r in sample], dtype=np.float64)


def replayed_training_sample(sf_dir: str, k: int, sample_per_centroid: int):
    """Pure-Python replay of :func:`deterministic_training_sample` from the
    raw embeddings parquet — the oracle-side half of the crc32 contract
    (``zlib.crc32(str(id).encode())`` == Spark's
    ``crc32(cast(id as string))``). Keep the two in lockstep."""
    import zlib

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()  # float32 → Python float, exact
    m = ivf_sample_modulus(len(ids), k, sample_per_centroid)
    samp = sorted(
        (i, v)
        for i, v in zip(ids, vecs)
        if zlib.crc32(str(i).encode()) % m == 0
    )
    return np.array([v for _, v in samp], dtype=np.float64)


def semantic_dedup_pairs(emb, codebook):
    """SemDeDup core (Abbas et al. 2023): assign every ``(vec_id, v)``
    embedding to its nearest trained centroid (map-only numpy argmax per
    Arrow batch), then emit exact cosine near-duplicate pairs WITHIN each
    cluster via an equi-join on the cluster id. Returns ``(assign,
    pairs)`` DataFrames: assign = (vec_id, v, cluster); pairs = (cluster,
    vec_a, vec_b, cos_sim) with cos_sim rounded to 6 and ≥ 0.95.

    Candidate volume is O(Σ cell²); scale k with the corpus so cells stay
    constant-sized (same knob as IVF — 4k-64k cells in production)."""
    nearest_cell, _ = ivf_assign_udfs(
        [(i, c) for i, c in enumerate(codebook)], nprobe=1
    )
    assign = emb.select("vec_id", "v", nearest_cell("v").alias("cluster"))
    # Both sides of the pair self-join AND the caller's members groupBy
    # consume `assign`; without materialization Spark re-runs the scan +
    # argmax UDF once per consumer branch. localCheckpoint, not persist():
    # checkpoint blocks are released by the ContextCleaner when the
    # DataFrame is garbage-collected, so repeated calls (driver sweeps,
    # pytest) don't pin an ever-growing cache of embedding corpora —
    # persist() would need an unpersist() no caller can place, since the
    # action happens after this function returns.
    assign = assign.localCheckpoint(eager=True)
    a = assign.select(
        "cluster", F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = assign.select(
        "cluster", F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cluster",
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
    )
    return assign, pairs


def lloyds_codebook_l2(x, k: int, iters: int = 10):
    """Euclidean Lloyd's k-means over an (n, dim) float64 sample — the PQ
    sub-quantizer trainer (raw subvectors, L2 assignment: unlike the
    cosine variant above, PQ must preserve magnitudes because ADC sums
    un-normalized partial inner products). Same deterministic loop as
    ``lloyds_codebook`` (``_lloyds``), so the oracle generator replays it
    bit-for-bit."""
    return _lloyds(x, k, iters, _l2_assign)


def train_pq_codebooks(
    emb,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    sample_per_centroid: int = 50,
):
    """Product-quantization codebooks of ``(vec_id, v)`` rows: split ``dim``
    into ``m`` contiguous subspaces and train an independent
    ``ksub``-centroid L2 codebook per subspace (Jégou et al. 2011; the FAISS
    IndexPQ trainer). Returns ``m`` lists of ``ksub`` centroid lists.

    Same bounded-driver-sample discipline as ``train_ivf_codebook``: a
    deterministic crc32-of-id filter lands ~ksub·sample_per_centroid rows
    on the driver; numpy trains in milliseconds. The crc32 sample and the
    fixed-seed Lloyd's make training replayable outside Spark, so a value
    oracle can inline the trained centroids as SQL literals."""
    x = deterministic_training_sample(emb, ksub, sample_per_centroid)
    if x.ndim < 2:
        # Loud precondition, not an IndexError on .shape[1]: an empty
        # corpus yields a 0-row (1-D) sample (degenerate_sweep allowlist).
        raise ValueError(
            f"sample of {len(x)} rows cannot seed {ksub} centroids"
        )
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    return [
        lloyds_codebook_l2(x[:, s * dsub : (s + 1) * dsub], k=ksub, iters=iters)
        for s in range(m)
    ]


def ivfpq_train_arrays(x):
    """FAISS-IVFPQ trainer (Jégou et al. 2011 §IV; faiss IndexIVFPQ):
    from ONE deterministic (n, dim) float64 sample, train (a) the
    16-centroid coarse cosine codebook with ``lloyds_codebook`` and (b)
    16-centroid L2 codebooks for each of 16 subspaces over the RESIDUALS
    x - coarse_centroid(x) with ``lloyds_codebook_l2`` (10 rounds).
    Encoding residuals instead of raw vectors is the IVFPQ insight:
    within a cell the residual energy is much smaller than the vector
    energy, so the same PQ bit budget quantizes far more finely. Returns
    ``(coarse, cbs)`` — ``coarse`` a (16, dim) list-of-lists, ``cbs`` 16
    lists of 16 sub-centroids.

    Pure numpy, deterministic end-to-end (fixed inits/seeds, sample
    assignment replicates ``ivf_assign_udfs``'s normalized-cosine argmax
    incl. its norm clip), so the oracle generator replays this exact
    function on the replayed sample and inlines both codebooks as SQL
    literals."""
    import numpy as np

    m = 16
    coarse = lloyds_codebook(x, k=16)
    cmat = np.array(coarse, dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True).clip(min=1e-300)
    cn = cmat / np.linalg.norm(cmat, axis=1, keepdims=True).clip(min=1e-300)
    assign = (xn @ cn.T).argmax(axis=1)
    resid = x - cmat[assign]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    cbs = [
        lloyds_codebook_l2(resid[:, s * dsub : (s + 1) * dsub], k=16, iters=10)
        for s in range(m)
    ]
    return coarse, cbs


def pq_encode_udf(codebooks):
    """array<double> → array<int> PQ codes: per subspace, the index of the
    L2-nearest centroid. One numpy distance computation per Arrow batch —
    map-only, no shuffle; an encoded corpus stores m bytes per vector
    instead of dim floats (the reason PQ is THE 100 TB ANN memory format).

    Tie/parity note: squared-L2 accumulates per-dimension in float64
    via an EXPLICIT sequential loop — the same left-to-right double adds
    as DuckDB's ``list_distance`` (sqrt is monotone, so argmin agrees).
    A numpy ``.sum(axis=-1)`` would NOT guarantee this: numpy switches
    to pairwise summation for longer reductions, which silently breaks
    bit-parity once dsub grows past the pairwise threshold. numpy argmin
    takes the FIRST min, matching SQL's ``ORDER BY dist, code``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cbs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    dsub = cbs[0].shape[1]

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            xs = mat[:, s * dsub : (s + 1) * dsub]
            d = np.zeros((len(xs), cbs[s].shape[0]))
            for dd in range(dsub):
                diff = xs[:, dd, None] - cbs[s][None, :, dd]
                d = d + diff * diff
            codes[:, s] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_decode_expr(codebooks):
    """Catalyst reconstruction of the PQ-decoded vector of the ``codes``
    column: the trained
    centroids ship as a nested literal array and each code indexes its
    subspace's centroid — pure codegen'd expression, so downstream exact
    arithmetic (the sequential ``dot``) bit-matches a SQL oracle that
    decodes from the same literals."""
    cb_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in cent]) for cent in sub])
            for sub in codebooks
        ]
    )
    return F.flatten(
        F.transform(
            F.col("codes"),
            lambda c, s: F.element_at(F.element_at(cb_lit, s + F.lit(1)), c + F.lit(1)),
        )
    )


def gemm_topk_candidates(
    corpus,
    q_ids,
    q_vecs,
    k: int = 5,
    metric: str = "cosine",
):
    """Brute-force exact cosine (or inner-product, ``metric='ip'`` — the
    ADC scorer for PQ-decoded corpora) scoring of ``(vec_id, v)`` rows
    with per-batch partial top-k; the output column is named
    ``cos_sim_raw`` for either metric:
    returns (q_id, n_id, cos_sim_raw) candidate rows, ≥ the true top-k
    per query, scored identically to the Catalyst ``cosine()`` column.

    The scale fix over the naive broadcast-join + global window: the full
    N×Q similarity matrix never reaches a shuffle. Each Arrow batch scores
    all queries with vectorized numpy and emits only the (k+20) best
    candidates per query, so shuffle volume is O(batches × Q × k) instead
    of O(N × Q) — at 100 TB that is the difference between a rank window
    over trillions of rows and one over a few million.

    Bit-parity with the Catalyst/DuckDB sequential dot product is
    preserved by accumulating over DIMENSIONS in order (``acc +=
    outer(c_d, q_d)``): vectorized across pairs, sequential per pair —
    the same left-to-right double additions as ``F.aggregate``. Final
    rounding/ranking stays in Spark SQL downstream, so oracle tie-breaks
    are decided by exactly the same engine arithmetic as before; the
    in-batch preselection orders by (numpy round 6, id) with a 20-row
    margin against cross-engine rounding drift at the cut line.

    Zero-norm vectors (query or corpus) are excluded here, matching
    ``try_divide`` NULL semantics downstream (NULL never enters top-k).
    """
    import numpy as np

    if metric not in ("cosine", "ip"):
        raise ValueError(f"metric must be cosine|ip, got {metric!r}")
    qm = np.asarray(q_vecs, dtype=np.float64)  # (Q, dim)
    qid = np.asarray(q_ids, dtype=np.int64)
    if qm.ndim != 2 or not len(qm):
        raise ValueError("query set must be a non-empty (Q, dim) matrix")

    def _seq_sq_norm(m):
        acc = np.zeros(len(m))
        for d in range(m.shape[1]):
            acc = acc + m[:, d] * m[:, d]
        return np.sqrt(acc)

    qn = _seq_sq_norm(qm)
    take = k + 20

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            dot = np.zeros((len(cm), len(qm)))
            for d in range(cm.shape[1]):
                dot = dot + np.outer(cm[:, d], qm[:, d])
            if metric == "ip":
                sim = dot  # no normalization; zero vectors score 0, valid
            else:
                den = np.outer(_seq_sq_norm(cm), qn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = dot / den
                sim[den == 0.0] = np.nan
            sim[cid[:, None] == qid[None, :]] = np.nan  # self-match
            # Preselect by the FINAL ordering (rounded desc, id asc);
            # margin absorbs numpy-vs-JVM rounding drift at the cut.
            # r15 (guide §4.2): ONE lexsort over the whole (N × Q) batch
            # keyed (query, rounded desc, id asc) replaces the Q-iteration
            # Python loop of per-column lexsorts — the selected set is
            # identical by construction (same keys, same order, same
            # take cut; NaNs sort last under -rounded ascending and are
            # excluded by the per-query valid count, exactly as the
            # per-column valid mask did).
            n_c, n_q = sim.shape
            rounded = np.round(sim, 6)
            qcol = np.broadcast_to(np.arange(n_q), (n_c, n_q))
            crow = np.broadcast_to(cid[:, None], (n_c, n_q))
            order = np.lexsort(
                (crow.ravel(), -rounded.ravel(), qcol.ravel())
            ).reshape(n_q, n_c)  # row j = that query's rows, best first
            n_valid = n_c - np.isnan(sim).sum(axis=0)
            n_take = np.minimum(n_valid, take)
            col_idx = np.broadcast_to(np.arange(n_c), (n_q, n_c))
            keep = col_idx < n_take[:, None]
            flat = order[keep]  # flat indices into the (N × Q) C-order grid
            out_q = qid[flat % n_q]
            out_n = cid[flat // n_q]
            out_s = sim.ravel()[flat]
            yield pd.DataFrame(
                {"q_id": out_q.astype(np.int64),
                 "n_id": out_n.astype(np.int64),
                 "cos_sim_raw": out_s.astype(np.float64)}
            )

    return corpus.select("vec_id", "v").mapInPandas(
        score, schema="q_id long, n_id long, cos_sim_raw double"
    )


def kmeans_integer(
    emb,
    k: int = 8,
    iters: int = 3,
    scale: int = 1_000_000,
    offset: int = 4_000_000,
    return_distance_matrix: bool = False,
):
    """Distributed Lloyd's k-means of ``(vec_id, embedding)`` rows in exact
    INTEGER micro-units →
    ``(vec_id, cluster, dist2)``; with ``return_distance_matrix=True``,
    the full n×k ``(vec_id, cl, d2)`` relation against the FINAL
    centroids instead (one extra broadcast-scoring pass, no shuffle) —
    the input for cluster-quality evaluation (silhouette).

    The corpus-scale embedding-clustering primitive (the step SemDeDup /
    topic-stratified mixture planning run first; Abbas et al. 2023 §3).
    Unlike :func:`lloyds_codebook_l2` — which trains on a bounded
    driver-side SAMPLE for codebooks — this clusters EVERY row, fully
    distributed, the MLlib-KMeans execution shape: broadcast the k
    centroids, assign map-side, re-estimate with one (cluster, dim)
    aggregate per iteration.

    Why integer: float centroid means are addition-order-dependent, so a
    distributed float k-means never reproduces bit-for-bit across
    partitionings or engines. Here coordinates are quantized ONCE to
    micro-units (``floor(x·1e6) + offset``; the offset keeps every value
    positive so integer division is floor division in Spark, DuckDB, and
    Python alike — they disagree on negatives), distances are exact
    integer sums (translation-invariant, so the offset cancels), and the
    centroid update is ``sum div count`` — an exact fixed point any
    engine replays. Ties (equal dist2) break to the smallest cluster id
    via lexicographic struct-min.

    Init: the k smallest ids' vectors (deterministic, replayable in SQL).
    Empty clusters keep their previous centroid.

    Scale shape: per iteration ONE broadcast of k·dim longs, one narrow
    n×k scoring pass (codegen'd ``zip_with``/``aggregate``, no Python),
    one groupBy(vec_id) argmin (map-side combinable min-struct), and one
    groupBy(cluster, dim) sum over the posexploded n·dim rows (map-side
    partial sums make the shuffle k·dim·n_partitions, not n·dim).
    ``localCheckpoint`` truncates the per-iteration lineage — the same
    iterative idiom as ``pagerank_integer``. No unbounded collect: the
    only driver materialization is the k-row centroid table Spark
    broadcasts.

    Reference: no clustering surface exists in the 597-line zip CLI
    (SURVEY §0); north-star LLM-pipeline extension.
    """
    # Loud precondition instead of a silent contract: a coordinate below
    # -offset/scale would quantize negative, where Spark's `div` truncates
    # while DuckDB's `//` and Python's `//` floor — the cross-engine exact
    # fixed point breaks. raise_error() fires task-side the moment such a
    # value exists.
    q = f"cast(floor(cast(e as double) * {scale}) as bigint) + {offset}L"
    x = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, e -> case when ({q}) < 0 then"
            f" cast(raise_error('kmeans_integer: coordinate below"
            f" -offset/scale; raise offset to keep floor division exact')"
            f" as bigint) else ({q}) end)"
        ).alias("xm"),
    ).localCheckpoint(eager=False)

    from pyspark.sql.window import Window

    # k rows only after the limit — the single-partition window is a
    # constant-size frame, not a corpus sort (partitionBy(lit) silences
    # Spark's no-partition warning without changing the plan's size).
    cent = (
        x.orderBy("vec_id")
        .limit(k)
        .select(
            (
                F.row_number().over(
                    Window.partitionBy(F.lit(0)).orderBy("vec_id")
                )
                - 1
            ).alias("cl"),
            F.col("xm").alias("cm"),
        )
        .localCheckpoint(eager=True)
    )

    d2 = F.expr(
        "aggregate(zip_with(xm, cm, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, e) -> acc + e)"
    )

    def assign(cdf):
        return (
            x.crossJoin(F.broadcast(cdf))
            .withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(
                F.min(F.struct(F.col("d2"), F.col("cl"))).alias("m"),
                F.first("xm").alias("xm"),  # constant within the group
            )
            .select("vec_id", F.col("m.cl").alias("cl"), F.col("m.d2").alias("d2"), "xm")
        )

    for _ in range(iters):
        sums = (
            assign(cent)
            .select("cl", F.posexplode("xm").alias("i", "v"))
            .groupBy("cl", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt"))
        )
        newc = (
            sums.withColumn("nv", F.expr("s div cnt"))
            .groupBy("cl")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, nv))),"
                    " p -> p.nv)"
                ).alias("cm_new")
            )
        )
        cent = (
            cent.join(newc, "cl", "left")
            .select("cl", F.coalesce("cm_new", "cm").alias("cm"))
            .localCheckpoint(eager=True)
        )

    if return_distance_matrix:
        return (
            x.crossJoin(F.broadcast(cent))
            .withColumn("d2", d2)
            .select("vec_id", "cl", "d2")
        )
    return assign(cent).select(
        "vec_id", F.col("cl").alias("cluster"), F.col("d2").alias("dist2")
    )
