"""Deduplication operators: exact, MinHash+LSH, SimHash, exact n-gram Jaccard.

All candidate generation is shuffle-bounded (band-bucket joins), never
O(n²): the cross-join-free shapes here are exactly what survives 100 TB.
The verify stage is exact (array_intersect on shingle sets), so the
approximate stages only affect recall, never precision.

Skew note for the shingle-join path: shingles shared by a large fraction of
documents explode the candidate join. ``max_shingle_permille`` drops
high-document-frequency shingles before the join — the standard stopword-
shingle mitigation; near-duplicate pairs share plenty of rare shingles, so
recall at meaningful thresholds is unaffected.
"""

from __future__ import annotations

# Module-level so that the stringified pandas-UDF type hints (PEP 563, from
# the __future__ import above) resolve through this module's globals when
# pyspark calls typing.get_type_hints on the UDF.
import pandas as pd  # noqa: F401

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.textops import word_shingles, words

__all__ = [
    "shingle_sets",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_band_hashes_from_text_udf",
    "minhash_lsh_pairs_docs",
    "simhash",
    "simhash_pairs",
    "simhash_params_for",
    "simhash_tables",
    "span_dedup",
    "containment_pairs",
    "word_edit_pairs",
    "word_prefix_encoding",
    "snapshot_dedup_index",
    "incremental_dedup_vs_snapshot",
]

# Fixed MinHash parameters: k independent (a·h + b) mod P hashes.
# h is masked to 32 bits and a < 2^30, so a·h + b < 2^62 + 2^61 < 2^63 —
# no long overflow (Spark 4 runs ANSI mode: overflow is an error, not a
# silent wrap), and the hash family stays a genuine universal family.
_MERSENNE_P = (1 << 61) - 1

# The one MinHash-LSH setting: MINHASH_K hashes seeded by MINHASH_SEED over
# distinct SHINGLE_N-word shingles, banded into MINHASH_BANDS bands. The
# snapshot index and the incremental probe must hash with the same values
# for a band hash written by one to be found by the other.
MINHASH_K = 128
MINHASH_BANDS = 32
MINHASH_SEED = 42
SHINGLE_N = 3


def shingle_sets(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, sh) where sh is the distinct SHINGLE_N-word shingle set of
    ``text``."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_shingles(words(F.col("text")), SHINGLE_N)).alias("sh"),
    )


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one survivor (min doc_id) per sha256 of
    ``text``. A single hash-groupBy — the only shuffle key is the 64-char
    digest, which is uniform by construction (no skew at any scale)."""
    return (
        df.select(
            "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
        )
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text_sha")
    )


def _jaccard(sh_a: Column, sh_b: Column) -> Column:
    # try_divide: two empty shingle sets give 0/0, which is an ANSI-mode
    # DIVIDE_BY_ZERO error under plain `/`. NULL jaccard then falls out of
    # every `>= threshold` filter — empty docs are near-duplicates of
    # nothing here; byte-identical empties are exact_dedup's job.
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.try_divide(inter, union)


# Absolute LSH bucket-size cap for in-row candidate-pair expansion
# (VERDICT r12's basket-cap recipe applied to the remaining C(group, 2)
# family, r13). A bucket of b ids expands C(b, 2) pairs, and b is
# DATA-dependent: a boilerplate-heavy corpus (near-identical template
# pages — common in web crawls, and NOT removed by exact dedup) or an
# under-planed hyperplane table (8 planes = 256 buckets, so bucket size
# grows linearly with the corpus) turns one bucket into an O(n²) pair
# bomb inside a single row. Above the cap the expansion switches to the
# STAR over the bucket minimum — b-1 pairs, linear — instead of dropping
# the bucket: a mega-bucket is the densest DUPLICATE signal in the
# corpus, and for dedup/clustering purposes connectivity through the
# representative is what usually matters. Recall contract (r14, was
# overstated): the star preserves only CANDIDATE connectivity — each
# member is paired with the bucket-minimum rep, and downstream exact
# verification (jaccard/hamming/cosine thresholds) still decides every
# emitted pair, so a member whose similarity to the REP falls below the
# threshold loses all connectivity through this bucket even though it
# shared the band. A pair (x, y) BOTH non-representative whose only
# collisions are in above-cap buckets is likewise only reachable through
# rep edges that pass verification — the trade production near-dup
# pipelines make on mega-clusters. The cap never fires on the fixtures
# (measured max bucket at sf0.1: 4 for the minhash bands, 37 for the
# 8-plane cosine tables), so every oracle hash is unchanged.
LSH_BUCKET_CAP = 256


def _bucket_pairs(ids: Column, cap: int = LSH_BUCKET_CAP) -> Column:
    """Ordered candidate pairs (a < b) from a sorted id array, as structs
    — in-row expansion for LSH buckets. All C(b, 2) pairs up to ``cap``
    ids; the bucket-minimum star (b-1 pairs) above it — see
    LSH_BUCKET_CAP. Exercised by tests/test_basket_cap_guard.py."""
    return F.when(
        F.size(ids) <= F.lit(cap),
        F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        ),
    ).otherwise(
        F.transform(
            F.slice(ids, 2, F.size(ids)),
            lambda y: F.struct(
                F.element_at(ids, 1).alias("doc_a"), y.alias("doc_b")
            ),
        )
    )


# Default hot-shingle guard: shingles present in more than this many docs
# PER 1000 (i.e. >1 % of the corpus) are excluded from CANDIDATE generation.
# The candidate self-join is quadratic per shingle, so one "of the"-class
# stop-shingle shared by 1 % of a 100 TB corpus is a skewed-key join that
# explodes exactly at scale; a pair whose ONLY shared shingles are that
# common is noise, not duplication (recall contract: pairs must share at
# least one shingle rarer than 1-in-100 docs — exact verify on the FULL
# shingle sets is unchanged). Integer permille arithmetic so Spark and the
# DuckDB oracle compare identically with no float seam.
HOT_SHINGLE_PERMILLE = 10

# Absolute floor under the corpus-relative guard: a shingle is "hot" only
# if its df ALSO exceeds this count. Without it, tiny corpora fall off a
# cliff — at n_docs < 2000/permille every SHARED shingle (df ≥ 2) exceeds
# the permille bound and candidate generation silently returns zero pairs.
# At fixture scale and above (n ≥ 500, bound ≥ 5) the floor is inactive,
# so large-corpus semantics and all oracles are unchanged.
HOT_SHINGLE_MIN_DF = 5


# The ONE DuckDB restatement of the corpus-relative hot-shingle predicate
# (permille bound AND absolute floor) over a shingle table ``s`` — every
# oracle that guards a shingle self-join interpolates this, so the
# constants above can never desync engine from oracle.
DUCK_HOT_HAVING_SQL = (
    f"count(*) * 1000 > {HOT_SHINGLE_PERMILLE} * (SELECT count(*) FROM s)"
    f" AND count(*) > {HOT_SHINGLE_MIN_DF}"
)


def _shingle_candidate_pairs(
    shingled: DataFrame,
    ordered: bool,
    max_shingle_permille: int | None,
) -> DataFrame:
    """Inverted-index candidate pairs: explode shingles → (optional
    hot-shingle df guard, the stopword-shingle skew mitigation) →
    self-equi-join on the shingle → distinct (doc_a, doc_b).
    ``ordered=False`` keeps unordered pairs (doc_a < doc_b, symmetric
    metrics); ``ordered=True`` keeps both directions (asymmetric metrics
    like containment). Shared by every exact-verify dedup variant so the
    skew guard's semantics live in ONE place.

    Guard: ``max_shingle_permille`` is corpus-relative (drop shingles with
    ``df * 1000 > permille * n_docs``) so the same bound means the same
    thing at sf0.001 and at 100 TB; ``None`` turns it off. The hot set is
    tiny by construction (≤ 1000/permille shingles can each cover
    > permille/1000 of doc-shingle rows), hence the broadcast anti-join."""
    e = shingled.select("doc_id", F.explode("sh").alias("shingle"))
    if max_shingle_permille is not None:
        dfc = e.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        n_docs = shingled.select(F.count(F.lit(1)).alias("n_docs"))
        dfc = dfc.crossJoin(F.broadcast(n_docs))
        hot = dfc.filter(
            (F.col("df") * F.lit(1000) > F.lit(max_shingle_permille) * F.col("n_docs"))
            & (F.col("df") > HOT_SHINGLE_MIN_DF)
        ).select("shingle")
        e = e.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = e.alias("a"), e.alias("b")
    pred = (
        F.col("a.doc_id") != F.col("b.doc_id")
        if ordered
        else F.col("a.doc_id") < F.col("b.doc_id")
    )
    return (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(pred)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    shingled: DataFrame,
    threshold: float,
    max_shingle_permille: int | None = HOT_SHINGLE_PERMILLE,
) -> DataFrame:
    """Exact Jaccard-similar pairs via an inverted-index join on shingles.

    explode → skew-guard (corpus-relative hot-shingle drop, ON by default
    — see :data:`HOT_SHINGLE_PERMILLE`) → self-join on shingle → distinct
    candidate pair → exact verify on the full shingle sets. Shuffles on
    `shingle` then on the pair key; both keys are high-cardinality. The
    exact-verify join broadcasts nothing — at scale `shingled` is big on
    both sides, which is fine: it's an equi-join on doc_id. Pass
    ``max_shingle_permille=None`` for the unguarded (quadratic-per-hot-
    shingle) exact candidate set.
    """
    cand = _shingle_candidate_pairs(shingled, False, max_shingle_permille)
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # No rounding on jaccard: it is a small-denominator rational whose double
    # is bit-identical across engines (same int/int division), while decimal
    # rounding of such rationals hits .5 boundaries where Spark (HALF_UP)
    # and DuckDB (half-even-ish) genuinely disagree.
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_band_hashes_from_text_udf():
    """Arrow-batched numpy MinHash banding straight from text: string →
    array<long> of MINHASH_BANDS LSH band hashes, building the distinct
    n-word shingle set in Python on the way. The one MinHash banding
    kernel.

    Per document: crc32 of each shingle, then k (a·h + b) mod P
    permutations (seeded ``random.Random``) as one vectorized (k × |shingles|)
    numpy modmul, the per-permutation minimum, and crc32 over each band of
    k/bands minima. Shingling in Python instead of as Catalyst arrays
    matters: profiling at sf0.1 showed the HOF shingling (slice +
    array_join + array_distinct per shingle) was ~2/3 of the pipeline's
    CPU, and k unrolled Catalyst expressions cost seconds of Janino
    compile per JVM. Shingle semantics mirror ``shingle_sets`` exactly:
    ``split(text, ' ')`` (keeping empty tokens, like Spark's split),
    windows of n, space-joined, de-duplicated. Documents with fewer than
    n words get no shingles and must be filtered out upstream."""
    import random
    import zlib

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    k, bands, n = MINHASH_K, MINHASH_BANDS, SHINGLE_N
    r = k // bands
    rnd = random.Random(MINHASH_SEED)
    coeffs = [
        (rnd.randrange(1, 1 << 30), rnd.randrange(0, _MERSENNE_P)) for _ in range(k)
    ]
    a_vec = np.array([a for a, _ in coeffs], dtype=np.uint64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.uint64)
    p = np.uint64(_MERSENNE_P)

    @pandas_udf("array<long>")
    def band_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            w = text.split(" ")
            sh = {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
            if not sh:
                out.append([0] * bands)
                continue
            h = np.fromiter(
                (zlib.crc32(s.encode()) for s in sh),
                dtype=np.uint64,
                count=len(sh),
            )
            mins = ((a_vec[:, None] * h[None, :] + b_vec[:, None]) % p).min(
                axis=1
            ).astype(np.int64)
            out.append(
                [int(zlib.crc32(mins[i * r : (i + 1) * r].tobytes())) for i in range(bands)]
            )
        return pd.Series(out)

    return band_hashes


def minhash_lsh_pairs_docs(docs: DataFrame, threshold: float) -> DataFrame:
    """MinHash+LSH near-duplicate pairs from raw ``(doc_id, text)``
    documents, exact-verified — the one MinHash-LSH operator.

    sign+band (one Arrow-batched numpy UDF from text) → bucket-then-expand
    on (band_idx, band_hash) → exact Jaccard verify. Buckets expand pairs
    in-row instead of a self-join, so the banding runs once; a boilerplate
    mega-bucket falls back to the linear star above LSH_BUCKET_CAP (see
    ``_bucket_pairs``). Two structural wins over banding a pre-shingled
    DataFrame: (1) no Catalyst shingle arrays materialize for the 99.9% of
    documents that never become candidates; (2) the exact-verify join
    builds shingle sets only for documents that appear in a candidate pair
    (an equi-join with the distinct candidate-id set), so verify cost
    scales with duplicate density, not corpus size. Recall at
    j ≥ threshold is 1-(1-j^r)^bands (≈1-5e-8 at j=0.8 with k=128/b=32,
    r = k/bands); precision is exact — every pair is ``jaccard >=
    threshold`` on the full shingle sets, as in ``ngram_jaccard_pairs``.
    """
    sig = minhash_band_hashes_from_text_udf()
    # Docs with < n words have no shingles, can't be near-duplicates, and
    # would otherwise form one degenerate all-zeros mega-bucket.
    base = docs.select("doc_id", "text").filter(
        F.size(words(F.col("text"))) >= SHINGLE_N
    )
    banded = base.select("doc_id", F.posexplode(sig("text"))).select(
        "doc_id", F.col("pos").alias("band_idx"), F.col("col").alias("band_hash")
    )
    cand = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # The candidate set is consumed THREE times downstream (the pair join
    # plus both cand_ids union legs), and each consumer re-expands the
    # whole corpus-signature subtree — the static plan holds 10 copies of
    # the banding ArrowEvalPython, and AQE stage reuse does not collapse
    # them all. Materializing the (duplicate-density-sized, tiny) pair
    # set truncates the subtree for every consumer: measured 1.87 → 1.55 s
    # at sf0.1 (interleaved steal-clean A/B, OPTIMIZATION_r14.md §4),
    # identical pair output. localCheckpoint, not persist() — same
    # ContextCleaner rationale as semantic_dedup_pairs in vectors.py.
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = shingle_sets(base.join(cand_ids, "doc_id"))
    sa = sh_cand.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_cand.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# SimHash signature width: every packed value stays positive in a signed
# long and divides evenly into 4, 5 or 6 pigeonhole blocks.
SIMHASH_BITS = 60


def simhash(df: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over the word tokens of ``text``
    (Charikar'02).

    Arrow-batched numpy: per document, 64-bit md5 token hashes expand to a
    (tokens × bits) ±1 matrix whose column sums sign-pack into the
    signature — one vectorized pass, map-only, no shuffle. (The previous
    all-Catalyst version unrolled 60 aggregate expressions; that generated
    enough code to pressure the JIT code cache — see session.py — and was
    slower.) 60 bits keeps every packed value positive in a signed long and
    divides evenly into the block tables of the pigeonhole pair search
    (4, 5, or 6 blocks — see simhash_tables / simhash_params_for).

    Token hash = the last 8 md5 digest bytes little-endian — exactly
    DuckDB's ``md5_number_lower``, which is what makes the whole operator
    SQL-oracle-checkable (plans/llm._simhash_oracle rebuilds signatures,
    bands, and Hamming pairs from scratch in SQL).
    """
    import hashlib

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)

    @pandas_udf("long")
    def signature(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            h = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(w.encode()).digest()[8:], "little")
                    for w in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            # (tokens, bits) bit matrix -> ±1 -> column sums -> sign pack.
            bits_mat = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = (2 * bits_mat.astype(np.int64) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.uint64) << bit_idx).sum()))
        return pd.Series(out)

    return df.select("doc_id", signature(F.col("text")).alias("simhash"))


# simhash's own bucket cap sits HIGHER than LSH_BUCKET_CAP: 15-bit bands
# are low-entropy on template-heavy corpora (measured fixture max 501 at
# sf0.1 — vs 4 for minhash bands, 37 for the cosine tables), and the cap
# must clear every fixture so the exact pigeonhole oracle keeps matching
# hash-for-hash. The in-row bound at the cap is C(1024, 2) ≈ 0.5M pair
# structs ≈ 10 MB transient row — the same per-row ceiling the
# link-prediction wedge pipeline accepts at HUB_DEG_CAP.
SIMHASH_BUCKET_CAP = 1024


def simhash_tables(blocks: int = 4, max_hamming: int = 3) -> list[tuple[int, ...]]:
    """Block combinations for the exact Hamming-≤k table scheme.

    Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling"
    (WWW 2007), §3: split the SIMHASH_BITS-bit signature into ``blocks`` equal
    blocks and build one bucket table per combination of
    ``blocks - max_hamming`` blocks (the table's key is those blocks'
    bits).  A pair within Hamming distance ``max_hamming`` differs in at
    most ``max_hamming`` blocks, so at least one combination is untouched
    and the pair collides EXACTLY on that table — completeness is the
    pigeonhole over blocks, the same argument at every scale.  The
    historical 4×15-bit banding is precisely ``blocks=4``: C(4, 1) = 4
    tables keyed on one 15-bit block each.

    Returns the combinations (tuples of block indices, ascending) shared
    by the Spark plan and the generated DuckDB oracle so the two can
    never desync.
    """
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks={blocks} must exceed max_hamming={max_hamming} "
            "(pigeonhole completeness needs one untouched combination)"
        )
    if SIMHASH_BITS % blocks:
        raise ValueError(f"blocks={blocks} must divide bits={SIMHASH_BITS} evenly")
    import itertools

    return list(itertools.combinations(range(blocks), blocks - max_hamming))


def simhash_params_for(n_docs: int) -> dict:
    """Corpus-sized block count for :func:`simhash_pairs` at Hamming
    distance 3 (r13 ask #3).

    A FIXED 4×15-bit banding is a scale dial left on its smallest
    setting: table-key entropy is 15 bits, so expected bucket occupancy
    n/2^15 — and with it the C(bucket, 2) in-row pair expansion — grows
    linearly with the corpus (measured worse on template-heavy corpora:
    max band bucket 501 at sf0.1's 5 000 docs, ~3 300× the uniform
    expectation, because shared vocabulary pushes the same votes).  More
    blocks make the table KEY wider — ``bits·(B-k)/B`` — which shrinks
    occupancy exponentially at the cost of C(B, k) tables instead of 4:

    ========  ==========  =======  ==========================
    blocks B  key width   tables   uniform occupancy = target
    ========  ==========  =======  ==========================
    4         15 bits     4        n ≈ 64·2^15 ≈ 2.1M docs
    5         24 bits     10       n ≈ 64·2^24 ≈ 1.1G docs
    6         30 bits     20       n ≈ 64·2^30 ≈ 69G docs
    ========  ==========  =======  ==========================

    Rule: the smallest B whose key width ≥ log2(n/64) — the
    same hold-occupancy-constant shape as vectors.lsh_params_for, with
    completeness EXACT at every setting (unlike the probabilistic
    hyperplane tables).  At every fixture scale (n ≤ 5 000 docs, needed
    width ≤ 7 bits) this resolves to the historical blocks=4, so plan
    and oracle results are unchanged; SIMHASH_BUCKET_CAP remains the
    backstop for skew beyond the uniform model.  Enumerated in
    tests/test_operators.py.
    """
    import math

    needed = math.log2(max(1.0, n_docs / 64))
    for b in (4, 5):
        if SIMHASH_BITS * (b - 3) // b >= needed:
            return {"blocks": b}
    return {"blocks": 6}


def simhash_pairs(
    simhashed: DataFrame,
    max_hamming: int = 3,
    blocks: int = 4,
    bucket_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via block-combination
    bucket tables (Manku et al. WWW'07 — see :func:`simhash_tables`).

    Pigeonhole: a pair within Hamming distance ``max_hamming`` differs in
    at most that many of the ``blocks`` blocks, so at least one
    C(blocks, blocks-max_hamming) combination of blocks is untouched and
    the pair matches that table's key exactly — the bucket join is
    *complete*, exact rather than approximate, at EVERY block setting.
    ``blocks=4`` is the historical 4×15-bit banding; more blocks widen
    the table key (shrinking bucket occupancy exponentially) at the cost
    of more tables — :func:`simhash_params_for` picks the smallest
    setting whose key width holds expected occupancy at the target as
    the corpus grows (r13 left this dial fixed; measured max band bucket
    501 at sf0.1's 5 000 docs — simhash bits are SKEWED on
    template-heavy corpora, so occupancy outruns the uniform n/2^width
    model ~3 300×).

    Buckets above SIMHASH_BUCKET_CAP still fall back to the
    bucket-minimum star (same recipe and recall contract as
    _bucket_pairs: candidate connectivity through the rep only, with the
    exact Hamming filter deciding every emitted pair), which keeps the
    in-row expansion linear; the completeness claim holds verbatim while
    every bucket is ≤ cap — true on every fixture (cap 1024 > the 501
    max, so oracle hashes are unchanged).
    """
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    combos = simhash_tables(blocks, max_hamming)

    def _key(combo: tuple[int, ...]) -> Column:
        # Pack the combo's blocks (ascending) into one ≤60-bit bucket key.
        out = F.lit(0).cast("long")
        for pos, blk in enumerate(combo):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned("simhash", blk * width).bitwiseAND(
                        F.lit(mask)
                    ),
                    pos * width,
                )
            )
        return out

    banded = simhashed.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        _key(combo).alias("band_val"),
                    )
                    for i, combo in enumerate(combos)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    # Same bucket-then-expand shape as minhash_lsh_pairs_docs: one
    # aggregation, no self-join; each bucket expands its (doc_id, simhash)
    # structs to pairs in-row, then the exact Hamming filter runs on the
    # pair.
    members = F.array_sort(
        F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))
    )
    def _pair(x, y):
        return F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                "hamming"
            ),
        )

    all_pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: _pair(x, y),
            ),
        )
    )
    # Mega-bucket guard, same shape as _bucket_pairs: linear star over
    # the bucket minimum above bucket_cap (completeness contract in the
    # docstring).
    star_pairs = F.transform(
        F.slice(F.col("ms"), 2, F.size(F.col("ms"))),
        lambda y: _pair(F.element_at(F.col("ms"), 1), y),
    )
    pairs = F.when(
        F.size("ms") <= F.lit(bucket_cap), all_pairs
    ).otherwise(star_pairs)
    return (
        banded.groupBy("band_idx", "band_val")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def span_dedup(
    df: DataFrame,
    span_words: int = 50,
    keep: str = "none",
) -> DataFrame:
    """Exact-substring span deduplication (the scalable Spark form of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": remove verbatim text runs repeated across the corpus).

    The published pipeline builds a corpus-global suffix array to find
    every duplicated ≥50-token substring — inherently single-machine.
    The distributed re-expression: slide a stride-1 window of
    ``span_words`` words over every ``(doc_id, text)`` document, count
    each gram's corpus-wide frequency with one hash-groupBy, and remove
    every word covered by a gram occurring twice or more. Overlapping grams
    make detection ALIGNMENT-INVARIANT: a verbatim duplicated run of
    ≥ span_words words shares all of its length-``span_words`` subruns
    wherever it sits in each document, so the whole run is removed from
    every occurrence. ``keep`` selects the survivor policy:

    * ``"none"`` (default): remove ALL copies — the aggressive
      boilerplate-removal variant, the right default for
      corpus-frequency ≥ 2 spans;
    * ``"first"``: the PAPER-faithful policy — the canonical occurrence
      of each duplicated gram (lowest ``(doc_id, position)``) survives
      and only the other copies are removed, so exactly one copy of a
      duplicated run remains in the corpus (Lee et al.'s suffix array
      keeps one occurrence the same way).

    Word-granular, recall-exact for
    runs ≥ span_words; runs shorter than span_words are below the
    duplication threshold by definition.

    Output: (doc_id, n_grams, n_dup_grams, clean_text) — gram counts per
    document and the surviving words in order.

    Scale shape: every step is linear in corpus tokens and shuffles only
    on uniform or per-doc keys — ``xxhash64(gram)`` (8 bytes, never the
    ~span_words-word gram string, which would be ~300 B/row) for the
    global count and the dup-flag join, (doc_id, pos) for the
    covered-position anti-join, doc_id for reassembly. A 64-bit hash
    collision would conflate two distinct grams; at p≈n²/2⁶⁵ that is
    negligible for any real corpus (10¹² grams → p≈3%·per-corpus of ONE
    collided pair, which would at worst remove one spurious span). The
    stride-1 explode is span_words× the corpus tokens — the price of
    alignment invariance; the paper's suffix array pays O(n log n)
    single-machine instead. No driver-side state, no per-row quadratic
    expressions. ``keep="first"`` adds one shuffle on the same 8-byte
    hash key (row_number per gram — group size is the gram's corpus
    frequency, bounded skew for any non-degenerate corpus).
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be none|first, got {keep!r}")
    w = span_words
    docs = df.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    grams = F.when(
        F.size("ws") >= w,
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - w),
            lambda j: F.struct(
                j.cast("int").alias("j"),
                F.array_join(F.slice("ws", j + 1, w), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<j:int,gram:string>>"))
    # explode_outer keeps sub-gram-length docs in the reassembly. The
    # gram string itself is dropped here: only its 64-bit hash ever
    # shuffles (xxhash64(NULL) would fold to the seed, so null grams are
    # guarded to stay null and excluded from the count).
    sp = docs.select("doc_id", F.explode_outer(grams).alias("g")).select(
        "doc_id",
        F.col("g.j").alias("j"),
        F.when(
            F.col("g.gram").isNotNull(), F.xxhash64(F.col("g.gram"))
        ).alias("gh"),
    )
    counts = (
        sp.filter(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    flagged = sp.join(counts, "gh", "left")
    agg = flagged.groupBy("doc_id").agg(
        F.count("j").alias("n_grams"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_grams"),
    )
    # Coverage via explode + anti-join, NOT a per-word scan of the dup
    # start set: an in-row `filter(ws, i -> exists(starts, ...))` is
    # O(words × dup-grams) per document — quadratic on exactly the
    # boilerplate-heavy docs this operator exists for. Exploding each
    # duplicated gram to its ≤ span_words covered positions and
    # anti-joining on (doc_id, pos) keeps every step linear in corpus
    # tokens (the same magnitude as the gram explode above).
    dup_occurrences = flagged.filter(F.col("c") >= 2)
    if keep == "first":
        from pyspark.sql.window import Window as SqlWindow

        rn_w = SqlWindow.partitionBy("gh").orderBy("doc_id", "j")
        dup_occurrences = (
            dup_occurrences.withColumn("rn", F.row_number().over(rn_w))
            .filter(F.col("rn") > 1)
        )
    covered = (
        dup_occurrences.select(
            "doc_id",
            F.explode(F.sequence(F.col("j"), F.col("j") + w - 1)).alias("pos"),
        )
        .distinct()
    )
    toks = docs.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    clean_by_doc = (
        toks.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("clean_text")
        )
    )
    return (
        docs.join(agg, "doc_id", "left")
        .join(clean_by_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("bigint")).alias(
                "n_dup_grams"
            ),
            # all-words-removed docs have no clean_by_doc row → ''
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# The word edit-distance join compares the first EDIT_PREFIX_WORDS words
# of each document and keeps pairs within EDIT_MAX_DIST word edits.
EDIT_PREFIX_WORDS = 48
EDIT_MAX_DIST = 4


def word_prefix_encoding(text_col: Column) -> Column:
    """Encode the first EDIT_PREFIX_WORDS words as one char per word (the
    first hex digit of each word's md5) — a 16-symbol alphabet in which
    character edit distance IS word-level edit distance up to 1/16
    collision leniency, computable by any engine's ``levenshtein``.
    Deterministic and engine-portable (md5 hex is canonical)."""
    return F.array_join(
        F.transform(
            F.slice(words(text_col), 1, EDIT_PREFIX_WORDS),
            lambda x: F.substring(F.md5(x), 1, 1),
        ),
        "",
    )


def word_edit_pairs(docs: DataFrame) -> DataFrame:
    """Word-level edit-distance near-dup join of ``(doc_id, text)``
    documents over the first EDIT_PREFIX_WORDS words (docs shorter than
    the prefix are out of scope — the standard prefix-window contract).
    Returns ``(doc_a, doc_b, word_edit_distance)`` for unordered pairs
    with distance <= EDIT_MAX_DIST.

    PassJoin-shaped candidates (Li, Deng, Feng, ICDE 2011): the encoding
    splits into ``EDIT_MAX_DIST + 1`` fixed segments; by pigeonhole, any
    string within EDIT_MAX_DIST edits contains >= 1 segment VERBATIM, at
    a position shifted by at most EDIT_MAX_DIST. Candidate generation is
    therefore a pure equi-join on ``(seg_id, content)`` — one doc side
    contributes its exact segments, the other its substrings at the
    ±EDIT_MAX_DIST position window (a constant ~(d+1)(2d+1) substrings per
    doc) — bucketed like every other candidate generator in this module,
    never all-pairs. Exact ``levenshtein`` verify runs on candidates only,
    so the approximation affects nothing: completeness is the pigeonhole
    theorem, precision is the verify.
    """
    base = (
        docs.filter(F.size(words(F.col("text"))) >= EDIT_PREFIX_WORDS)
        .select("doc_id", word_prefix_encoding(F.col("text")).alias("enc"))
    )
    # (seg_id, start, len): an even split of the encoding, PassJoin's
    # segmentation.
    seg_len, rem = divmod(EDIT_PREFIX_WORDS, EDIT_MAX_DIST + 1)
    segs, start = [], 1
    for sid in range(EDIT_MAX_DIST + 1):
        ln = seg_len + (1 if sid < rem else 0)
        segs.append((sid, start, ln))
        start += ln
    a_segs = base.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(sid).alias("sid"),
                        F.substring("enc", start, ln).alias("c"),
                    )
                    for sid, start, ln in segs
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.sid").alias("sid"), F.col("s.c").alias("c"))
    windows = [
        (sid, p, ln)
        for sid, start, ln in segs
        for p in range(
            max(1, start - EDIT_MAX_DIST),
            min(EDIT_PREFIX_WORDS - ln + 1, start + EDIT_MAX_DIST) + 1,
        )
    ]
    b_subs = base.select(
        F.col("doc_id").alias("doc_id_b"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(sid).alias("sid"),
                        F.substring("enc", p, ln).alias("c"),
                    )
                    for sid, p, ln in windows
                ]
            )
        ).alias("s"),
    ).select(
        "doc_id_b", F.col("s.sid").alias("sid"), F.col("s.c").alias("c")
    )
    cand = (
        a_segs.join(b_subs, ["sid", "c"])
        .filter(F.col("doc_id") != F.col("doc_id_b"))
        .select(
            F.least("doc_id", "doc_id_b").alias("doc_a"),
            F.greatest("doc_id", "doc_id_b").alias("doc_b"),
        )
        .distinct()
    )
    ea = base.select(F.col("doc_id").alias("doc_a"), F.col("enc").alias("ea"))
    eb = base.select(F.col("doc_id").alias("doc_b"), F.col("enc").alias("eb"))
    return (
        cand.join(ea, "doc_a")
        .join(eb, "doc_b")
        .withColumn(
            "word_edit_distance", F.levenshtein("ea", "eb").cast("int")
        )
        .filter(F.col("word_edit_distance") <= EDIT_MAX_DIST)
        .select("doc_a", "doc_b", "word_edit_distance")
    )


def containment_pairs(shingled: DataFrame) -> DataFrame:
    """Broder containment near-dup pairs: ORDERED (doc_a, doc_b) where
    ``|sh(a) ∩ sh(b)| / |sh(a)| >= 0.9`` — doc_a is (mostly)
    contained in doc_b. The asymmetric complement to Jaccard: a short
    quote inside a long page has low Jaccard but containment ≈ 1, which
    is exactly the quote-/subset-duplication signal Jaccard misses
    (Broder 1997, "On the resemblance and containment of documents").

    Same scale shape as :func:`ngram_jaccard_pairs`: inverted-index
    equi-join on the shingle (with the default-ON corpus-relative
    hot-shingle guard — :data:`HOT_SHINGLE_PERMILLE`), distinct
    candidates, exact set verify — never all-pairs. Both directions of a
    pair are evaluated (containment is asymmetric); docs with zero
    shingles match nothing (NULL containment).
    """
    cand = _shingle_candidate_pairs(shingled, True, HOT_SHINGLE_PERMILLE)
    sa = shingled.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    containment = F.try_divide(
        F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))),
        F.size(F.col("sh_a")),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", containment.alias("containment"))
        .filter(F.col("containment") >= 0.9)
    )


def snapshot_dedup_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build the frozen-corpus dedup index a recurring-crawl pipeline
    persists once per ``(doc_id, text)`` snapshot: ``(hash_idx, band_idx)``.

    * ``hash_idx``  — (text_sha, prior_id): one row per distinct content
      hash, prior_id = min doc id holding it. Exact-dup probe target.
    * ``band_idx``  — (prior_id, band_idx, band_hash): LSH band hashes of
      every prior doc with ≥ n words (same hash family / band encoding as
      :func:`minhash_lsh_pairs_docs`, so recall math is unchanged).

    Both are tiny relative to the corpus (no text, no shingles) and are
    meant to be WRITTEN to storage at snapshot time, then read back by
    each incremental batch — the nightly batch never rescans prior text
    except for the candidate-scoped verify join.
    """
    hash_idx = (
        docs.select(
            F.col("doc_id").alias("prior_id"),
            F.sha2(F.col("text").cast("binary"), 256).alias("text_sha"),
        )
        .groupBy("text_sha")
        .agg(F.min("prior_id").alias("prior_id"))
    )
    sig = minhash_band_hashes_from_text_udf()
    band_idx = (
        docs.select(F.col("doc_id").alias("prior_id"), "text")
        .filter(F.size(words(F.col("text"))) >= SHINGLE_N)
        .select("prior_id", F.posexplode(sig("text")))
        .select(
            "prior_id",
            F.col("pos").alias("band_idx"),
            F.col("col").alias("band_hash"),
        )
    )
    return hash_idx, band_idx


def incremental_dedup_vs_snapshot(
    new_docs: DataFrame,
    hash_idx: DataFrame,
    band_idx: DataFrame,
    prior_docs: DataFrame,
) -> DataFrame:
    """Classify an incoming batch of ``(doc_id, text)`` documents against a
    FROZEN prior-corpus snapshot — the operator a recurring-crawl
    training-data pipeline runs nightly.

    Per new doc, one row (doc_id, status, matched_prior_id, jaccard):

    * ``exact_dup`` — sha256(text) hits ``hash_idx``; matched_prior_id =
      the index's canonical (min) prior id, jaccard NULL (not computed —
      identity needs no similarity score).
    * ``near_dup``  — survives the exact probe, shares an LSH band bucket
      with a prior doc, and exact shingle-Jaccard ≥ 0.8; matched =
      the best prior doc (max jaccard, min prior_id tie-break).
    * ``novel``     — everything else (including docs with < n words,
      which have no shingles and can't near-match).

    Scale shape: the exact probe is an equi-join on the 256-bit hash
    (uniform key); candidates come from an equi-join of the NEW batch's
    band hashes against the persisted band index — new-batch-sized, never
    corpus × corpus; exact verify materializes shingles ONLY for docs on
    candidate pairs (both sides id-equi-joins). No all-pairs step
    anywhere, and prior text is touched only for candidate prior ids.
    """
    new_hashed = new_docs.select(
        "doc_id", "text", F.sha2(F.col("text").cast("binary"), 256).alias("text_sha")
    )
    exact = new_hashed.join(hash_idx, "text_sha").select(
        "doc_id",
        F.lit("exact_dup").alias("status"),
        F.col("prior_id").alias("matched_prior_id"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    surv = new_hashed.join(hash_idx, "text_sha", "left_anti")

    sig = minhash_band_hashes_from_text_udf()
    new_bands = (
        surv.filter(F.size(words(F.col("text"))) >= SHINGLE_N)
        .select("doc_id", F.posexplode(sig("text")))
        .select(
            "doc_id",
            F.col("pos").alias("band_idx"),
            F.col("col").alias("band_hash"),
        )
    )
    cand = (
        new_bands.join(band_idx, ["band_idx", "band_hash"])
        .select("doc_id", "prior_id")
        .distinct()
    )
    sh_new = shingle_sets(
        surv.join(cand.select("doc_id").distinct(), "doc_id")
    ).select("doc_id", F.col("sh").alias("sh_new"))
    sh_prior = shingle_sets(
        prior_docs.select(F.col("doc_id").alias("prior_id"), "text").join(
            cand.select("prior_id").distinct(), "prior_id"
        ),
        id_col="prior_id",
    ).select(F.col("doc_id").alias("prior_id"), F.col("sh").alias("sh_prior"))
    verified = (
        cand.join(sh_new, "doc_id")
        .join(sh_prior, "prior_id")
        .select(
            "doc_id",
            "prior_id",
            _jaccard(F.col("sh_new"), F.col("sh_prior")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    near = (
        verified.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("prior_id")).alias("neg_id")
                )
            ).alias("b")
        )
        .select(
            "doc_id",
            F.lit("near_dup").alias("status"),
            (-F.col("b.neg_id")).alias("matched_prior_id"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )
    novel = (
        surv.join(near.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit("novel").alias("status"),
            F.lit(None).cast("long").alias("matched_prior_id"),
            F.lit(None).cast("double").alias("jaccard"),
        )
    )
    return exact.unionByName(near).unionByName(novel)


def apss_prefix_pairs(sh_df: DataFrame) -> DataFrame:
    """All-pairs similarity search with EXACT prefix filtering (Bayardo,
    Ma & Srikant, WWW 2007; Chaudhuri et al.'s prefix filter): every pair
    of shingle SETS with binary cosine >= t, no candidate missed, never
    all-pairs. ``t^2 = 1/2`` keeps the threshold rational so every filter
    cross-multiplies to integers.

    The completeness argument, which the sf-parity suite re-proves
    empirically against a brute-force oracle: under ANY global total
    order on terms — here (df asc, term asc), rarest first, so prefixes
    carry the most selective terms — a pair with cos >= t has overlap
    o >= ceil(t^2 * n) for EACH side's size n (using the size filter
    t^2 * max <= min, both directions of which are enforced below), so
    the globally-smallest shared term cannot sit past position
    n - ceil(t^2 * n) + 1 on either side: the PREFIXES themselves must
    intersect, and a prefix-x-prefix equi-join finds every match.

    Scale shape: the df rollup and the prefix join shuffle on the term;
    prefix terms are the RAREST terms by construction, so the join's key
    distribution is anti-skewed — the hot shingles that force the
    df-capped inverted index (ngram_jaccard) to guard are exactly the
    terms prefix filtering relegates to suffixes. Verification joins are
    candidate-scoped. No driver collect, no windows beyond per-doc
    (partitioned) ranking."""
    terms = sh_df.select("doc_id", F.explode("sh").alias("term"))
    df_ = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    ranked = (
        terms.join(df_, "term")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "term")
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # ceil(t^2 * n) = (1 * n + 2 - 1) div 2
    min_overlap = F.expr("(1 * n + 2 - 1) div 2")
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - min_overlap + 1
    ).select("term", "doc_id", "n")
    a = prefix.select(
        "term", F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
    )
    b = prefix.select(
        "term", F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
    )
    cand = (
        a.join(b, "term")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # size filter: t^2 * max(na, nb) <= min(na, nb)
            & (2 * F.least("na", "nb") >= 1 * F.greatest("na", "nb"))
        )
        .select("doc_a", "doc_b", "na", "nb")
        .distinct()
    )
    ta = terms.select(F.col("doc_id").alias("doc_a"), "term")
    tb = terms.select(F.col("doc_id").alias("doc_b"), "term")
    overlap = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    return overlap.filter(
        2 * F.col("o") * F.col("o") >= 1 * F.col("na") * F.col("nb")
    ).select(
        "doc_a",
        "doc_b",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        "o",
        # o^2 * 1e6 overflows BIGINT once overlap exceeds ~3.03M shingles
        # (a multi-million-word document), so the squaring runs in
        # decimal(38,0) — same headroom rule as the stats moment keys;
        # the quotient is re-certified < 2^63 (it is <= 1e6 by
        # construction: o <= min(na, nb)) before the bigint cast.
        F.expr(
            "cast((cast(1000000 as decimal(38,0)) * o * o)"
            " div (cast(na as decimal(38,0)) * nb) as bigint)"
        ).alias("cos2_micro"),
    )
