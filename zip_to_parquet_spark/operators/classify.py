"""Hashed-feature linear text classification (the fastText direction,
Joulin et al. 2016) — distilling a rules-based quality gate into a
learned model.

The production pattern (GPT-3 appendix A / DCLM): corpus filtering starts
with hand rules, then a cheap linear classifier over hashed n-gram
features is trained to generalize them. Here the weak labels come from
the repo's own Gopher-style gate (``pipeline.gopher_signal_cols``), and
the model is an integer perceptron over hashed char-trigram counts:

* **Features**: every char trigram of the raw text, hashed to
  ``FEATURE_BUCKETS`` buckets via the low 16 bits of md5 — the SAME
  ``md5_number_lower``-compatible contract the SimHash oracle uses
  (little-endian of digest bytes 8..15; only the low two bytes matter at
  1024 buckets), so DuckDB reproduces every bucket id exactly.
* **Training**: pure-Python, deterministic, bounded — a crc32-of-id
  sampled subset (the ``deterministic_training_sample`` contract from
  operators/vectors.py), id-sorted, fixed epochs, classic perceptron
  updates (w += (y − ŷ)·count). ALL-INTEGER: no learning-rate float, no
  tie to libm — the trained weights are identical on any platform.
* **Scoring**: one codegen'd Catalyst expression — trigram transform →
  md5 bucket → integer weight-sum via ``aggregate`` — map-only, no
  Python, no shuffle. The oracle inlines the SAME weights (both sides
  call the same trainer) and replays scoring in SQL.

Reference: no model surface exists in the 597-line zip CLI (SURVEY §0);
north-star LLM-pipeline extension ("model-based quality scoring").
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from zip_to_parquet_spark.operators.textops import EN_STOPWORDS

__all__ = [
    "FEATURE_BUCKETS",
    "PERCEPTRON_EPOCHS",
    "SAMPLE_TARGET",
    "train_distilled_gate_perceptron",
    "trigram_bucket_counts_score",
    "gate_label_py",
    "trigram_feats_py",
]

FEATURE_BUCKETS = 1024
PERCEPTRON_EPOCHS = 15
SAMPLE_TARGET = 200


def gate_label_py(text: str) -> int:
    """Pure-Python replica of ``pipeline.gopher_signal_cols``' verdict —
    the trainer's weak label. Must stay in lockstep with the Spark gate
    and the registered gopher oracle (same split, same bounds)."""
    w = text.split(" ")
    n = len(w)
    mean_len = sum(len(x) for x in w) / max(n, 1)
    stop = sum(1 for x in w if x in EN_STOPWORDS) / max(n, 1)
    return int(
        15 <= n <= 100000 and 3.0 <= mean_len <= 10.0 and stop > 0.0
    )


def trigram_feats_py(text: str) -> dict[int, int]:
    """Char-trigram → hashed-bucket counts. Bucket = little-endian low
    bytes of md5 (digest[8] + 256·digest[9]) mod FEATURE_BUCKETS — equal
    to DuckDB's ``md5_number_lower(g) % buckets`` for any power-of-two
    ``buckets`` ≤ 65536, and to the Spark ``conv(substring(md5...))``
    expression in :func:`trigram_bucket_counts_score`."""
    c: dict[int, int] = {}
    for i in range(len(text) - 2):
        d = hashlib.md5(text[i : i + 3].encode()).digest()
        b = (d[8] + 256 * d[9]) % FEATURE_BUCKETS
        c[b] = c.get(b, 0) + 1
    return c


@functools.lru_cache(maxsize=8)
def train_distilled_gate_perceptron(sf_dir: str) -> tuple[tuple[int, ...], int, int]:
    """→ (weights[FEATURE_BUCKETS], bias, n_sample). Deterministic and
    bounded: the sample is crc32(str(doc_id)) % m == 0 (m sized for
    ~SAMPLE_TARGET docs), iterated id-sorted for PERCEPTRON_EPOCHS passes.
    Cached per sf_dir — the Spark plan and the DuckDB oracle generator both
    call this, so they inline bit-identical weights by construction."""
    from zip_to_parquet_spark.operators.sampling import (
        crc32_sampled_documents,
    )

    sample = crc32_sampled_documents(sf_dir, SAMPLE_TARGET)
    w = [0] * FEATURE_BUCKETS
    bias = 0
    for _ in range(PERCEPTRON_EPOCHS):
        for _, tx in sample:
            f = trigram_feats_py(tx)
            score = sum(w[b] * c for b, c in f.items()) + bias
            pred = 1 if score > 0 else 0
            y = gate_label_py(tx)
            if pred != y:
                d = y - pred
                for b, c in f.items():
                    w[b] += d * c
                bias += d
    return tuple(w), bias, len(sample)


def trigram_bucket_counts_score(weights: tuple[int, ...], bias: int) -> Column:
    """Integer perceptron score of ``text`` as ONE Catalyst expression:
    char-trigram transform → md5 little-endian low-16-bit bucket → weight
    lookup → integer sum (+ bias). Codegen'd, map-only; the bucket
    arithmetic is the md5_number_lower contract (see
    :func:`trigram_feats_py`).

    The sub-3-char guard is explicit because Spark's ``sequence(1, 0)``
    DESCENDS (returns [1, 0]) instead of yielding an empty range — the
    same pitfall textops.word_shingles documents."""
    buckets = len(weights)
    warr = "array(" + ",".join(f"{v}L" for v in weights) + ")"
    grams = (
        "transform(sequence(1, length(text) - 2),"
        " i -> substring(text, i, 3))"
    )
    # Bind each trigram's digest ONCE (nested transform) — Catalyst does
    # not CSE across lambda bodies, so inlining md5 into both byte
    # extractions would hash every trigram twice in the hot path.
    digests = f"transform({grams}, g -> md5(cast(g as binary)))"
    bucket = (
        "cast(conv(substring(h, 17, 2), 16, 10) as int)"
        " + 256 * cast(conv(substring(h, 19, 2), 16, 10) as int)"
    )
    return F.expr(
        f"aggregate("
        "  case when length(text) >= 3 then"
        f"    transform({digests}, h -> ({bucket}) % {buckets})"
        f"  else cast(array() as array<int>) end,"
        f"  {bias}L,"
        f"  (acc, b) -> acc + element_at({warr}, b + 1))"
    )
