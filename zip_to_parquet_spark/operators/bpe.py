"""Byte-pair-encoding tokenization — trained on the corpus, applied
entirely inside Catalyst (no Python in the row path).

Real BPE (Sennrich et al. 2016, the GPT-2/LLaMA tokenizer family), not a
regex approximation: merges are TRAINED from pair frequencies over a
deterministic bounded sample, then ENCODING runs corpus-wide as a chain
of literal ``replace`` calls over a delimiter-anchored character string —
a pure codegen'd expression, identical in Spark and DuckDB.

Why a replace chain is exact BPE:

* Greedy BPE encoding repeatedly merges the lowest-rank adjacent pair.
  Applying the merge table in ASCENDING rank order is equivalent: a
  merge's two parts are tokens that existed when it was learned, so
  applying rank r can only create tokens that participate in LATER
  merges — no earlier-rank pair can reappear (this is how priority-queue
  BPE implementations batch by rank).
* A token sequence is encoded as ``SEP tok SEP SEP tok SEP ...`` — every
  token wrapped in separators. The pair (a, b) then matches EXACTLY the
  literal ``SEP a SEP SEP b SEP`` (anchored on both sides — "xa"+"b" can
  never false-match "a"+"b"), and SQL ``replace`` substitutes
  left-to-right non-overlapping — precisely BPE's scan order, verified
  in both engines ('aXaXa' → 'BXa').

The separator is U+001F (unit separator), asserted absent from the
training sample's alphabet. Merges never cross word boundaries (words
are exploded before encoding — the pre-tokenization step of every
production BPE).

Reference: the zip CLI has no tokenizer (SURVEY §0); north-star text
analysis extension ("token counting … a BPE-ish regex" upgraded to the
real algorithm).
"""

from __future__ import annotations

import functools
from collections import Counter

__all__ = [
    "SEP",
    "train_bpe_merges",
    "bpe_encode_py",
    "bpe_replace_chain",
    "SPARK_DELIM_CHARS_SQL",
    "DUCK_DELIM_CHARS_SQL",
]

SEP = "\x1f"


def _merge_seq(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Left-to-right non-overlapping merge of ``pair`` in ``syms``."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


@functools.lru_cache(maxsize=8)
def train_bpe_merges(
    sf_dir: str, n_merges: int = 40, sample_target: int = 200
) -> tuple[tuple[str, str], ...]:
    """Classic BPE training over the crc32-bounded documents sample
    (same sampling contract as classify.train_distilled_gate_perceptron):
    count adjacent-pair frequencies over the word vocabulary, merge the
    most frequent pair (ties → lexicographically smallest), repeat.
    Deterministic, pure Python — the Spark plan and the DuckDB oracle
    both inline the resulting table, so encode parity is by
    construction."""
    from zip_to_parquet_spark.operators.sampling import (
        crc32_sampled_documents,
    )

    sample = crc32_sampled_documents(sf_dir, sample_target)
    vocab: Counter[str] = Counter()
    for _, tx in sample:
        assert SEP not in tx, "separator collides with corpus alphabet"
        for w in tx.split(" "):
            if w:
                vocab[w] += 1
    syms: dict[str, tuple[str, ...]] = {w: tuple(w) for w in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for w, freq in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        syms = {w: _merge_seq(s, best) for w, s in syms.items()}
    return tuple(merges)


def bpe_encode_py(
    word: str, merges: tuple[tuple[str, str], ...]
) -> tuple[str, ...]:
    """Pure-Python reference encoder (ascending-rank application) — the
    spec the SQL replace chain must reproduce; used by tests."""
    s = tuple(word)
    for pair in merges:
        s = _merge_seq(s, pair)
    return s


# Spark SQL: word column ``wd`` → SEP-wrapped character sequence, '' for an
# empty word. The explicit guard exists because Spark's ``sequence(1, 0)``
# DESCENDS (returns [1, 0]) — without it an empty string would encode as
# four SEP bytes and count as two phantom tokens.
SPARK_DELIM_CHARS_SQL = (
    "case when length(wd) >= 1 then"
    f" concat('{SEP}', array_join(transform(sequence(1, length(wd)),"
    f" i -> substring(wd, i, 1)), '{SEP}{SEP}'), '{SEP}')"
    " else '' end"
)

# DuckDB SQL: the same delimited representation via empty-string split.
DUCK_DELIM_CHARS_SQL = (
    f"'{SEP}' || array_to_string(string_split(wd, ''), '{SEP}{SEP}') || '{SEP}'"
)


def bpe_replace_chain(
    delim_expr: str, merges: tuple[tuple[str, str], ...]
) -> str:
    """Nested literal ``replace`` chain applying the merge table in rank
    order — the SAME SQL text is valid in Spark and DuckDB (identical
    function name and left-to-right semantics). Token strings are
    letters/digits only (corpus alphabet), so inlining them as literals
    needs no escaping beyond the assert in training."""
    expr = delim_expr
    for a, b in merges:
        assert "'" not in a + b and "\\" not in a + b
        pat = f"{SEP}{a}{SEP}{SEP}{b}{SEP}"
        rep = f"{SEP}{a}{b}{SEP}"
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr
