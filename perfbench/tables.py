"""Deterministic star-schema tables for the ``query_mix`` workload.

Writes the ten tables the registered query keys read (``region nation
customer supplier part orders lineitem events documents embeddings``), one
parquet file each, with the schemas and value domains of the engine's
fixture tables (FIXTURES.md). Row counts scale with ``sf`` like TPC-H:
lineitem has 6,000,000 * sf rows.

The tables come from a fixed seed, not the run's seed, so the expected
result hashes in ``expected.json`` hold for every run; the run's seed only
orders the keys. Bump ``GENERATOR_VERSION`` whenever the bytes written here
change, and record the expected hashes again.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
TABLE_SEED = 42
SF = 0.01

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query filter big "
    "group stream vector"
).split()

_DAY_US = 86_400 * 1_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def build(sf: float = SF, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{c} {n}" for c, n in zip(
            np.asarray(_COLORS)[rng.integers(0, len(_COLORS), n_part)],
            np.asarray(_NOUNS)[rng.integers(0, len(_NOUNS), n_part)])]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = ts0 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.asarray(_DOC_WORDS, dtype=object)
    docs = [words[rng.integers(0, len(words), n)] for n in rng.integers(10, 110, n_doc)]
    # Plant copies for the dedup keys: 2% exact, 5% with one word changed.
    src = rng.integers(0, n_doc, n_doc)
    kind = rng.random(n_doc)
    for i in range(n_doc):
        if kind[i] < 0.07 and src[i] != i:
            docs[i] = docs[src[i]].copy()
            if kind[i] >= 0.02:
                docs[i][rng.integers(0, len(docs[i]))] = "planted"
    texts = [" ".join(d) for d in docs]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc, dtype=np.int32)),
    })
    return t


def cached_tables(cache_root: str) -> str:
    """Directory holding the ten tables, generating them on a miss."""
    d = os.path.join(cache_root, f"tables-v{GENERATOR_VERSION}-sf{SF}")
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for name, table in build().items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    open(marker, "w").close()
    return d
