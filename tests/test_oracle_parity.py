"""Every registered query with an oracle must match DuckDB at sf0.001.

This mirrors the driver's t2 correctness gate (which runs at sf0.01); run
``SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 pytest`` for the full-size check.
Queries without an oracle get a rows-run smoke check instead.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pytest

from tests.parity import compare
from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# Computed oracles (ann_ivf_trained) train against the sf dir under test;
# the driver leaves this unset and gets its contract default (sf0.01).
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

QUERIES = all_queries()
ORACLES = all_oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    compare(spark, SF_DIR, QUERIES[name], ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0  # runs without error, stable schema
    assert df.columns


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


# Keys that share an oracle on purpose: each pair runs one aggregation on
# the batch engine and on Structured Streaming.
BATCH_STREAM_PAIRS = {
    ("events_ohlc_bars", "stream_ohlc_bars"),
    ("events_pattern_strict_funnel", "stream_pattern_strict_funnel"),
    ("events_tumbling_window", "stream_tumbling_window"),
}


def test_only_batch_stream_pairs_share_an_oracle():
    # Two keys with one oracle are one semantics run twice; outside the
    # batch/stream pairs that is a twin implementation to delete.
    groups = defaultdict(list)
    for name, sql in ORACLES.items():
        groups[" ".join(sql.split())].append(name)
    shared = {tuple(sorted(g)) for g in groups.values() if len(g) > 1}
    assert shared == BATCH_STREAM_PAIRS


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
