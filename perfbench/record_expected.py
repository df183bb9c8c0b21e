#!/usr/bin/env python3
"""Record the expected result digests of the ``query_mix`` keys.

    python3 perfbench/record_expected.py

Builds the deterministic tables, runs every key once with ``collect()``,
and compares each result with the key's DuckDB oracle from the engine's
registry on the same tables before it writes ``expected.json``. A key whose
oracle disagrees is reported and not recorded. Run it again after a change
to ``tables.py`` (which must bump ``tables.GENERATOR_VERSION``).
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import run
from results import digest, normalized


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]


def multiset(cols, rows) -> Counter:
    return Counter(normalized(cols, rows))


def main() -> int:
    import duckdb

    run.configure_env()
    tdir = run.tables.cached_tables(os.path.join(run.WORK, "cache"))
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = tdir  # computed oracles read it
    spark, _ = run.start_session()
    keys, bad = {}, []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from zip_to_parquet_spark.plans import all_oracle_sql, all_queries

        queries, oracles = all_queries(), all_oracle_sql()
        con = duckdb.connect()
        for t in run.tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tdir}/{t}.parquet'")
        for key in run.QUERY_KEYS:
            df = queries[key](spark, tdir)
            rows = [tuple(r) for r in df.collect()]
            verdict = "no oracle"
            if key in oracles:
                ocols, orows = oracle_rows(con, oracles[key])
                same = (sorted(ocols) == sorted(df.columns)
                        and multiset(df.columns, rows) == multiset(ocols, orows))
                verdict = "oracle agrees" if same else "ORACLE DISAGREES"
                if not same:
                    bad.append(key)
                    print(f"{key}: {verdict} ({len(rows)} vs {len(orows)} rows)", flush=True)
                    continue
            keys[key] = digest(df.columns, rows)
            print(f"{key}: {len(rows)} rows, {verdict}", flush=True)
    finally:
        run.stop_session(spark)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({"tables": run.tables_tag(), "keys": keys}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
