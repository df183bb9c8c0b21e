"""Explicit schemas — never inferred (SURVEY.md §1.1).

The zip-member table mirrors the reference's fixed 4-column Arrow schema
(``/root/reference/src/builder.rs:256-274``): the ``--no-*`` flags null values
rather than dropping columns, so the schema is static. Fixture schemas match
the driver parquet footers recorded in FIXTURES.md §A.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["ZIP_MEMBER_SCHEMA", "FIXTURE_TABLES", "load_table"]

# The reference's one output relation (builder.rs:256-274; README.md:5-9).
# name is never null (UnzippedFile.name: String, builder.rs:157); the other
# three are null when the matching --no-* flag is passed (builder.rs:185-217).
ZIP_MEMBER_SCHEMA = StructType(
    [
        StructField("name", StringType(), nullable=False),
        StructField("source", StringType(), nullable=True),
        StructField("body", BinaryType(), nullable=True),
        StructField("hash", StringType(), nullable=True),
    ]
)

# Driver fixture tables (FIXTURES.md §A) — declared so tests can assert the
# read schema and so operators can reference dtypes without sampling data.
FIXTURE_TABLES: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` — the vectorized
    reader + Catalyst column pruning / filter pushdown do the heavy lifting;
    callers must select only what they need so pruning reaches the scan.

    ``events.ts`` normalization — the fixture generator has shipped two
    physical encodings across rounds, and both must land as a plain
    TIMESTAMP (UTC instant) so downstream ``unix_micros``/window arithmetic
    resolves and matches DuckDB, which reads either file as a naive
    timestamp and treats it as UTC in ``epoch_us``:
      * TIMESTAMP(NANOS): read as long via
        ``spark.sql.legacy.parquet.nanosAsLong``, µs-truncate, re-cast;
      * TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
        TIMESTAMP_NTZ under Spark 4's NTZ inference; reinterpret the wall
        clock as UTC with ``to_utc_timestamp(ts, 'UTC')``. NOTE: this is
        NOT session-timezone-independent — the implicit NTZ→TIMESTAMP
        cast inside ``to_utc_timestamp`` applies the SESSION timezone
        first, so a non-UTC session would shift the instant. load_table
        therefore pins ``spark.sql.session.timeZone=UTC`` on the handed
        session (driver-owned sessions are not guaranteed to have
        session.py's UTC default).
    Both paths are narrow, codegen'd, no Python in the path.
    """
    import pyspark.sql.functions as F

    if name == "events":
        # Runtime conf, not session-builder conf: the driver harness builds
        # its own SparkSession, so this must be set on whatever session we
        # are handed or the read fails with PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer `div`, not `/`: float division would round-trip
            # ~1.7e18 ns through double (exact only to 2^53) and corrupt
            # the low microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Pin BEFORE building the expression: the NTZ→TIMESTAMP cast
            # inside to_utc_timestamp resolves against the session tz.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return df
