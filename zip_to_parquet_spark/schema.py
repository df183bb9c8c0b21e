"""Fixture table reads, and the one decoder of the ``events.ts`` column.

Each source declares its own schema string; a fixture table is read with
plain ``spark.read.parquet``, so its schema is the file footer's
(FIXTURES.md §A). The one exception is ``events.ts``: the fixture generator
has shipped it in two physical encodings, and ``decode_events_ts`` is the
only place that turns either into a plain TIMESTAMP, for batch reads
(``load_table``) and for the streaming readers (``streaming/streams.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Its own statement, so the window-policy differ does not count every key
# that names DataFrame or SparkSession as changed by this import.
from pyspark.sql import Column  # noqa: E402

__all__ = ["D38", "cents", "decode_events_ts", "load_table"]

# The exact wide integer type: sums and products of money cents and counts
# that may outgrow BIGINT run in decimal(38,0), DuckDB's HUGEINT twin.
D38 = "decimal(38,0)"


def cents(c: str) -> Column:
    """Exact integer cents of a fixture money column: every price and
    value is a 2-decimal quantity stored as double, so the decimal(12,2)
    cast is exact and the cents are too."""
    return (F.col(c).cast("decimal(12,2)") * 100).cast("long")


def decode_events_ts(
    spark: SparkSession, read: Callable[[], DataFrame]
) -> DataFrame:
    """Build an events DataFrame with ``read`` (batch or streaming) and
    land its ``ts`` as a plain TIMESTAMP (UTC instant), so downstream
    ``unix_micros``/window arithmetic resolves and matches DuckDB, which
    reads every encoding as a naive timestamp and treats it as UTC in
    ``epoch_us``.

    ``read`` is called only after ``spark.sql.legacy.parquet.nanosAsLong``
    is set: schema inference fails with PARQUET_TYPE_ILLEGAL on a
    TIMESTAMP(NANOS) footer without it. It is a runtime conf, not a
    session-builder conf, because the driver harness builds its own
    SparkSession; this sets it on whatever session it is handed.

    The three ``ts`` dtypes a read can return:
      * ``bigint`` (TIMESTAMP(NANOS) under nanosAsLong): µs-truncate and
        re-cast;
      * ``timestamp_ntz`` (TIMESTAMP(MICROS, isAdjustedToUTC=false) under
        Spark 4's NTZ inference): reinterpret the wall clock as UTC with
        ``to_utc_timestamp(ts, 'UTC')``. That is NOT session-timezone-
        independent: the implicit NTZ→TIMESTAMP cast inside it applies the
        SESSION timezone first, so the session is pinned to UTC before the
        expression is built (driver-owned sessions are not guaranteed to
        have session.py's UTC default);
      * ``timestamp`` (Spark-written INT96 or adjusted-to-UTC): already an
        instant, left as is.
    Every path is narrow and codegen'd, with no Python in it.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Integer `div`, not `/`: float division would round-trip ~1.7e18 ns
        # through double (exact only to 2^53) and corrupt the low µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet``: the vectorized
    reader and Catalyst column pruning / filter pushdown do the heavy
    lifting, so callers must select only what they need for pruning to
    reach the scan. ``events`` goes through ``decode_events_ts``."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return decode_events_ts(spark, lambda: spark.read.parquet(path))
    return spark.read.parquet(path)
