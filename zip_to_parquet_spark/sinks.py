"""Parquet sinks (reference A4/A5).

``write_parquet`` is the scale path: distributed write through Spark's
commit protocol (task-attempt temp files + atomic job commit), so partial
output is never visible — this subsumes the reference's Ctrl-C
delete-partial-file handling (/root/reference/src/main.rs:56-64,
builder.rs:294-322) for free.

``write_single_parquet_file`` / ``write_parquet_stdout`` are the
byte-faithful single-file modes (the reference always writes exactly one
file or stdout, builder.rs:232-278). A single file is inherently a driver
funnel, so these stream the DataFrame's per-partition Arrow record batches
through a pyarrow writer with an exact row-group row cap (the reference's
``--row-group-size``, default 100, main.rs:41-43) instead of silently
``coalesce(1)``-ing the cluster — opt-in only, never the default (SURVEY §7
risk 4).

The funnel serves Spark's own Arrow batches (``Dataset.toArrowBatchRdd``)
through ``PythonRDD.toLocalIteratorAndServe`` with prefetch on, so the job
for partition k+1 runs while the driver writes partition k, and rows stay
in Arrow from the executor to the file. Memory bound: the driver JVM holds
at most two partitions (the one being served and the one prefetched); the
Python side holds one Arrow batch plus fewer than ``row_group_rows``
pending rows (slices that keep the batch they came from alive until their
group is written). Over the zip source a partition is one *packed*
partition, the members of at most ``spark.sql.files.maxPartitionBytes`` of
compressed archives unless a single archive is larger
(``sources/zipsource.py`` scale notes). The funnel relies on private
PySpark calls (``DataFrame._jdf``, ``PythonRDD.toLocalIteratorAndServe``,
``pyspark.util._local_iterator_from_socket``), so it takes classic
sessions only: a Spark Connect DataFrame has no ``_jdf``.
"""

from __future__ import annotations

import sys
from typing import BinaryIO

from pyspark.sql import DataFrame

from zip_to_parquet_spark.runtime import pinned_conf

__all__ = [
    "write_parquet",
    "write_orc",
    "write_single_parquet_file",
    "write_parquet_stdout",
    "write_bucketed_table",
    "write_partitioned",
]

DEFAULT_ROW_GROUP_ROWS = 100  # reference default, main.rs:41-43


def write_parquet(
    df: DataFrame,
    path: str,
    compression: str = "snappy",
    row_group_bytes: int | None = None,
    mode: str = "error",
) -> None:
    """Distributed parquet write: one file per partition, snappy by default
    (reference WriterProperties, builder.rs:252-255). Spark's row-group knob
    is bytes (``parquet.block.size``), not rows — at scale that is the right
    unit; exact-row-count groups are the single-file path's job."""
    writer = df.write.mode(mode).option("compression", compression)
    if row_group_bytes is not None:
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    writer.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Distributed snappy ORC write that replaces ``path`` — the columnar
    sibling sink (same commit protocol as write_parquet;
    format_orc_roundtrip hash-verifies the read-back). Distributed-only:
    the reference's byte-exact single-file contract (exact row-group
    rows) is parquet-specific and stays so."""
    df.write.mode("overwrite").option("compression", "snappy").orc(path)


def _stream_to_pyarrow(
    df: DataFrame,
    sink: BinaryIO | str,
    compression: str,
    row_group_rows: int,
) -> int:
    import pyarrow as pa
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        TimestampType,
    )

    _PA = {
        StringType: pa.string(),
        BinaryType: pa.binary(),
        LongType: pa.int64(),
        IntegerType: pa.int32(),
        DoubleType: pa.float64(),
        FloatType: pa.float32(),
        TimestampType: pa.timestamp("us", tz="UTC"),
    }
    fields = []
    for f in df.schema.fields:
        pa_type = _PA.get(type(f.dataType))
        if pa_type is None:
            raise TypeError(f"single-file sink: unsupported column type {f.dataType}")
        fields.append(pa.field(f.name, pa_type, nullable=f.nullable))
    schema = pa.schema(fields)

    import pyarrow.parquet as pq
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _local_iterator_from_socket

    # Spark encodes with its own Arrow schema (large_string/large_binary
    # under spark.sql.execution.arrow.useLargeVarTypes); decode with that
    # schema, then cast to the sink's.
    session = df.sparkSession
    spark_schema = to_arrow_schema(
        df.schema, prefers_large_types=session._jconf.arrowUseLargeVarTypes()
    )
    # Prefetch on: the job for the next partition runs while this one is
    # written, so the driver JVM holds at most two partitions — bounded
    # driver memory, like the reference's single-consumer bounded channel
    # (builder.rs:53,85-102). Private PySpark calls, classic sessions only
    # (module docstring).
    sock_info = session.sparkContext._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), True
    )

    total = 0
    pending: list = []
    n_pending = 0
    with pq.ParquetWriter(sink, schema, compression=compression) as writer:

        def flush():
            nonlocal pending, n_pending
            group = pa.Table.from_batches(pending, schema=spark_schema)
            writer.write_table(group.combine_chunks().cast(schema))
            pending, n_pending = [], 0

        for payload in _local_iterator_from_socket(sock_info, NoOpSerializer()):
            batch = pa.ipc.read_record_batch(pa.py_buffer(payload), spark_schema)
            total += batch.num_rows
            while batch.num_rows:
                take = min(row_group_rows - n_pending, batch.num_rows)
                pending.append(batch.slice(0, take))
                n_pending += take
                batch = batch.slice(take)
                if n_pending == row_group_rows:
                    flush()
        if n_pending:
            flush()
    return total


def write_single_parquet_file(
    df: DataFrame,
    path: str,
    compression: str = "snappy",
    row_group_rows: int = DEFAULT_ROW_GROUP_ROWS,
) -> int:
    """Exactly one parquet file with exact-row-count row groups (A4)."""
    return _stream_to_pyarrow(df, path, compression, row_group_rows)


def write_parquet_stdout(
    df: DataFrame,
    row_group_rows: int = DEFAULT_ROW_GROUP_ROWS,
) -> int:
    """Stream snappy parquet bytes to stdout (A5, ``--stdout``)."""
    return _stream_to_pyarrow(df, sys.stdout.buffer, "snappy", row_group_rows)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed + sorted table (Hive-style bucketing via the session
    catalog).

    Bucketing pre-shuffles the data ONCE at write time: every subsequent
    equi-join or aggregation on ``bucket_col`` between tables bucketed the
    same way runs with ZERO exchanges (Spark reads the bucket layout from
    the catalog and plans a co-located join). This is the 100 TB answer to
    repeated fact-fact joins on the same key — pay the shuffle once,
    amortize it over every downstream query.
    """
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
) -> None:
    """Hive-style partitioned parquet layout (``path/col=value/...``) with
    two 100 TB guards the naive ``partitionBy`` write lacks:

    * **Small-files control**: rows are repartitioned on the partition
      columns first (plus a bounded salt when ``files_per_partition`` > 1),
      so each partition directory gets ``files_per_partition`` files
      instead of one-file-per-task-per-partition — the classic
      thousands-of-tiny-files failure that murders downstream scans and
      the object-store listing.
    * **Dynamic partition overwrite**: the write replaces ONLY the
      partitions present in ``df`` (Spark's
      ``partitionOverwriteMode=dynamic``), the idempotent daily-backfill
      semantics; static overwrite (the default Spark behavior) would drop
      every other partition in the table.

    Partition pruning is the read-side payoff: a filter on a partition
    column prunes whole directories at planning time (PartitionFilters in
    the scan node).
    """
    from pyspark.sql import functions as F

    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        # pmod, not %: xxhash64 is signed and Spark's % keeps the sign,
        # which would double the salt domain and the file count.
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition))
        dist = df.repartition(*(keys + [salt]))
    else:
        dist = df.repartition(*keys)
    with pinned_conf(
        df.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        dist.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
