"""Python DataSource WRITER: sharded-JSONL sink with a two-phase commit.

Completes the Python DataSource API surface (the zip source covers
``reader`` and ``streamReader``; this adds ``writer``) with the one sink
shape training pipelines actually ship: newline-delimited JSON shards, one
per task, written ATOMICALLY via the DSv2 commit protocol —

* each task writes ``_tmp_<uuid>.jsonl`` and returns the name in its
  ``WriterCommitMessage``;
* the driver's ``commit`` renames every REPORTED temp shard to its final
  ``part-<runid>-NNNNN.jsonl`` name and only THEN removes prior-run part
  files and orphan temps — a failed job (``abort``) sweeps temps and
  leaves the previous dataset untouched, so the visible directory really
  is all-or-nothing (an early plan-time sweep would destroy the old data
  on a failed overwrite — found in review);
* rows serialize with ``sort_keys`` + compact separators, so shard bytes
  are a pure function of row content (order within a shard follows the
  task's iterator).

The reference writes Parquet only (/root/reference/src/builder.rs:252-276);
this sink is extension surface, structured the way Spark's own
FileFormatWriter does commits (task temp → driver-side finalize).

Scale shape: one shard per task, no driver data funnel — the driver
handles only O(num-tasks) commit messages; shard count = upstream
partitioning, controlled the usual way (repartition/coalesce).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_name: str
    n_rows: int


def _write_temp_shard(path: str, iterator) -> _ShardCommit:
    """One task's rows as a ``_tmp_<uuid>.jsonl`` shard under ``path``;
    the commit message names it for the driver's rename. Shared by the
    batch and the streaming writer."""
    os.makedirs(path, exist_ok=True)
    tmp = f"_tmp_{uuid.uuid4().hex}.jsonl"
    n = 0
    with open(os.path.join(path, tmp), "w") as f:
        for row in iterator:
            f.write(
                json.dumps(
                    row.asDict(recursive=True),
                    sort_keys=True,
                    separators=(",", ":"),
                    default=_json_value,
                )
            )
            f.write("\n")
            n += 1
    return _ShardCommit(tmp_name=tmp, n_rows=n)


def _sweep_temp_shards(path: str) -> None:
    """Abort: remove every ``_tmp_*`` shard under ``path``. It scans the
    directory instead of reading the commit messages, because on task
    failure Spark passes None for tasks that produced no message."""
    if not os.path.isdir(path):
        return  # job failed before any task created the sink dir
    for f in os.listdir(path):
        if f.startswith("_tmp_"):
            os.remove(os.path.join(path, f))


class JsonlShardWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards sink requires a path")

    def write(self, iterator) -> _ShardCommit:
        return _write_temp_shard(self.path, iterator)

    def commit(self, messages) -> None:
        # Two-phase finalize, old data intact until here: (1) rename only
        # the REPORTED temp shards to run-unique final names; (2) then
        # remove prior-run part files and orphan temps; (3) stamp
        # _SUCCESS. A crash before (2) leaves a mixed-but-readable dir
        # without _SUCCESS; a failed job never reaches (1).
        run_id = uuid.uuid4().hex[:8]
        named = set()
        for i, msg in enumerate(messages):
            final = f"part-{run_id}-{i:05d}.jsonl"
            os.replace(
                os.path.join(self.path, msg.tmp_name),
                os.path.join(self.path, final),
            )
            named.add(final)
        for f in os.listdir(self.path):
            if f == "_SUCCESS" or (
                f.endswith(".jsonl") and f not in named
            ):
                os.remove(os.path.join(self.path, f))
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write("")

    def abort(self, messages) -> None:
        _sweep_temp_shards(self.path)


class JsonlShardsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def writer(self, schema, overwrite: bool) -> JsonlShardWriter:
        # Overwrite-only: the commit-time swap (rename new, then remove
        # old) IS the overwrite — no plan-time delete, so a failed job
        # leaves the previous dataset untouched. Append would need
        # non-clobbering shard names AND old-part retention; reject it
        # loudly rather than half-support it.
        if not overwrite:
            raise ValueError(
                "jsonl_shards supports mode='overwrite' only (append "
                "semantics are not implemented)"
            )
        return JsonlShardWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        # Streaming epochs are append-by-construction (each batch owns
        # its batch-<id>/ dir), so the batch writer's overwrite-only
        # rule does not apply here.
        return JsonlStreamShardWriter(self.options)


def _json_value(v):
    """Serializer for non-JSON-native values: dates/decimals stringify;
    binary raises LOUDLY (a bytes column has no faithful JSON encoding —
    default=str would silently write repr garbage)."""
    if isinstance(v, (bytes, bytearray, memoryview)):
        raise TypeError(
            "jsonl_shards cannot serialize binary columns; drop or "
            "encode them (e.g. base64/hex) before writing"
        )
    return str(v)


def write_jsonl_shards(df, path: str, mode: str = "overwrite") -> None:
    """Write ``df`` as atomic JSONL shards via the Python DataSource
    writer (registers the source on the df's session, idempotent).
    Overwrite-only — see :meth:`JsonlShardsDataSource.writer`.

    Commit-atomicity assumptions (read before pointing this at a
    cluster):

    * **Shared filesystem.** Executors write temp shards with
      ``open()`` under ``path`` and the DRIVER renames them at commit —
      every executor and the driver must see the same POSIX directory
      (local mode, NFS, or a FUSE-mounted object store). On plain
      S3/HDFS use the parquet/ORC sinks, which go through Spark's
      committers instead.
    * **Crash window.** ``os.replace`` is per-file atomic, but the
      commit loop is not transactional: a driver crash between the
      first rename and the cleanup pass leaves a MIXED directory
      (some new ``part-<run_id>-*``, some prior-run parts, no
      ``_SUCCESS``). Readers must treat a missing ``_SUCCESS`` as
      "in-flight or failed" and fall back to the previous snapshot or
      re-run. The run-scoped ``part-<run_id>-*`` naming makes the two
      generations distinguishable for manual repair.
    * A failed JOB (any task error) never renames anything — ``abort``
      removes only ``_tmp_*`` files, so the previous dataset stays
      byte-identical.
    """
    if mode != "overwrite":
        raise ValueError("jsonl_shards supports mode='overwrite' only")
    spark = df.sparkSession
    try:
        spark.dataSource.register(JsonlShardsDataSource)
    except Exception:
        pass  # already registered under this name
    df.write.format("jsonl_shards").mode(mode).option("path", path).save()


class JsonlStreamShardWriter(DataSourceStreamWriter):
    """Streaming side of the sink (``DataSourceStreamWriter``): each
    micro-batch commits ATOMICALLY into its own ``batch-<id>/`` epoch
    directory — tasks write root-level temps, the driver's
    ``commit(messages, batchId)`` clears the epoch dir (idempotent
    replay: a restarted batch REWRITES its epoch, never duplicates it),
    renames the reported temps in, and stamps the epoch ``_SUCCESS``.
    Readers take only epoch dirs carrying ``_SUCCESS``: replayed-but-
    uncommitted epochs are invisible, so the visible dataset is
    exactly-once under the same contract as Spark's own file sink (and
    the repo's foreachBatch parquet sink, whose partition-overwrite
    trick this reproduces at the DataSource API level).

    Same shared-POSIX-filesystem assumption as the batch writer."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards sink requires a path")

    def write(self, iterator) -> _ShardCommit:
        return _write_temp_shard(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        epoch = os.path.join(self.path, f"batch-{batchId:05d}")
        if os.path.isdir(epoch):  # replay: rewrite this epoch from scratch
            for f in os.listdir(epoch):
                os.remove(os.path.join(epoch, f))
        else:
            os.makedirs(epoch)
        for i, msg in enumerate(messages):
            os.replace(
                os.path.join(self.path, msg.tmp_name),
                os.path.join(epoch, f"part-{i:05d}.jsonl"),
            )
        with open(os.path.join(epoch, "_SUCCESS"), "w") as f:
            f.write("")

    def abort(self, messages, batchId: int) -> None:
        _sweep_temp_shards(self.path)
