"""SparkSession construction with scale-aware defaults.

Tests and bench run on ``local[N]`` (single JVM), but every knob here is
chosen for the 1000-executor / 100 TB posture and merely *also* behaves well
locally:

- AQE on: runtime coalescing of shuffle partitions and skew-join splitting
  replace hand-tuned partition counts when data sizes are unknown up front.
- ``spark.sql.shuffle.partitions`` is a *pre-AQE upper bound*; AQE coalesces
  down. Locally 32 (= cores); on a real cluster submit-time config overrides.
- Arrow enabled: the LLM-pipeline operators use pandas UDFs /
  ``applyInPandas`` — Arrow batch transfer is the only acceptable Python seam.
- ``maxPartitionBytes`` left at default 128 MB: parquet scans split by byte
  range, which is what keeps a 100 TB scan at ~800k well-sized tasks.
- Every Python worker, task and data-source planner alike, starts with
  ``_worker/sitecustomize.py`` imported: before every task and every
  planning call pyspark calls ``importlib.invalidate_caches()``, which on
  Python 3.10-3.12 makes each cached zipimporter re-read ``pyspark.zip``
  and the spark-core jar (~0.2 s a call). The module re-reads an archive
  only when its ``(st_ino, st_mtime_ns, st_size)`` stamp changed since that
  importer's last read. Delete it once the worker Python is 3.13 or newer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

# Holds only sitecustomize.py: Spark starts every Python daemon, the
# planners' too, with this directory on PYTHONPATH, so each worker
# interpreter imports that module at start-up.
_WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def get_spark(app_name: str = "zip-to-parquet-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Master resolves from ``SPARK_GRAFT_CPUS`` (driver contract) or falls back
    to ``local[*]``. All configs are safe no-ops when this runs under a real
    cluster manager — spark-submit settings take precedence over in-code
    defaults for an already-running session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle sizing: upper bound; AQE coalesces to actual data volume.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-UDF seam (similarity, text analysis).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep timestamp semantics aligned with the parquet fixtures.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dims (region/nation/customer/supplier/part at
        # test SFs) broadcast; at 100 TB the big fact tables never qualify.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Codegen-heavy plans (128-perm MinHash, 60-bit SimHash) overflow the
        # default ~240 MB JIT code cache; once full the JVM silently stops
        # compiling and every later stage runs interpreted at 4-10x cost.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        # A static conf: a session someone else already built (the caller
        # of __spark_entry__, bench.py) ignores it through getOrCreate, and
        # the master built here is always local, so the workers see this
        # directory.
        .config("spark.executorEnv.PYTHONPATH", _WORKER_DIR)
    )
    return builder.getOrCreate()
