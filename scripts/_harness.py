"""bench.py's Spark session and steal probe, shared by the scripts.

bench.py is the measuring stick: its session conf and its ``/proc/stat``
steal probe stay inline there, untouched, so a bench number never moves
because a script changed. This module is the one mirror of both for
``ab.py``, ``capture_plans.py`` and ``audit_plans_registry.py``, so the
plans they capture and the times they report come from the session the
bench executes. Keep it in step with bench.py. (``degenerate_sweep.py``
builds a deliberately bare, driver-like session instead.)
"""

from __future__ import annotations

import os


def bench_session(app_name: str):
    """A ``local[SPARK_GRAFT_CPUS]`` session with bench.py's conf."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def steal() -> float:
    """Seconds of hypervisor steal so far (the 8th field of /proc/stat's
    cpu line); 0.0 where that file is missing."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        return int(parts[7]) / 100.0 if len(parts) > 7 else 0.0
    except OSError:
        return 0.0
