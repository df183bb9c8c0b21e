"""A fixed reference job that shows how fast the machine is right now.

On a shared machine the same pass can take twice as long in one quarter
hour as in the next, because other tenants contend for the same hardware.
A run times this job after every warm operation; a warm pass time divided
by the median reference time of the same pass cancels most of that drift
and still grows when the program does more work.

The reference is a Spark job, not a plain CPU loop: measured on a shared
4-vCPU VM, a `query_mix` pass slowed 2.2x in a contended period while a
hashing-and-Python-loop reference slowed only 1.65x; with extra processes
competing for the cores, the pass slowed 1.30x, this job 1.32x and the CPU
loop 1.17x. The job is narrow (no shuffle) and calls no engine code, so
only a change to the session itself can move it.
"""

from __future__ import annotations

import time

ROWS = 4_000_000


def reference_seconds(spark, cores: int) -> float:
    """Wall time of ``ROWS`` ids hashed on ``cores`` partitions into the
    noop sink."""
    df = spark.range(0, ROWS, 1, cores).selectExpr("xxhash64(id) AS h")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
