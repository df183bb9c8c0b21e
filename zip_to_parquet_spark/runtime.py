"""Ship this package to Spark's Python workers.

The zipmembers Data Source class and every pandas-UDF function in this
package pickle *by reference* (cloudpickle references importable modules),
so executor-side Python workers must be able to ``import
zip_to_parquet_spark``. On a real cluster that is ``--py-files``; for a
session we don't own (the driver harness builds its own SparkSession, any
cwd), ``ensure_shipped`` zips the package and ``addPyFile``s it — the same
mechanism, applied at runtime. Idempotent per SparkContext.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_SHIPPED: set[str] = set()


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition a compute-heavy input up to the session's core count.

    Small parquet files arrive as a single scan partition, which serializes
    expensive per-row expressions (MinHash signatures, SimHash bit packing,
    per-member decompression) onto one core. One explicit repartition unlocks
    full parallelism; whenever the scan already has >= defaultParallelism
    partitions — any real-scale input — this is a no-op with zero added
    shuffles. Keying the repartition (e.g. on doc_id) also makes both sides
    of downstream self-joins share an identical exchange subtree, so Spark's
    ReuseExchange computes the expensive projection once.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def size_aware_side(
    side: DataFrame, probe: DataFrame, max_rows: int | None
) -> DataFrame:
    """Force-broadcast ``side`` only when a bounded driver probe confirms
    ``probe`` (same cardinality) is under ``max_rows``; above it the join
    falls back to a plain shuffle join (a 100 TB corpus's type table will
    not fit the 8 GB broadcast limit). ``None`` skips the probe and leaves
    the choice to AQE. The LIMIT lets the probe job stop once max_rows+1
    rows exist — one early-terminating pass of the same aggregation."""
    from pyspark.sql import functions as F

    if max_rows is None:
        return side
    n = probe.limit(max_rows + 1).count()
    return F.broadcast(side) if n <= max_rows else side


def _package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                files.append(os.path.join(dirpath, fn))
    files.sort()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    zpath = f"/tmp/z2ps_pkg_{h.hexdigest()[:16]}.zip"
    if not os.path.exists(zpath):
        # Per-process temp name: concurrent first builds of the same zip
        # each write their own file, and the atomic replace lets any win.
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for f in files:
                zf.write(f, os.path.relpath(f, root))
        os.replace(tmp, zpath)
    return zpath


def build_once(out_dir: str, build: Callable[[str], None]) -> str:
    """Return ``out_dir``, first filling it with ``build(tmp_dir)`` if it
    does not exist yet. The build writes into a per-process temp directory
    that is renamed into place, so a concurrent first build never exposes
    half-written files: the first rename wins and the loser's copy is
    dropped."""
    if not os.path.isdir(out_dir):
        tmp = f"{out_dir}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        try:
            os.rename(tmp, out_dir)
        except OSError:  # another build renamed its copy first
            shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


@contextlib.contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set the runtime conf ``key`` to ``value`` for the enclosed block;
    afterwards restore the value it had, or unset it if it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)


def session_scratch(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """Per-session scratch path ``/tmp/<prefix>/<appId>/<sf-basename>_<key>``
    — the ONE definition of the pattern (was triplicated across plans).
    ``key`` is 16 hex digits of the sha256 of ``sf_dir``'s absolute path,
    so two fixture dirs that share a basename get separate scratch sets.
    appId keying prevents concurrent sessions on the same sf from
    overwriting each other mid-read-back; sibling appId dirs whose mtime
    is older than 6 hours are pruned best-effort, so a box
    running the driver round after round no longer accumulates one
    scratch set per application forever."""
    import time

    root = f"/tmp/{prefix}"
    app = spark.sparkContext.applicationId
    try:
        now = time.time()
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if d != app and now - os.path.getmtime(p) > 6 * 3600:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    base = os.path.basename(os.path.normpath(sf_dir))
    key = hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    return os.path.join(root, app, f"{base}_{key}")
