"""The Python worker daemon that ``get_spark`` sessions start.

``_worker/z2ps_daemon.py`` wraps ``zipimporter.invalidate_caches`` so a
task does not re-read ``pyspark.zip`` unless it changed. These tests check,
inside real tasks, that the wrap is installed, that it is cheap, and that
a zip rewritten between tasks is still read again.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from zip_to_parquet_spark.session import _DAEMON_DIR

DAEMON_MODULE = "z2ps_daemon"


def _per_task(spark, fn, n=8):
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(fn).collect()


def test_workers_run_the_daemons_invalidate_caches(spark):
    def probe(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        # The daemon runs as ``python -m``, so its functions live in
        # ``__main__``; the spec still names the module.
        yield sys.modules[fn.__module__].__spec__.name

    assert set(_per_task(spark, probe)) == {DAEMON_MODULE}


def test_worker_invalidate_caches_is_cheap(spark):
    def probe(_):
        import importlib
        import time

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield time.perf_counter() - t0

    # The stock call re-reads pyspark.zip and the spark-core jar: ~0.2 s.
    assert max(_per_task(spark, probe)) < 0.020


def test_worker_rereads_a_zip_rewritten_between_tasks(spark, tmp_path):
    zpath = str(tmp_path / "probe.zip")
    mod = "z2ps_probe_mod"

    def write(v, pad=""):
        # Rewritten in place (same inode). The same-size rewrite swaps the
        # member order, so a stale directory would read the other member.
        members = [(f"{mod}.py", f"V={v}\n{pad}"), ("other.py", "V=9\n")]
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
            for name, text in members if v % 2 else members[::-1]:
                zf.writestr(name, text)
        return os.path.getsize(zpath)

    def probe(_):
        import importlib
        import os
        import sys

        sys.path.insert(0, zpath)
        try:
            sys.modules.pop(mod, None)
            yield os.getpid(), importlib.import_module(mod).V
        finally:
            sys.path.remove(zpath)
            sys.modules.pop(mod, None)

    size = write(1)
    first = _per_task(spark, probe, 4)
    # A second task on each worker records the importer's stamp, so the
    # rewrites below are caught by the stamp check, not by a first read.
    stamped = _per_task(spark, probe, 4)
    assert {v for _, v in first + stamped} == {1}

    assert write(2) == size
    same_size = _per_task(spark, probe, 4)
    assert {v for _, v in same_size} == {2}
    assert {p for p, _ in same_size} & {p for p, _ in stamped}

    assert write(3, pad="# longer\n") != size
    resized = _per_task(spark, probe, 4)
    assert {v for _, v in resized} == {3}


def test_daemon_module_imports_alone():
    assert sorted(f for f in os.listdir(_DAEMON_DIR) if f.endswith(".py")) == [
        f"{DAEMON_MODULE}.py"]
    code = (
        f"import sys; sys.path[:] = [{_DAEMON_DIR!r}]; import {DAEMON_MODULE}; "
        "print('zip_to_parquet_spark' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-S", "-c", code],
        capture_output=True, text=True, check=True, timeout=60,
    )
    assert out.stdout.strip() == "False"
