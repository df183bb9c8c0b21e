"""The worker-path ``sitecustomize`` that ``get_spark`` sessions install.

``_worker/sitecustomize.py`` wraps ``zipimporter.invalidate_caches`` so a
Python worker does not re-read ``pyspark.zip`` unless it changed. These
tests check, inside real tasks and data-source planner workers, that the
wrap is installed and cheap, that a zip rewritten between tasks is still
read again, and that a ``sitecustomize`` it shadows still runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from zip_to_parquet_spark.session import _WORKER_DIR

WRAP_MODULE = "sitecustomize"
WRAP_FILE = os.path.join(_WORKER_DIR, f"{WRAP_MODULE}.py")


def _per_task(spark, fn, n=8):
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(fn).collect()


def test_workers_run_the_sitecustomize_invalidate_caches(spark):
    def probe(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        yield sys.modules[fn.__module__].__spec__.name, fn.__code__.co_filename

    assert set(_per_task(spark, probe)) == {(WRAP_MODULE, WRAP_FILE)}


def test_planner_workers_run_the_sitecustomize_invalidate_caches(spark):
    """Spark starts the workers that plan a Python data source from the
    stock ``pyspark.daemon``, whatever ``spark.python.daemon.module`` says;
    the wrap reaches them through the worker path alone."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    def wrap_and_cost():
        import importlib
        import sys
        import time
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        secs = time.perf_counter() - t0
        return f"{sys.modules[fn.__module__].__spec__.name}|{secs:.6f}"

    class Reader(DataSourceReader):
        def partitions(self):  # the plan_data_source_read worker
            return [InputPartition(wrap_and_cost())]

        def read(self, partition):
            yield (partition.value,)

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "z2ps_planner_probe"

        def schema(self):  # the create_data_source worker
            return f"`{wrap_and_cost()}` string"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(Probe)
    df = spark.read.format("z2ps_planner_probe").load()
    [(planned,)] = df.collect()
    for worker, probed in (("create", df.columns[0]), ("plan", planned)):
        module, secs = probed.split("|")
        assert module == WRAP_MODULE, (worker, probed)
        # The stock call re-reads pyspark.zip and the spark-core jar: ~0.2 s.
        assert float(secs) < 0.020, (worker, probed)


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


def test_worker_dir_module_imports_alone():
    assert sorted(f for f in os.listdir(_WORKER_DIR) if f.endswith(".py")) == [
        f"{WRAP_MODULE}.py"]
    code = (
        f"import sys; sys.path[:] = [{_WORKER_DIR!r}]; import {WRAP_MODULE}, zipimport; "
        "print(zipimport.zipimporter.invalidate_caches.__module__, "
        "'zip_to_parquet_spark' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-S", "-c", code],
        capture_output=True, text=True, check=True, timeout=60,
    )
    assert out.stdout.split() == [WRAP_MODULE, "False"]


def test_shadowed_sitecustomize_still_runs(tmp_path):
    marker = tmp_path / "marker"
    shadowed = tmp_path / "site"
    shadowed.mkdir()
    (shadowed / f"{WRAP_MODULE}.py").write_text(
        f"import pathlib\npathlib.Path({str(marker)!r}).write_text('ran')\n")
    code = (
        "import sys, zipimport; "
        "print(zipimport.zipimporter.invalidate_caches.__code__.co_filename); "
        f"print(sys.modules[{WRAP_MODULE!r}].__file__)"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([_WORKER_DIR, str(shadowed)]))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True, timeout=60, env=env,
    )
    assert out.stdout.splitlines() == [WRAP_FILE, str(shadowed / f"{WRAP_MODULE}.py")]
    assert marker.read_text() == "ran"
