"""Stops every Python worker re-reading zip archives it has already read.

Before each task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``), and so do the workers
that plan Python data sources (``create_data_source``,
``plan_data_source_read``, ``data_source_pushdown_filters``). On Python
3.10-3.12 that makes every cached ``zipimport.zipimporter`` re-read its
archive's central directory from disk: ``pyspark.zip`` (1,328 entries,
about a dozen importers) and the spark-core jar on the worker path cost
~0.2 s per call.

``session.get_spark`` puts this directory on every Python worker's
``PYTHONPATH``, so ``site`` imports this module when a worker interpreter
starts: the stock ``pyspark.daemon`` (task and planner daemons alike) and
every worker it forks run with the wrap below. An importer re-reads its
archive only when the archive's ``(st_ino, st_mtime_ns, st_size)`` stamp
differs from the one recorded at its last read, so an archive rewritten in
place, replaced or resized is still read again. A missing archive falls
through to the stock method.

This module shadows any ``sitecustomize`` later on ``sys.path``; it runs
that one after installing the wrap. It must not import
``zip_to_parquet_spark``: every forked worker would inherit that import and
never load the package zip shipped with the job. Delete this module, and
the ``PYTHONPATH`` conf ``session.get_spark`` sets for it, once the worker
Python is 3.13 or newer: there ``invalidate_caches`` only drops the cached
directory and the next import re-reads it.
"""

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    if stamp is None or stamp != self.__dict__.get("_z2ps_stamp"):
        # Stamped before the read: a write racing the read changes the
        # file's stamp, so the next call reads again.
        _stock_invalidate_caches(self)
        self._z2ps_stamp = stamp


def _run_shadowed_sitecustomize():
    # Drops this directory from sys.path for good (it holds nothing else to
    # import), so the import below finds the next sitecustomize, and any
    # path edits that module makes stay.
    here = os.path.dirname(os.path.realpath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.realpath(p) != here]
    this = sys.modules.pop(__name__)
    try:
        __import__(__name__)
    except ModuleNotFoundError as exc:
        if exc.name != __name__:
            raise
        sys.modules[__name__] = this


zipimport.zipimporter.invalidate_caches = invalidate_caches
_run_shadowed_sitecustomize()
