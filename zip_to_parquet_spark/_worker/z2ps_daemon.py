"""Python worker daemon that stops every task re-reading zip archives.

Before each task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On Python 3.10-3.12
that makes every cached ``zipimport.zipimporter`` re-read its archive's
central directory from disk: ``pyspark.zip`` (1,328 entries, about a dozen
importers) and the spark-core jar on the worker path cost ~0.2 s per task.

Run as ``python -m z2ps_daemon`` (``spark.python.daemon.module``), this
module wraps ``zipimporter.invalidate_caches`` and then runs
``pyspark.daemon``'s manager; the workers it forks inherit the wrap. An
importer re-reads its archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` stamp differs from the one recorded at
its last read, so an archive rewritten in place, replaced or resized is
still read again. A missing archive falls through to the stock method.

It must not import ``zip_to_parquet_spark``: every forked worker would
inherit that import and never load the package zip shipped with the job.
Delete this module, and the two confs ``session.get_spark`` sets for it,
once the worker Python is 3.13 or newer: there ``invalidate_caches`` only
drops the cached directory and the next import re-reads it.
"""

import os
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


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
