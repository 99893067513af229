"""Python worker daemon for the Python tasks of a session made by
``session.get_spark`` (Python UDFs, RDD passes, DataFrames built from
Python lists).

``pyspark.worker`` calls ``importlib.invalidate_caches()`` at the start
of every task. On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` read its archive's whole central directory
again, and Spark puts ``pyspark.zip`` (about 1300 entries) and the py4j
zip first on the worker path, with one importer per package imported
from them: about 16 directory reads per task, 0.27 s of CPU on a
4-vCPU x86 host even for a task that maps 8 integers. This daemon makes that re-read happen only
when the archive has changed (its size or mtime differs from the last
read) and then runs ``pyspark.daemon`` unchanged; the workers it forks
inherit the patch. A zip added to the path later still gets a fresh
importer, and directory finders are invalidated as before.

Started by Spark as ``python -m hadoop_fcfs_spark.pydaemon pyspark.worker``
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_fcfs_stamp", None) != stamp:
        _reread(self)
        self._fcfs_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    daemon.manager()
