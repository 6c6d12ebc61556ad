"""pyspark's worker daemon, with zip importers that re-read an archive only
when it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python 3.11 that makes every cached ``zipimporter`` re-read
its archive's central directory (pyspark.zip, the spark-core jar, py4j):
~0.2 s of CPU per task before a row is read. Here a zip importer re-reads
only when its archive's ``(st_mtime_ns, st_size)`` differs from what that
importer last read; the rest of ``invalidate_caches()`` (path finders,
meta-path finders) is untouched, so ``addPyFile`` and new modules are found
as before. ``proj_spark.session.get_spark`` runs workers through this module
(``spark.python.daemon.module``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    # the stamp lives on the importer: every package prefix of an archive
    # (pyspark.zip/pyspark/sql, ...) holds its own copy of the directory
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_proj_spark_stamp", None):
        _reread(self)
        self._proj_spark_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    install()  # before the fork: every worker inherits it
    daemon.manager()
