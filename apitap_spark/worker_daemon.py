"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` re-read its whole archive directory. A worker holds
one importer per package path it imported from ``pyspark.zip``, the py4j
zip and the spark-core JAR, so every task re-read ~7,000 entries before
its function ran (0.2–0.3 s per task on 4 vCPU). Under this daemon an
importer re-reads only when it has not read its archive yet or the
archive's ``(st_mtime_ns, st_size)`` changed, so a rewritten zip is still
picked up. ``session.get_session`` runs workers under it through
``spark.python.daemon.module``.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or self.__dict__.get("_read_stamp") != stamp:
        _reread(self)
        self._read_stamp = stamp


def install() -> None:
    """Make every ``zipimporter`` of this process (and of its forks) use
    :func:`invalidate_caches`."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # runpy runs this file as ``__main__``: install the importable copy's
    # function, so a worker reports it under this module's name.
    from pyspark import daemon

    from apitap_spark.worker_daemon import install as install_in_workers

    install_in_workers()
    daemon.manager()
