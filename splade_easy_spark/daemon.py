"""PySpark's Python worker daemon, with zip archives re-read only when
they change.

Spark starts the daemon once per executor (``python -m <module>
pyspark.worker``, the module named by ``spark.python.daemon.module``) and
forks every Python worker from it.  Before each task a worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before Python 3.12 that makes every cached ``zipimporter`` re-read its
archive's central directory, and a worker holds about sixteen of them:
``pyspark.zip`` once per imported sub-package, the ``spark-core`` jar and
the py4j zip.  Measured on Python 3.11 / PySpark 4.1, one such call took
about 110 ms, paid by every mapInPandas / mapInArrow task whatever its work.

``install`` replaces ``zipimporter.invalidate_caches`` with a stat-gated
version: an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read, and otherwise takes
the directory that read left in ``zipimport._zip_directory_cache``.  Path
finders are still invalidated on every task, and a changed archive is
still re-read.  Python 3.12 made the re-read lazy (gh-103200), so there
nothing is installed.

The gate is installed and primed here, before the first fork, so every
worker runs with it from its first task.  ``session.get_spark`` names this
module; a session that must find the package only through ``--py-files``
keeps ``pyspark.daemon`` (the zip reaches a worker after its daemon starts).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# pid of the process that installed the gate: a worker forked from the
# daemon carries the daemon's pid here, not its own
installed_in: int | None = None


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stat_gated(reread):
    """``zipimporter.invalidate_caches`` that calls ``reread`` (the stdlib
    method) only when the archive changed since the last read it did."""
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files  # another importer of the archive may have re-read it
            return
        reread(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    return invalidate_caches


def install() -> None:
    """Gate every ``zipimporter`` of this process (Python < 3.12 only)."""
    global installed_in
    if sys.version_info >= (3, 12) or installed_in is not None:
        return
    zipimport.zipimporter.invalidate_caches = stat_gated(zipimport.zipimporter.invalidate_caches)
    installed_in = os.getpid()


def main() -> None:
    install()
    from pyspark import daemon as pyspark_daemon

    # one read per archive imported so far, so the forked workers start
    # with every stamp and their first task re-reads nothing
    importlib.invalidate_caches()
    pyspark_daemon.manager()


if __name__ == "__main__":
    # run the package's copy, so a worker's ``splade_easy_spark.daemon`` is
    # the module that installed its gate
    from splade_easy_spark import daemon as _daemon

    _daemon.main()
