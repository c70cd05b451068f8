"""Python worker daemon for engine sessions on a local master.

:func:`dagli_spark.session.get_spark` names this module in
``spark.python.daemon.module``, so the JVM starts it (``python -m
dagli_spark.pyworker pyspark.worker``) in place of ``pyspark.daemon``.

Every Python task begins with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. Before CPython 3.13 that
calls ``zipimporter.invalidate_caches`` on every cached zip importer, and
each one re-reads its whole archive's central directory in pure Python.
The JVM puts ``pyspark.zip``, the py4j zip and the ``spark-core`` jar
ahead of site-packages on the worker path, so a task re-read thousands of
entries 16 times: 190-320 ms of every task at local[4] on Python 3.11,
before any engine code ran. CPython 3.13 made the invalidation lazy.

Here, on Python < 3.13, an importer re-reads its archive only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the last read —
``FileFinder``'s mtime rule applied to archives — and otherwise takes the
shared ``zipimport._zip_directory_cache`` entry. An archive that cannot be
stat'ed falls through to the stdlib behaviour. The stamps of the archives
already read when the daemon starts are recorded before it forks, so a
worker's first task reads nothing either. Forking, worker reuse, signals
and exit on the JVM's EOF stay ``pyspark.daemon.manager``'s.

Nothing here runs on import: the driver process keeps the stdlib's
``zipimporter``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install(stdlib=zipimport.zipimporter.invalidate_caches) -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stat changed, and record the stamps of the archives already in
    ``zipimport._zip_directory_cache``."""
    # archive path -> (st_ino, st_size, st_mtime_ns) at its last read
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            stdlib(self)
            return
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing the read leaves an old
        # stamp, and the next invalidation reads the archive again
        stdlib(self)
        stamps[self.archive] = stamp

    for archive in list(zipimport._zip_directory_cache):
        try:
            stamps[archive] = _stamp(archive)
        except OSError:
            continue
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
