"""Python worker daemon of a local session (``spark.python.daemon.module``).

Every task a Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes each
``zipimport.zipimporter`` re-read its archive's central directory, and
a worker that imports pyspark from ``pyspark.zip`` holds one per
package directory it imported from (14 once ``pyspark.worker`` is
imported), all over the same 3.5 MB archive: 0.07-0.12 s per task on a
bare 3.11 interpreter, 4-core host. Here an importer re-reads its
archive only when the archive's ``(st_ino, st_size, st_mtime_ns)``
changed since the last read, so a rewritten archive is still picked
up. CPython 3.13 makes the call cheap itself and keeps its own method.

Run as ``python -m flink_precisely_demo_spark.worker_daemon``: it
installs the rule, then serves workers with ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def caching_invalidate(seen: dict[str, tuple[int, int, int]]):
    """A ``zipimporter.invalidate_caches`` that re-reads an archive
    only when its ``(st_ino, st_size, st_mtime_ns)`` differs from the
    one ``seen`` recorded before its last successful read."""
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            seen.pop(self.archive, None)
            _reread(self)
            return
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and seen.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: a write racing the read changes the
        # key again, so the next call reads once more
        _reread(self)
        seen[self.archive] = key
    return invalidate_caches


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = caching_invalidate({})
        # read each archive once here, so forked workers start warm
        importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so the installed method names
    # this module rather than ``__main__``
    from flink_precisely_demo_spark.worker_daemon import main as _main
    _main()
