"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-reads.

Before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 that
makes every ``zipimporter`` re-read its archive's central directory, and
Spark puts three archives on the workers' path: ``pyspark.zip`` (~1,300
entries), the py4j zip and the ``spark-core`` jar (~5,400). A reused
worker made 16 directory reads per task, 76 ms on a 4-core host
(``docs/SCALING.md``), before the task's function ran. Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when it was last read, so a
rewritten zip is still picked up. CPython 3.13's zipimport only drops the
cache entry, and is left alone.

``session.get_spark`` selects this module with
``spark.python.daemon.module``. It imports nothing beyond what
``pyspark.daemon`` already loads, so a fresh daemon starts no slower.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last
# read; per process, like zipimport's own directory cache
_READ: dict[str, tuple[int, int]] = {}


def _signature(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so that it
    re-reads an archive only once it has changed (Python < 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self) -> None:
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and _READ.get(self.archive) == sig:
            # every importer of one archive shares its cached directory
            self._files = files
            return
        reread(self)
        if sig is not None:
            # the stat precedes the read: a write between the two makes
            # the next call read again, never skip a change
            _READ[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
