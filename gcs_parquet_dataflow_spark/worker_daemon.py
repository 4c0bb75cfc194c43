"""Python worker daemon: ``pyspark.daemon`` with zip directories cached.

``get_spark`` names this module in ``spark.python.daemon.module``, so every
Python worker (Pandas UDFs, ``mapInPandas``, ``foreachPartition``) forks
from it.

Why: before each task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory, once per importer: 16 reads of the 3.5 MB
``pyspark.zip`` per task. Measured in a worker on 4 cores, one such call
took ~190 ms, and 0.1 ms with this module. Here ``invalidate_caches`` re-reads
an archive only when its inode, size or mtime changed since the last
read, so an archive rewritten in place is still seen. The daemon primes
the cache once before forking, and forked workers inherit it.

Executors must be able to import this package to start the daemon; see
SCALE.md.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _archive_key(archive: str):
    st = os.stat(archive)
    return st.st_ino, st.st_size, st.st_mtime_ns


def cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the archive changed since its last read. Pythons whose
    zipimporter re-reads lazily (``_get_files``) are left as they are."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    reread = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple] = {}  # archive -> (key at read, directory)

    def invalidate_caches(self) -> None:
        try:
            key = _archive_key(self.archive)
        except OSError:
            key = None
        hit = seen.get(self.archive)
        if key is not None and hit is not None and hit[0] == key:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        # stat before the read: a rewrite racing it leaves a stale key,
        # which only costs one more read next time
        reread(self)
        if key is not None:
            seen[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    cache_zip_directories()
    importlib.invalidate_caches()  # one read per archive, shared by forks
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
