"""Python-worker daemon for `sources.get_spark` sessions: pyspark's own
daemon, minus a per-task re-read of archives that have not changed.

Before every task pyspark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`. On CPython 3.11 that reaches
`zipimporter.invalidate_caches` (zipimport.py:329-336), which re-reads the
whole directory of its archive. A worker holds about 16 zipimporters over
pyspark.zip, the spark-core jar and py4j, so each task paid about 190 ms
of CPU (4-core x86 VM) re-reading files that never change. Here the
re-read happens only when the archive's stat signature (mtime_ns, size,
inode) differs from the one recorded at its last read, so an archive
added or rewritten later (e.g. by `addPyFile`) is still re-read.

Spark runs this as `python -m henbun_spark._daemon pyspark.worker`.
"""

import os
import zipimport


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    """Gate `zipimporter.invalidate_caches` on the archive's stat signature.
    Idempotent; a no-op where the interpreter does not re-read eagerly
    (a zipimporter with `_get_files` reads its directory lazily)."""
    eager = zipimport.zipimporter.invalidate_caches
    if hasattr(zipimport.zipimporter, "_get_files") or hasattr(eager, "unpatched"):
        return
    cache = zipimport._zip_directory_cache
    read_at = {path: _signature(path) for path in cache}  # signature at last read

    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is not None and read_at.get(self.archive) == sig and self.archive in cache:
            self._files = cache[self.archive]
            return
        eager(self)
        read_at[self.archive] = sig

    invalidate_caches.unpatched = eager
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon  # imports the worker module named by sys.argv[1]

    install()  # after the imports, so forked workers inherit every signature
    daemon.manager()
