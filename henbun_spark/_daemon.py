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

The daemon also freezes its heap before it forks. After every task a
reused worker runs pyspark's full `gc.collect()` (pyspark/daemon.py, the
worker loop), and a worker forked from this daemon starts with about 74k
tracked objects: numpy, pandas, pyarrow, pyspark and henbun_spark, all
imported here. So the daemon runs `gc.collect()` and then `gc.freeze()`
once, before `daemon.manager()` forks any worker (CPython's pre-fork
idiom): the daemon's import-time objects move to the permanent
generation, and the per-task collection walks only what the task itself
made. A trivial task's worker CPU fell from about 50 to about 5 ms
(4-core x86 VM). A task's own garbage, cycles included, is still freed;
frozen objects are never collected, and nothing the daemon creates after
the freeze is frozen.

Spark runs this as `python -m henbun_spark._daemon pyspark.worker`.
"""

import gc
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
    gc.collect()  # leave no garbage in the permanent generation
    gc.freeze()  # forked workers' per-task gc.collect() skips these objects
    daemon.manager()
