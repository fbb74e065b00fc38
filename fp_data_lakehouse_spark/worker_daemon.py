"""Python worker daemon for sessions built by ``session.get_session``.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py`` ``setup_spark_files``). On CPython 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-parse its archive's central directory in pure Python. A worker holds
one importer per package directory of ``pyspark.zip``, which ships no
bytecode, so a trivial task spends about 100 ms re-reading an archive
that has not changed.

``install`` makes an importer skip the re-read while its archive's
``(st_mtime_ns, st_size)`` matches the last read. A new or rewritten
archive (``addPyFile``) is still re-read, so its modules stay
importable. Run as a module, this file installs the guard and then
runs ``pyspark.daemon`` as ``__main__`` with ``sys.argv`` intact, so
the worker module Spark passes as the first argument still arrives.
"""

from __future__ import annotations

import os
import runpy
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the unchanged-archive
    guard; a no-op on a Python without that method or its cache."""
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if reread is None or cache is None:
        return
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing the read leaves an old
        # stamp behind, so the next call reads the archive again
        reread(self)
        if stamp is not None:
            read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
