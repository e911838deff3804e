"""Read a zip/jar importer's directory again only when the archive changed.

Before each task, a PySpark Python worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Up to CPython 3.11 that makes
every ``zipimporter`` on ``sys.path_importer_cache`` re-read its whole archive
directory: ``pyspark.zip`` once per package-prefix importer, the spark-core jar
twice. That measured 0.13-0.26 s of CPU per task in a reused worker (local[4]
on a 4-CPU machine, PySpark 4.1). CPython 3.12 stopped the eager re-read
(gh-103200).

``install()`` applies to zip archives the rule ``FileFinder`` applies to
directories: keep the cached directory while the archive's ``os.stat``
signature is the one this process saw when it last read it. The signatures are
process state because ``zipimport._zip_directory_cache`` is. A missing or
unreadable archive goes to the stdlib method unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat signature


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; idempotent, and a
    no-op on CPython >= 3.12 or where the method does not exist."""
    cls = zipimport.zipimporter
    stdlib = getattr(cls, "invalidate_caches", None)
    if sys.version_info >= (3, 12) or stdlib is None or hasattr(stdlib, "__wrapped__"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except (OSError, ValueError):
            return stdlib(self)
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None and _read_at.get(self.archive) == sig:
            self._files = cached
            return
        stdlib(self)
        _read_at[self.archive] = sig

    invalidate_caches.__wrapped__ = stdlib
    cls.invalidate_caches = invalidate_caches
