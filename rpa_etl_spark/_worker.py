"""Python-worker set-up: stop re-reading unchanged zip archives per task.

PySpark's worker calls `importlib.invalidate_caches()` at the start of every
task; before Python 3.13 that re-reads the central directory of every
archive on the worker's import path. The guard below re-reads an archive
only when its stat stamp moved. See `session.py` for the measurements and
why this is installed on engine import rather than through a conf.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def stat_guard(reread):
    """`zipimporter.invalidate_caches` that calls `reread` only when the
    archive's (mtime_ns, size, inode) differs from the stamp taken at this
    importer's last re-read. An importer with no stamp yet, or an archive
    that cannot be stat'ed, is always re-read."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    return invalidate_caches


_guarded = stat_guard(_reread)


def install_zipimport_guard() -> None:
    """Idempotent; a no-op outside a PySpark worker and on Python >= 3.13,
    whose `invalidate_caches` only drops the cache."""
    if sys.version_info < (3, 13) and "pyspark.worker" in sys.modules:
        zipimport.zipimporter.invalidate_caches = _guarded
