"""Skip re-reading unchanged zip archives when a Python worker resets its
import caches.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py:144``, after it puts the task's files on
``sys.path``). On CPython < 3.13 that makes every ``zipimporter`` re-read
its whole archive directory at once (3.11 ``zipimport.py:329-336``); a
worker holds one importer per imported package directory of ``pyspark.zip``,
the py4j zip and the Spark core jar, so a reused worker paid about 0.1-0.2
CPU-s per task before running any of it. CPython 3.13 only marks the
directory stale and re-reads it lazily (``zipimport.py:276-278``).

``install`` replaces ``zipimporter.invalidate_caches`` with a version that
keeps the cached directory of an archive whose stat stamp is unchanged since
this process last read it, and otherwise does what stock 3.11 does. The
package installs it on import in Python worker processes only, so the
driver's import system is left alone. The first task of each worker still
pays once: PySpark resets the caches before it unpickles the function that
imports this package.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
        _stamps[self.archive] = stamp
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}


def install() -> None:
    """Patch ``zipimporter`` on CPython < 3.13; installing twice is a no-op."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if "pyspark.worker" in sys.modules:
    install()
