"""Import-cache resets that skip unchanged zip archives.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10-3.12 that makes every cached ``zipimporter``
re-read its archive's whole central directory. A worker holds about a
dozen importers over ``pyspark.zip`` (one per package directory imported
from it) and two over py4j's zip, so each task re-read ~1,300 entries a
dozen times before its UDF body ran (66-75 ms a call on a 4-core VM).
CPython 3.13 reads the directory lazily and needs nothing.

``install`` (run when the package is imported, which every worker does
when it unpickles an engine UDF) replaces
``zipimporter.invalidate_caches`` with one that re-reads an archive only
when its stat signature (inode, size, mtime_ns) differs from the one
taken when it was last read, so a rewritten zip is still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = getattr(zipimport.zipimporter, "invalidate_caches", None)
# archive path -> (stat signature before the last read, directory read)
_READ: dict = {}


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipping an archive whose stat
    signature and shared directory entry are those of its last read."""
    sig = _signature(self.archive)
    seen_sig, seen_files = _READ.get(self.archive, (None, None))
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and sig == seen_sig and files is seen_files:
        self._files = files
        return
    _ORIGINAL(self)
    _READ[self.archive] = (sig, self._files)


def install() -> bool:
    """Install the replacement on CPython 3.10-3.12 and bring every cached
    zip importer up to date (one read per archive); later resets read
    only archives that changed. Returns whether it is installed."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    return True
