"""Keep zip archive directories across ``importlib.invalidate_caches()``.

Every task a PySpark Python worker runs calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). Before CPython 3.12 (gh-103200 made it
lazy), ``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive at once. A worker holds about 16 zipimporters over
``pyspark.zip`` and the py4j zip, so each task re-parses ~27k directory
entries: ~0.2 s of CPU before the UDF sees its first batch.

On CPython < 3.12 this module wraps ``zipimporter.invalidate_caches``. It
stamps each archive with ``(st_mtime_ns, st_size, st_ino)`` when the original
method re-reads it. A later call on an archive whose stamp is unchanged, and
whose directory ``zipimport._zip_directory_cache`` still holds, reuses that
directory. Any other case calls the original method, so an archive rewritten
on disk is still re-read; an archive not yet stamped is read once more, and
the other importers of the same archive then reuse that read. On 3.12+
nothing is patched. ``install()`` runs on
import of ``ksoup_spark``, so every worker that unpickles one of its UDFs
installs it on that worker's first task.
"""

from __future__ import annotations

import os
import sys
import zipimport

_INVALIDATE_CACHES = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self):
    # stat before reading: a rewrite during the read leaves a stale stamp,
    # which the next call sees and re-reads
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _INVALIDATE_CACHES(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Patch zipimport on CPython < 3.12; True when the patch is in place."""
    if sys.version_info >= (3, 12):
        return False
    if zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
