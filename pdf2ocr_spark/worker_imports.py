"""Lazy zip-import cache invalidation for Spark Python workers.

Before every task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` answers that by re-reading the
whole central directory of its archive, and a worker holds one zipimporter
per imported subpackage of ``pyspark.zip`` (1,328 entries): 14-16 full
directory parses, about 0.1-0.2 s, before every task's first row. Python
3.13 made the call lazy. :func:`install_lazy_zip_invalidation` backports
that for the engine's own workers: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` stamp changed since it was last read,
so a rewritten ``--py-files`` / ``addPyFile`` zip is still picked up.

Do not remove this as dead code: nothing calls it but the package
``__init__``, which every worker-side engine closure imports when its UDF
is unpickled, so the patch is in place from each worker's second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> stat stamp taken just before its directory was last read.
# Per process, like zipimport's own ``_zip_directory_cache`` it guards.
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _lazy_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only if the file changed since."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _eager_invalidate_caches(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def _in_spark_worker() -> bool:
    # setup_spark_files sets this flag just before it invalidates the
    # import caches; only worker processes set it. Not importing pyspark here
    # keeps the pure-Python kernel importable without it.
    files = sys.modules.get("pyspark.core.files")
    return files is not None and bool(files.SparkFiles._is_running_on_worker)


def install_lazy_zip_invalidation() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in a Spark Python worker.

    Returns True when this call installed the patch. It does nothing on
    Python >= 3.13 (already lazy), outside a Spark Python worker, or when
    the patch is already installed.
    """
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return False
    if zipimport.zipimporter.invalidate_caches is _lazy_invalidate_caches:
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    return True
