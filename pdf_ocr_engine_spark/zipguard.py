"""Stop reused Python workers re-reading every zip directory on every task.

Before each task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  On CPython 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's central directory: ``pyspark.zip`` (1,328 entries), the py4j
zip and the spark-core jar, once per importer, and every package imported
from a zip has an importer of its own.  That re-read is most of the
per-task framework cost of a ``mapInArrow``/``mapInPandas`` stage.  CPython
3.12 made the invalidation lazy (gh-103200); this module backports the
effect.

:func:`install_zip_guard` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's ``(st_mtime_ns,
st_size)`` differs from the stamp the importer took at its last read.  The
stamp lives on the importer instance, not per archive path: several
importers share one archive and each holds its own copy of the directory,
so each one has to notice a rewrite by itself.  A rewritten ``--py-files``
zip is therefore still re-read, and an unchanged archive costs one ``stat``
per importer per task.

Call :func:`install_zip_guard` first in every iterator-form UDF body.  The
first call in a process re-reads each zip importer once to take its stamp;
later calls return at once.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install_zip_guard"]

#: importer attribute holding the archive stamp of its last directory read
_STAMP = "_zip_guard_stamp"


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded(original):
    def invalidate_caches(self):
        # stat before the read: a rewrite racing the read leaves an old
        # stamp, so the next call reads again rather than trusting it
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches.zip_guard_original = original
    return invalidate_caches


def install_zip_guard() -> None:
    """Install the guard in this process; idempotent."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "zip_guard_original"):
        return
    cls.invalidate_caches = _guarded(cls.invalidate_caches)
    # importers created before the guard carry no stamp; read each once now
    # so that the next task's invalidation finds them stamped
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer.invalidate_caches()
