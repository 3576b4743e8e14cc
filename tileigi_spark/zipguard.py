"""Stop an unchanged zip archive's directory being re-read on every
``importlib.invalidate_caches()`` (Python < 3.13).

Every Spark Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before 3.13 that makes each
cached ``zipimport.zipimporter`` re-read its archive's central directory:
one importer per package directory imported from ``pyspark.zip`` and the
py4j zip (~16 per worker), each re-reading pyspark.zip's ~1,300 entries,
on every task. On a 4-core host (Python 3.11, PySpark 4.1) the fixed
cost of an identity ``mapInPandas`` task (perfbench's
``spark.task_fixed_ms``) was ~250 ms with the re-reads and is ~55 ms
without. 3.13 made the method lazy.

The guard keeps, on each importer, the archive's ``(st_mtime_ns,
st_size, st_ino)`` as it was when that importer last read it, and skips
the re-read while the archive still has that signature. A replaced
archive changes its signature and is re-read; an archive that cannot be
stat'ed goes to the original method. ``install()`` is idempotent.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_SIG = "_tileigi_archive_sig"
_MARK = "_tileigi_zipguard"


def _signature(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _reader_sig(files):
    """The signature a stamped importer read this very directory at."""
    for finder in list(sys.path_importer_cache.values()):
        if getattr(finder, "_files", None) is files:
            sig = getattr(finder, _SIG, None)
            if sig is not None:
                return sig
    return None


def _guard_init(init):
    @functools.wraps(init)
    def __init__(self, path):
        # A directory read here is stamped with the signature taken
        # before the read, so an archive replaced mid-read is re-read at
        # the next invalidate_caches. One taken from zipimport's shared
        # cache (a package directory inside the archive, say) gets the
        # stamp of the importer that read it, or none.
        try:
            sig = _signature(path)
        except (OSError, TypeError, ValueError):
            sig = None
        cached = zipimport._zip_directory_cache.get(path)
        init(self, path)
        if sig is None or self._files is cached:
            sig = _reader_sig(self._files)
        if sig is not None:
            setattr(self, _SIG, sig)
    return __init__


def _guard_invalidate(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self):
        try:
            sig = _signature(self.archive)
        except OSError:
            self.__dict__.pop(_SIG, None)
            return invalidate(self)
        if getattr(self, _SIG, None) != sig:
            invalidate(self)
            setattr(self, _SIG, sig)
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.__init__`` and ``invalidate_caches`` once per
    process; a no-op on Python >= 3.13 and when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls, _MARK, False):
        return
    cls.__init__ = _guard_init(cls.__init__)
    cls.invalidate_caches = _guard_invalidate(cls.invalidate_caches)
    setattr(cls, _MARK, True)
