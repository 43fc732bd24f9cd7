"""PySpark worker daemon whose zip importers re-read an archive only when
it changed.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``.  CPython 3.11's ``zipimporter``
answers that by re-reading the archive's whole central directory, once
for each importer the worker holds: one per zip on ``sys.path`` and one
per package imported from it.  A worker importing pyspark from
``pyspark.zip`` (1,328 entries) holds 16-19 of them, and one
``invalidate_caches()`` then takes 130-260 ms on a 4-vCPU host (0.15 ms
with this importer), often more than the task's own pandas work.
``StatCheckedZipImporter`` re-reads only when the
archive's (inode, size, mtime_ns) differs from when this process last
read it, so a rewritten zip or a new ``addPyFile`` path still imports
fresh.

Run as the daemon module (``spark.python.daemon.module``): ``__main__``
installs the importer, then runs ``pyspark.daemon.manager()``, so every
worker the daemon forks inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) taken just before this
# process last read its directory into zipimport._zip_directory_cache
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


class StatCheckedZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != _read_stamps.get(self.archive):
            super().invalidate_caches()
            _read_stamps[self.archive] = stamp
        else:
            # another importer of the same archive may have re-read it
            self._files = zipimport._zip_directory_cache.get(self.archive,
                                                              self._files)


def _install() -> None:
    """Use the subclass for new zip paths and for every zip importer
    already cached, then read each archive once so this process (and any
    process it forks) starts with every archive stamped."""
    hooks = sys.path_hooks
    if zipimport.zipimporter in hooks:
        hooks[hooks.index(zipimport.zipimporter)] = StatCheckedZipImporter
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if (isinstance(finder, zipimport.zipimporter)
                and not isinstance(finder, StatCheckedZipImporter)):
            try:
                cache[path] = StatCheckedZipImporter(path)
            except zipimport.ZipImportError:  # archive gone: keep the old one
                pass
    for finder in list(cache.values()):
        if isinstance(finder, StatCheckedZipImporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    _install()
    from pyspark import daemon

    daemon.manager()
