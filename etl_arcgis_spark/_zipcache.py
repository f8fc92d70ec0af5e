"""Re-read a zip archive's directory only when the archive has changed.

Before every Python task and every data-source planner call, pyspark's
worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 that
calls ``zipimport.zipimporter.invalidate_caches`` on every cached zip
importer, and each call re-parses the whole central directory of its
archive. A Spark 4.1 worker holds 16-17 such importers, most of them on
``pyspark.zip`` and two each on the spark-core jar and py4j. That is
about 26,700 directory entries parsed per task, 0.15-0.3 s before the
task's own code starts.

``install()`` replaces that method with the staleness rule that
``FileFinder`` applies to directories. An archive's directory is read
again only when the archive's ``(st_mtime_ns, st_size, st_ino)``
differs from its value at this process's last read, and all importers
of one archive share that one read. CPython 3.13 made the method lazy
for the same reason, so nothing is installed there.

The package imports this module, and Spark workers import the package
when they unpickle the engine's data sources, readers, writers and UDF
helpers. So a reused worker keeps the rule for its lifetime.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> its (st_mtime_ns, st_size, st_ino) when its directory
# was last read into zipimport._zip_directory_cache
_read_at: dict[str, tuple[int, int, int]] = {}


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read(archive: str, sig: tuple[int, int, int] | None) -> dict:
    """Read ``archive``'s directory into the shared cache and return it.

    ``sig`` is the archive's signature taken before the read, so an
    archive that changes during the read is read again next time. An
    unreadable archive gets an empty directory, as in
    ``zipimporter.invalidate_caches``.
    """
    _read_at.pop(archive, None)
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        return {}
    zipimport._zip_directory_cache[archive] = files
    if sig is not None:
        _read_at[archive] = sig
    return files


def invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed
    since this process last read it."""
    files = zipimport._zip_directory_cache.get(self.archive)
    sig = _signature(self.archive)
    if files is None or sig is None or _read_at.get(self.archive) != sig:
        files = _read(self.archive, sig)
    self._files = files


def install() -> None:
    """Install the rule once, on CPython < 3.13.

    Archives already cached are read once here, so that from now on a
    directory is parsed only when its archive changes.
    """
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        _read(archive, _signature(archive))
    zipimport.zipimporter.invalidate_caches = invalidate_caches
