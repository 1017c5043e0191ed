"""Skip zip-archive directory re-reads when the archive is unchanged.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). Below Python
3.12, `zipimport.zipimporter.invalidate_caches` eagerly re-reads the
archive's whole central directory, once per importer, and a worker
holds one importer per package directory it imported from a zip (16
for `pyspark.zip`'s 1,328 entries). That is ~0.3 s of Python CPU per
task before the task reads a row.

`install` makes the re-read conditional: every directory read records
the archive's `(st_mtime_ns, st_size)`, taken before the read, next to
the directory it produced, and an invalidation that finds the same
stamp and the same cached directory adopts it instead of reading
again. An archive rewritten in place changes its stamp and is re-read;
a zip added to `sys.path` later gets a new importer, which reads it as
before. A directory read before `install` ran has no stamp, so the
archive's next invalidation still reads it once (and stamps it).
Python 3.12 made the re-read lazy, so there `install` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stamp before the read, directory dict it produced);
#: process-wide, like zipimport's own `_zip_directory_cache`
_stamped: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch `zipimport` once per interpreter (idempotent)."""
    cls = zipimport.zipimporter
    eager = getattr(cls, "invalidate_caches", None)
    if (
        sys.version_info >= (3, 12)
        or eager is None
        or getattr(eager, "_stamped", False)
    ):
        return
    read_directory = zipimport._read_directory

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _stamped[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        seen = _stamped.get(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        # adopt only the very directory the stamp was taken for: a later
        # read without a stamp, or a racing one, replaced it in the cache
        if (
            seen is not None
            and files is seen[1]
            and seen[0] == _stamp(self.archive)
        ):
            self._files = files
            return
        eager(self)

    invalidate_caches._stamped = True
    # the eager method and zipimporter.__init__ look the reader up in
    # the module globals, so both now stamp what they read
    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
