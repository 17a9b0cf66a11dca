"""pyspark's Python worker daemon, with zip imports that re-read an
archive only when it has changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On CPython below 3.13 each ``zipimporter`` then re-reads its
archive's whole directory; a reused worker holds 16 of them over
``pyspark.zip`` (1,328 entries), and spent about 0.14 s CPU per task on
it.  CPython 3.13 re-reads lazily and is left alone.  ``session.get_spark``
names this module ``spark.python.daemon.module``, so every worker the
daemon forks inherits the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches) -> None:
    """``zipimporter.invalidate_caches`` that reuses the cached directory
    while the archive's stamp matches the one taken before its last read."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _read_stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
