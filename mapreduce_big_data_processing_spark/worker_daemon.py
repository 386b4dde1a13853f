"""Python worker daemon: pyspark's daemon, minus a per-task archive re-read.

Every Python task calls ``importlib.invalidate_caches()`` before it runs,
and on Python 3.11 each ``zipimporter`` answers by re-reading its whole
archive directory — for Spark 4.1's ``pyspark.zip`` (3.5 MB, 1.3k
entries) about 0.2 s per task on a 4-vCPU VM. The wrapper below re-reads
an archive only when its ``(st_mtime_ns, st_size)`` changed, so a
rewritten archive is still picked up. Workers fork from this daemon and
inherit the wrapper. Selected by ``spark.python.daemon.module`` (see
``session.get_session``).
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_seen: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or _seen.get(self.archive) != stamp:
        # stamp first: a write that races the read is re-read next call
        _seen[self.archive] = stamp
        _reread(self)
    else:
        # unchanged; adopt the directory another importer may have re-read
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; archives already imported
    from count as read at their current stamp."""
    for path in list(zipimport._zip_directory_cache):
        _seen.setdefault(path, _stamp(path))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
