"""Python worker daemon for ``get_spark`` sessions: ``pyspark.daemon``
with a zip-archive directory cache keyed on each archive's stat.

Before every task a reused worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's central directory; a
worker holds 16 of them over ``pyspark.zip`` (1,328 entries) and the
py4j zip, which cost 0.16-0.32 s of worker CPU per task on a 4-CPU VM.
Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed since the last read or cannot be stat'ed. Forked workers
inherit the patch and the cache.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}  # archive -> stat key of its cached directory


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and cached is not None and _read_at.get(self.archive) == key:
        self._files = cached
    else:
        _reread(self)
        _read_at[self.archive] = key


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before workers fork
    daemon.manager()
