"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``). On Python
3.11 and 3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory: 16 importers over the 1328-entry ``pyspark.zip``, measured
at ~0.25 core-seconds of fixed cost per Python task on a 4-core host.

``install()`` wraps ``zipimporter.invalidate_caches`` so that it calls
the interpreter's own method only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp the importer
last loaded, or when the archive cannot be stat'ed. Importers of one
archive share the newest read, as the interpreter's own
``_zip_directory_cache`` does, so a changed archive is read once, not
once per importer. The package installs it on import, which reaches
every worker that unpickles an engine function.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = None  # the interpreter's own method, kept by install()
# archive path -> stamp taken just before its newest directory read
_read_at: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:  # the interpreter's own missing-archive handling
        _read_at.pop(self.archive, None)
        self._loaded_stamp = None
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    if getattr(self, "_loaded_stamp", None) == stamp:
        return
    shared = zipimport._zip_directory_cache.get(self.archive)
    if _read_at.get(self.archive) == stamp and shared is not None:
        self._files = shared  # a sibling importer read it at this stamp
    else:
        _reread(self)
        _read_at[self.archive] = stamp
    self._loaded_stamp = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per interpreter and
    stamp the zip importers that already exist (one read per archive)."""
    global _reread
    current = zipimport.zipimporter.invalidate_caches
    if current.__module__ == __name__:
        return
    _reread = current
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
