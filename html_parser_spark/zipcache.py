"""Stat-checked zip importers: on ``importlib.invalidate_caches()`` an
importer of an unchanged archive costs one ``os.stat`` instead of a
directory re-read.

pyspark 4.1's worker calls ``importlib.invalidate_caches()`` before
every task. On Python 3.11 and 3.12 that makes each ``zipimporter``
in ``sys.path_importer_cache`` re-read its archive's whole central
directory at once: a Python worker holds about 16 of them (13 on
``pyspark.zip``'s 1,328 entries, 2 on the spark-core jar's 5,359, one
on py4j), 0.14-0.43 s per task on a 4-vCPU host. Python 3.13 reads
the directory again only when it is next used, so there is nothing to
fix and the package installs this only on older versions.

:func:`install` runs when ``html_parser_spark`` is imported, which is
the first engine code a worker runs, when it unpickles a UDF. A
worker's first task has already invalidated by then, so it still pays
the re-read once; every later task in that worker pays a stat per
importer. An archive whose ``(st_mtime_ns, st_size, st_ino)`` changed
is re-read as before, and a failed stat falls back to the re-read, so
errors surface as they do without this module.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(archive: str):
    """``(st_mtime_ns, st_size, st_ino)`` of ``archive``, None if the
    stat fails."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


class StatCheckedZipImporter(zipimport.zipimporter):
    """``zipimporter`` that re-reads the directory only when the
    archive's stat signature changed since the importer was created,
    installed or last re-read."""

    def __init__(self, path):
        super().__init__(path)
        self._stat_sig = _signature(self.archive)

    def invalidate_caches(self):
        sig = _signature(self.archive)
        if sig is None or sig != self._stat_sig:
            super().invalidate_caches()
            self._stat_sig = sig


def install() -> None:
    """Put :class:`StatCheckedZipImporter` in ``sys.path_hooks`` in
    place of ``zipimporter``, and switch the class of every cached
    importer whose type is exactly ``zipimporter``. Switching the class
    in place keeps each object, so the loader of every module already
    imported from a zip stays the importer that gets refreshed, and
    nothing is read again. Other finders are left alone; a second call
    finds nothing to replace."""
    sys.path_hooks[:] = [StatCheckedZipImporter
                         if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StatCheckedZipImporter
            finder._stat_sig = _signature(finder.archive)
