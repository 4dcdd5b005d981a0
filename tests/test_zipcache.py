"""Stat-checked zip importers (``html_parser_spark.zipcache``): an
unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is, and every Python worker has them installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from html_parser_spark import zipcache


@pytest.fixture
def import_state(monkeypatch):
    """Snapshot the import system, start from plain ``zipimporter``
    hooks (importing the package already installed ours), restore
    afterwards. Yields a list that collects the archive of every
    ``zipimport._read_directory`` call."""
    saved = (list(sys.path), list(sys.path_hooks),
             dict(sys.path_importer_cache))
    sys.path_hooks[:] = [zipimport.zipimporter
                         if h is zipcache.StatCheckedZipImporter else h
                         for h in sys.path_hooks]
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        yield reads
    finally:
        sys.path[:], sys.path_hooks[:] = saved[0], saved[1]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved[2])


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_not_reread(tmp_path, import_state):
    reads = import_state
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        import zc_mod_a
        assert zc_mod_a.X == 1
        plain = sys.path_importer_cache[archive]
        assert type(plain) is zipimport.zipimporter

        zipcache.install()
        assert sys.path_importer_cache[archive] is plain
        assert type(plain) is zipcache.StatCheckedZipImporter
        assert zc_mod_a.__loader__ is plain
        assert zipimport.zipimporter not in sys.path_hooks
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []

        # a rewrite changes the size: the next invalidate re-reads it
        _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import zc_mod_b
        assert zc_mod_b.Y == 2
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []

        # a second install wraps nothing twice
        hooks = list(sys.path_hooks)
        zipcache.install()
        assert sys.path_hooks == hooks
        assert hooks.count(zipcache.StatCheckedZipImporter) == 1
        assert type(sys.path_importer_cache[archive]) is \
            zipcache.StatCheckedZipImporter
        importlib.invalidate_caches()
        assert reads == []
    finally:
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_importer_created_after_install(tmp_path, import_state):
    """The path hook builds the subclass for archives put on the path
    after install; a failed stat falls back to the base re-read."""
    reads = import_state
    zipcache.install()
    archive = str(tmp_path / "late.zip")
    _write_zip(archive, {"zc_mod_late": "Z = 3\n"})
    sys.path.insert(0, archive)
    try:
        import zc_mod_late
        assert zc_mod_late.Z == 3
        imp = sys.path_importer_cache[archive]
        assert type(imp) is zipcache.StatCheckedZipImporter
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []

        (tmp_path / "late.zip").unlink()
        importlib.invalidate_caches()
        assert reads == [archive]
        assert imp._files == {}
    finally:
        sys.modules.pop("zc_mod_late", None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_zip_importers_stat_checked(spark):
    """Inside a Python task every zip importer on the worker's path
    (pyspark.zip, py4j, the spark-core jar) is stat-checked, so the
    per-task ``invalidate_caches()`` re-reads no archive."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from html_parser_spark.zipcache import StatCheckedZipImporter

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [type(f) for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "n_zip": [len(zips)],
            "n_checked": [zips.count(StatCheckedZipImporter)],
            "n_reads": [len(reads)],
        })

    rows = (spark.range(8, numPartitions=4)
            .mapInArrow(probe, "n_zip long, n_checked long, n_reads long")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.n_zip > 0
        assert r.n_checked == r.n_zip
        assert r.n_reads == 0
