"""`_zipstamp`: importlib.invalidate_caches() re-reads a zip archive's
directory only when the archive changed, on the driver and in workers."""

from __future__ import annotations

import importlib
import os
import zipfile
import zipimport

import pytest

import parlerproject_spark
from parlerproject_spark import _zipstamp


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def read_count(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, read_count):
    zp = tmp_path / "mods.zip"
    _write_zip(zp, {"m_a.py": "A = 1\n", "pkg/__init__.py": ""})
    top = zipimport.zipimporter(str(zp))
    sub = zipimport.zipimporter(os.path.join(str(zp), "pkg"))
    assert len(read_count) == 1  # the constructors share one read

    # An importer never stamped reads once; its sibling shares that read.
    top.invalidate_caches()
    sub.invalidate_caches()
    assert len(read_count) == 2
    for _ in range(5):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert len(read_count) == 2

    os.remove(zp)
    _write_zip(zp, {"m_a.py": "A = 1\n", "m_b.py": "B = 2\n",
                    "pkg/__init__.py": ""})
    top.invalidate_caches()
    sub.invalidate_caches()
    assert len(read_count) == 3
    assert top.find_spec("m_b") is not None

    os.remove(zp)
    top.invalidate_caches()  # the interpreter's missing-archive path
    assert top.find_spec("m_a") is None


def test_importing_the_package_twice_wraps_once():
    importlib.reload(parlerproject_spark)
    method = zipimport.zipimporter.invalidate_caches
    assert method is _zipstamp._invalidate_if_changed
    assert _zipstamp._reread.__module__ == "zipimport"


def test_python_worker_does_not_reread_pyspark_zip(spark):
    def count_rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import parlerproject_spark  # noqa: F401

        for _ in batches:
            pass
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"rereads": [len(calls)],
                            "zipimporters": [n_zip]})

    rows = (spark.range(0, 8, numPartitions=2)
            .mapInPandas(count_rereads, "rereads long, zipimporters long")
            .collect())
    assert len(rows) == 2
    if all(r.zipimporters == 0 for r in rows):
        pytest.skip("the Python worker's sys.path_importer_cache holds no "
                    "zipimporter, so there is no archive to re-read")
    assert [r.rereads for r in rows] == [0, 0]
