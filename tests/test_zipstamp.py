"""Stamp-checked zipimport invalidation (``_zipstamp``): an unchanged
archive is not re-read by ``invalidate_caches``, a changed or deleted one
behaves as the eager re-read does, and the patch reaches Spark's Python
workers through the package import."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import relation_extraction_cdr_spark

pytestmark = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="zipimporter.invalidate_caches re-reads eagerly only on 3.10-3.12",
)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"alpha.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(path))
    imp.invalidate_caches()  # the first read through the patch stamps it
    del reads[:]
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == []
    assert imp.find_spec("alpha") is not None


def test_rewritten_archive_is_reread_once_for_all_its_importers(tmp_path, reads):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"alpha.py": "X = 1\n", "pkg/__init__.py": ""})
    root = zipimport.zipimporter(str(path))
    sub = zipimport.zipimporter(str(path / "pkg"))
    root.invalidate_caches()
    sub.invalidate_caches()
    assert root.find_spec("beta") is None
    _write_zip(
        path, {"alpha.py": "X = 1\n", "beta.py": "Y = 2\n", "pkg/__init__.py": "",
               "pkg/gamma.py": "Z = 3\n"},
    )
    del reads[:]
    root.invalidate_caches()
    sub.invalidate_caches()
    assert reads == [str(path)]
    assert root.find_spec("beta") is not None
    assert sub.find_spec("gamma") is not None


def test_deleted_archive_behaves_as_eager(tmp_path, reads):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"alpha.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(path))
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()
    assert imp.find_spec("alpha") is None
    assert str(path) not in zipimport._zip_directory_cache
    # recreated under the same name: read again, found again
    _write_zip(path, {"alpha.py": "X = 1\n"})
    del reads[:]
    imp.invalidate_caches()
    assert reads == [str(path)]
    assert imp.find_spec("alpha") is not None


def test_package_import_patches_once():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.stamp_checked
    importlib.reload(relation_extraction_cdr_spark)
    assert zipimport.zipimporter.invalidate_caches is installed


def test_warm_worker_rereads_no_unchanged_archive(spark, tmp_path):
    """On a worker that has imported the engine, the invalidate_caches
    every task starts with reads no archive; a zip added with addPyFile
    after the workers are warm is still imported there."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        warm = "relation_extraction_cdr_spark" in sys.modules
        import relation_extraction_cdr_spark  # noqa: F401  installs the patch

        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"pid": [os.getpid()], "warm": [warm], "importers": [importers],
             "reads": [len(seen)]}
        )

    schema = "pid long, warm boolean, importers long, reads long"
    jobs = [spark.range(4, numPartitions=4).mapInPandas(probe, schema).collect()
            for _ in range(2)]
    if not any(r.importers for r in jobs[1]):
        pytest.skip("the Python workers import nothing from a zip archive")
    warm = [r for r in jobs[1] if r.warm]
    assert warm, "no task of the second job ran on a reused worker"
    assert [r.reads for r in warm] == [0] * len(warm)

    mod = f"cdr_pyfile_probe_{os.getpid()}"
    path = tmp_path / f"{mod}.zip"
    _write_zip(path, {f"{mod}.py": "VALUE = 7\n"})
    spark.sparkContext.addPyFile(str(path))

    def use_pyfile(batches):
        import importlib
        import sys

        warm = "relation_extraction_cdr_spark" in sys.modules
        value = importlib.import_module(mod).VALUE
        for _ in batches:
            pass
        yield pd.DataFrame({"warm": [warm], "value": [value]})

    rows = spark.range(4, numPartitions=4).mapInPandas(
        use_pyfile, "warm boolean, value long"
    ).collect()
    assert any(r.warm for r in rows)
    assert {r.value for r in rows} == {7}
