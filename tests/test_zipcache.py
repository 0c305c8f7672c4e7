"""ksoup_spark._zipcache: zip directories survive importlib.invalidate_caches()
while the archive is unchanged on disk, and are re-read when it changes."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ksoup_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zipimport caches lazily; no patch")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


_MODULES = {
    "zcpkg/__init__.py": "",
    "zcpkg/sub/__init__.py": "",
    "zcpkg/sub/mod.py": "VALUE = 1\n",
}


@pytest.fixture
def zpkg(tmp_path, monkeypatch):
    """A zip holding zcpkg and zcpkg.sub on sys.path, imported from; yields
    (archive path, list that records each directory read of it)."""
    path = str(tmp_path / "zc.zip")
    _write_zip(path, _MODULES)
    monkeypatch.syspath_prepend(path)
    for name in [m for m in sys.modules if m.split(".")[0] == "zcpkg"]:
        monkeypatch.delitem(sys.modules, name)
    importlib.import_module("zcpkg.sub.mod")
    importers = [imp for imp in sys.path_importer_cache.values()
                 if isinstance(imp, zipimport.zipimporter)
                 and imp.archive == path]
    assert len(importers) >= 2  # the archive root, zcpkg/ and zcpkg/sub/
    # the first invalidate_caches stamps the archive: one read, shared by
    # every importer of it
    importlib.invalidate_caches()
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zcpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zpkg):
    path, reads = zpkg
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zcpkg.sub.mod").VALUE == 1


def test_rewritten_archive_is_reread_once(zpkg):
    path, reads = zpkg
    _write_zip(path, {**_MODULES, "zcpkg/added.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    # one read refreshes the shared directory for every importer of the zip
    assert reads == [path]
    assert importlib.import_module("zcpkg.added").VALUE == 2
    importlib.invalidate_caches()
    assert reads == [path]


def test_replaced_archive_with_same_size_and_mtime_is_reread(zpkg, tmp_path):
    # a new file under the old name: only the inode tells the two apart
    path, reads = zpkg
    st = os.stat(path)
    new = str(tmp_path / "new.zip")
    _write_zip(new, {**_MODULES, "zcpkg/sub/mod.py": "VALUE = 3\n"})
    assert os.stat(new).st_size == st.st_size
    os.utime(new, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(new, path)
    importlib.invalidate_caches()
    assert reads == [path]


def test_install_is_a_no_op_from_cpython_3_12(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipcache._INVALIDATE_CACHES)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._INVALIDATE_CACHES


def test_spark_worker_that_imports_ksoup_spark_keeps_zip_directories(spark):
    """A Python worker that imported ksoup_spark reports the wrapped method,
    and its second invalidate_caches reads no zip directory."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import zipimport

        import ksoup_spark  # noqa: F401

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        importlib.invalidate_caches()  # stamps archives read before install
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "method": [f"{method.__module__}.{method.__qualname__}"],
            "reads": [len(reads)],
        })

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "method string, reads long").first()
    assert row["method"] == "ksoup_spark._zipcache._invalidate_caches"
    assert row["reads"] == 0
