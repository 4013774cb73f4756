"""rdfa_spark._worker: the stat-guarded zipimport invalidation that
stops every PySpark task re-reading each archive on sys.path."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from rdfa_spark import _worker

PKG = "zguard_probe_pkg"


def _write_zip(path, modules, mtime):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        for name in modules:
            z.writestr(f"{PKG}/{name}.py", f"NAME = {name!r}\n")
    os.utime(path, ns=(mtime, mtime))


@pytest.fixture
def guarded(monkeypatch, tmp_path):
    """A two-module archive on sys.path, the guard patched onto
    ``zipimporter`` and every ``_read_directory`` call of that archive
    counted."""
    arch = str(tmp_path / "probe.zip")
    _write_zip(arch, ["a"], 1_600_000_000 * 10**9)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == arch:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker.guarded_invalidate_caches)
    monkeypatch.setattr(_worker, "_STAMPS", {})
    monkeypatch.syspath_prepend(arch)
    importlib.import_module(f"{PKG}.a")
    reads.clear()
    yield arch, reads
    for name in [m for m in sys.modules
                 if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache
                if k.startswith(arch)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(arch, None)


def _importers(arch):
    return [imp for key, imp in sys.path_importer_cache.items()
            if key.startswith(arch)
            and isinstance(imp, zipimport.zipimporter)]


def test_unchanged_archive_is_not_reread(guarded):
    arch, reads = guarded
    # the path entry and the package's __path__ entry
    assert len(_importers(arch)) == 2
    importlib.invalidate_caches()          # first sight: read + stamp
    assert len(reads) == 1
    reads.clear()
    for _ in range(25):
        importlib.invalidate_caches()
    assert reads == []
    files = zipimport._zip_directory_cache[arch]
    assert all(imp._files is files for imp in _importers(arch))


def test_rewritten_archive_reread_once_for_all_importers(guarded):
    arch, reads = guarded
    importlib.invalidate_caches()
    _write_zip(arch, ["a", "b"], 1_700_000_000 * 10**9)
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    files = zipimport._zip_directory_cache[arch]
    assert all(imp._files is files for imp in _importers(arch))
    assert importlib.import_module(f"{PKG}.b").NAME == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_deleted_archive_behaves_as_stock(guarded):
    arch, reads = guarded
    importlib.invalidate_caches()
    os.remove(arch)
    importlib.invalidate_caches()          # must not raise
    assert arch not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(arch))
    assert arch not in _worker._STAMPS
    # put back: read again, importable again
    _write_zip(arch, ["a", "c"], 1_800_000_000 * 10**9)
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{PKG}.c").NAME == "c"


def test_driver_keeps_stock_method():
    import rdfa_spark  # noqa: F401
    stock = zipimport.zipimporter.invalidate_caches
    assert stock is _worker._STOCK
    assert stock.__module__ == "zipimport"
    assert _worker.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ zipimport invalidation is lazy")
def test_install_inside_a_task_is_idempotent(monkeypatch):
    from pyspark.taskcontext import TaskContext
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _worker._STOCK)
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    assert _worker.install() is True
    assert _worker.install() is True
    assert (zipimport.zipimporter.invalidate_caches
            is _worker.guarded_invalidate_caches)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ zipimport invalidation is lazy")
def test_guard_installed_in_workers(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        import rdfa_spark._worker as w
        guarded = (zipimport.zipimporter.invalidate_caches
                   is w.guarded_invalidate_caches)
        for rb in batches:
            yield pa.RecordBatch.from_pydict(
                {"guarded": [guarded] * rb.num_rows},
                schema=pa.schema([("guarded", pa.bool_())]))

    rows = spark.range(0, 16, 1, 8) \
                .mapInArrow(probe, "guarded boolean").collect()
    assert len(rows) == 16
    assert all(r.guarded for r in rows)
