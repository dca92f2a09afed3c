"""The worker daemon's zip-importer patch: unchanged archives are not
re-read, changed ones are, and Spark workers run under it."""

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from poppy_spark.spark import worker_daemon

needs_zip_rescan = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches is lazy from Python 3.12 on",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores the stock
    method afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert worker_daemon.patch_zipimport()


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` holding one module; yields
    ``(archive path, module names)`` and unloads the modules afterwards."""
    tag = uuid.uuid4().hex[:8]
    names = [f"zipmod_a_{tag}", f"zipmod_b_{tag}"]
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {names[0]: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield str(archive), names
    for n in names:
        sys.modules.pop(n, None)
    sys.path_importer_cache.pop(str(archive), None)


@needs_zip_rescan
def test_unchanged_archive_is_not_reread(patched, zip_on_path, monkeypatch):
    _, names = zip_on_path
    assert importlib.import_module(names[0]).VALUE == 1
    importlib.invalidate_caches()  # first call reads and records the stat

    reads = []
    stock = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []


@needs_zip_rescan
def test_rewritten_archive_is_reread(patched, zip_on_path):
    archive, names = zip_on_path
    assert importlib.import_module(names[0]).VALUE == 1
    importlib.invalidate_caches()
    # same path and inode, new directory with an added module
    _write_zip(archive, {names[0]: "VALUE = 1\n", names[1]: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(names[1]).VALUE == 2


@pytest.mark.skipif(sys.version_info < (3, 12), reason="patched before 3.12")
def test_no_patch_from_python_312():
    stock = zipimport.zipimporter.invalidate_caches
    assert not worker_daemon.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_spark_workers_run_under_the_daemon(spark, tmp_path):
    """Through ``get_spark``: a mapInArrow task sees the patched method, and
    a module shipped with ``addPyFile`` imports inside a UDF."""
    import pyarrow as pa

    name = f"shipped_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        yield pa.record_batch(
            {
                "patched": [
                    getattr(zipimport.zipimporter.invalidate_caches, "_poppy_patched", False)
                ],
                "shipped": [importlib.import_module(name).VALUE],
            }
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(probe, "patched boolean, shipped long")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.patched == (sys.version_info < (3, 12)) for r in rows)
    assert all(r.shipped == 42 for r in rows)
