"""The Python-worker zip stat guard (bitfunnel_spark/_worker.py).

The first half is Spark-free: it checks the guard's contract on a zip
archive built in tmp_path. The last test runs on the session and checks
that engine imports install the guard inside workers and nowhere else."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from bitfunnel_spark import _worker


@pytest.fixture
def unpatched():
    """Leave zipimporter as it was found, so the pytest process is never
    left patched by a test that installs the guard."""
    original = zipimport.zipimporter.invalidate_caches
    yield original
    zipimport.zipimporter.invalidate_caches = original
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            finder.__dict__.pop("_archive_stamp", None)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("bf_guard_probe.py", f"VALUE = {value!r}\n")


@pytest.fixture
def probe_zip(tmp_path, monkeypatch, unpatched):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, 1)
    monkeypatch.syspath_prepend(path)
    sys.modules.pop("bf_guard_probe", None)
    import bf_guard_probe

    assert bf_guard_probe.VALUE == 1
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    yield path
    sys.modules.pop("bf_guard_probe", None)
    sys.path_importer_cache.pop(path, None)


def _count_reads(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(probe_zip, monkeypatch):
    assert _worker.install_zip_stat_guard()
    importlib.invalidate_caches()  # each importer's first call reads and stamps
    files = sys.path_importer_cache[probe_zip]._files
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []
    assert sys.path_importer_cache[probe_zip]._files is files


def test_rewritten_archive_is_reread(probe_zip, monkeypatch):
    _worker.install_zip_stat_guard()
    importlib.invalidate_caches()
    _write_zip(probe_zip, "a longer value than before")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert probe_zip in reads
    sys.modules.pop("bf_guard_probe")
    import bf_guard_probe

    assert bf_guard_probe.VALUE == "a longer value than before"


def test_deleted_archive_does_not_raise(probe_zip):
    _worker.install_zip_stat_guard()
    importlib.invalidate_caches()
    os.remove(probe_zip)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert sys.path_importer_cache[probe_zip]._files == {}


def test_install_twice_wraps_once(unpatched):
    assert _worker.install_zip_stat_guard()
    assert not _worker.install_zip_stat_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._stat_guarded
    assert guarded.__wrapped__ is unpatched


def test_driver_is_not_patched(unpatched):
    assert not _worker.install_in_worker()
    assert zipimport.zipimporter.invalidate_caches is unpatched


def test_engine_import_installs_guard_in_workers(spark):
    def probe(_):
        import importlib
        import os
        import sys
        import zipimport

        before = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        import bitfunnel_spark  # noqa: F401  (what unpickling an engine UDF does)

        installed = getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
        importlib.invalidate_caches()  # stamps importers this worker has not stamped yet

        def zips():
            return [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]

        dirs = [(f, f._files) for f in zips()]
        importlib.invalidate_caches()
        kept = all(f._files is files for f, files in dirs)
        yield os.getpid(), before, installed, len(dirs), kept

    sc = spark.sparkContext
    n = sc.defaultParallelism
    first = sc.parallelize(range(n), n).mapPartitions(probe).collect()
    second = sc.parallelize(range(n), n).mapPartitions(probe).collect()
    for _pid, _before, installed, _n_zips, kept in first + second:
        assert installed
        # a worker with no zipimporter on its path passes this vacuously
        assert kept
    # the second job ran (at least partly) on reused workers that kept the guard
    assert any(before for _pid, before, *_ in second)
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_stat_guarded", False)
