"""The worker daemon's zip-directory guard: unchanged archives are read once,
changed or newly shipped ones are still picked up."""

from __future__ import annotations

import collections
import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from cms_topn_spark import worker_daemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path``, removed with its importer afterwards."""
    archive = str(tmp_path / "mods.zip")
    prefix = f"zguard_{uuid.uuid4().hex[:8]}"
    monkeypatch.syspath_prepend(archive)
    yield archive, prefix
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(archive, None)


def test_guard_rereads_an_archive_only_when_it_changes(zip_on_path, monkeypatch):
    archive, prefix = zip_on_path
    _write_zip(archive, [f"{prefix}_a"])
    assert importlib.import_module(f"{prefix}_a").NAME == f"{prefix}_a"

    reads = collections.Counter()
    original = zipimport.zipimporter.invalidate_caches

    def spy(self):
        reads[id(self)] += 1
        original(self)

    # monkeypatch restores the original method after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", spy)
    worker_daemon.install()
    ours = sys.path_importer_cache[archive]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads[id(ours)] == 1
    assert max(reads.values()) == 1  # every importer read at most once

    st = os.stat(archive)
    _write_zip(archive, [f"{prefix}_a", f"{prefix}_b"])
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads[id(ours)] == 2
    assert importlib.import_module(f"{prefix}_b").NAME == f"{prefix}_b"


def test_guard_rereads_when_the_archive_is_gone(zip_on_path, monkeypatch):
    archive, prefix = zip_on_path
    _write_zip(archive, [f"{prefix}_a"])
    importlib.import_module(f"{prefix}_a")
    reads = []
    original = zipimport.zipimporter.invalidate_caches

    def spy(self):
        reads.append(self.archive)
        original(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", spy)
    worker_daemon.install()
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # no stat to compare against, so the original runs every time
    assert reads.count(archive) == 2


def test_session_workers_run_the_guard_and_import_late_py_files(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "cms_topn_spark.worker_daemon"

    def guard_name(_):
        return zipimport.zipimporter.invalidate_caches.__qualname__

    # warm-up job: the workers exist and have cached pyspark.zip's directory
    assert set(sc.parallelize(range(8), 4).map(guard_name).collect()) == {
        worker_daemon.install.__qualname__ + ".<locals>.invalidate_caches"
    }
    for _ in range(2):
        name = f"late_{uuid.uuid4().hex[:8]}"
        archive = str(tmp_path / f"{name}.zip")
        _write_zip(archive, [name])
        sc.addPyFile(archive)

        def probe(_, name=name):
            return importlib.import_module(name).NAME

        assert set(sc.parallelize(range(8), 4).map(probe).collect()) == {name}
