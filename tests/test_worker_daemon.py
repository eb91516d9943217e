"""The worker daemon: its zip-directory guard reads unchanged archives once
and still picks up changed or newly shipped ones; workers fork from a frozen
heap that already holds the libraries, and import the driver's package;
frames built from driver-side rows run no RDD task (no second daemon)."""

from __future__ import annotations

import collections
import importlib
import json
import os
import subprocess
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


def test_session_workers_fork_from_a_frozen_preimported_heap(spark):
    def probe(_):
        import gc
        import sys
        import weakref

        tracked = gc.get_objects()  # every generation but the permanent one
        frozen = {
            name: name in sys.modules and not any(o is sys.modules[name] for o in tracked)
            for name in ("numpy", "pyarrow", "pandas")
        }
        del tracked

        class Node:
            pass

        a, b = Node(), Node()
        a.peer, b.peer = b, a
        ref = weakref.ref(a)
        del a, b
        in_cycle = ref() is not None
        gc.collect()
        return gc.get_freeze_count(), frozen, in_cycle, ref() is None

    def arrow_probe(batches):
        import json

        import pyarrow as pa

        for rb in batches:
            probes = [json.dumps(probe(i)) for i in rb.column(0).to_pylist()]
            yield pa.RecordBatch.from_pydict({"probe": probes})

    # both task kinds a session runs: RDD `map` tasks and the SQL Arrow
    # tasks every library operator uses (mapInArrow, here over a Range)
    results = spark.sparkContext.parallelize(range(8), 4).map(probe).collect()
    arrow = spark.range(8, numPartitions=4).mapInArrow(arrow_probe, "probe string")
    results += [json.loads(r["probe"]) for r in arrow.collect()]
    assert len(results) == 16
    for freeze_count, frozen, in_cycle, reclaimed in results:
        assert freeze_count > 0
        # imported by the daemon before the freeze, not by the task
        assert frozen == {"numpy": True, "pyarrow": True, "pandas": True}
        # garbage made during a task is still collected
        assert in_cycle and reclaimed


_DECOY_DAEMON = """\
from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
"""

_DRIVER = """\
import json

import cms_topn_spark
from cms_topn_spark.spark_session import get_spark

spark = get_spark("decoy_cwd", cpus=2, shuffle_partitions=2)


def where(_):
    import cms_topn_spark

    return cms_topn_spark.__file__


files = spark.sparkContext.parallelize(range(4), 2).map(where).collect()
spark.stop()
print(json.dumps({"driver": cms_topn_spark.__file__, "workers": sorted(set(files))}))
"""


def test_workers_import_the_drivers_package_not_the_working_directorys(tmp_path):
    work = tmp_path / "work"
    decoy = work / "cms_topn_spark"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    (decoy / "worker_daemon.py").write_text(_DECOY_DAEMON)
    script = tmp_path / "driver.py"  # outside `work`, so the driver imports the real package
    script.write_text(_DRIVER)
    root = os.path.dirname(os.path.dirname(worker_daemon.__file__))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEMORY="1g",
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=work,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["driver"] == os.path.join(root, "cms_topn_spark", "__init__.py")
    assert result["workers"] == [result["driver"]]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 2.5, "a", b"x", [1.0, 2.0]), (None, None, None, None, None)],
         "a long, b double, c string, d binary, e array<double>"),
        ([], "a_id long, b_id long"),
    ],
)
def test_local_frame_matches_create_data_frame_without_an_rdd(spark, rows, schema):
    from cms_topn_spark.spark_session import local_frame

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a LocalRelation runs no Python task, so no RDD worker daemon starts
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
