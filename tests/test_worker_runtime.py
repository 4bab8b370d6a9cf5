"""The zip directory re-read guard (duckdb_routing_spark/worker_runtime.py):
unit checks against a throwaway archive on sys.path, plus a Spark check that
the Python workers answering routing SQL run their tasks with it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from duckdb_routing_spark import worker_runtime
from duckdb_routing_spark.routing.engine import RoutingEngine
from duckdb_routing_spark.testing import BASE_LAT, BASE_LON, SPACING_DEG, build_grid_graph

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zip directories lazily"
)


@pytest.fixture
def fresh_guard(monkeypatch):
    """Unguarded zipimporter for the test; the process-wide guard and its
    stamps come back afterwards."""
    method = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", getattr(method, "__wrapped__", method))
    monkeypatch.setattr(worker_runtime, "_last_read", {})


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    original = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding a package, imported so that two importers
    (archive root and package) share it, as pyspark.zip's do in a worker."""
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, {"zguard_pkg/__init__.py": "", "zguard_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zguard_pkg.a")
    yield path
    for name in ("zguard_pkg", "zguard_pkg.a", "zguard_pkg.b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    sys.path_importer_cache.pop(os.path.join(path, "zguard_pkg"), None)


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(fresh_guard, archive, reads):
    assert worker_runtime.install_zip_cache_guard()
    importlib.invalidate_caches()  # first call after install stamps it
    assert reads.count(archive) == 1  # one read serves both importers
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module("zguard_pkg.a").X == 1


@needs_eager_zipimport
@pytest.mark.parametrize("change", ["size", "mtime", "inode"])
def test_rewritten_archive_is_reread(fresh_guard, archive, reads, change):
    worker_runtime.install_zip_cache_guard()
    importlib.invalidate_caches()
    st = os.stat(archive)
    modules = {"zguard_pkg/__init__.py": "", "zguard_pkg/a.py": "X = 1\n"}
    if change == "size":
        modules["zguard_pkg/b.py"] = "Y = 2\n"
        _write_zip(archive, modules)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    elif change == "mtime":
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    else:
        _write_zip(archive + ".new", modules)
        os.utime(archive + ".new", ns=(st.st_atime_ns, st.st_mtime_ns))
        os.replace(archive + ".new", archive)
    new = os.stat(archive)
    changed = {
        "size": new.st_size != st.st_size,
        "mtime": new.st_mtime_ns != st.st_mtime_ns,
        "inode": new.st_ino != st.st_ino,
    }
    assert [k for k, v in changed.items() if v] == [change]
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    if change == "size":
        assert importlib.import_module("zguard_pkg.b").Y == 2
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


@needs_eager_zipimport
def test_removed_archive_drops_its_stamp(fresh_guard, archive, reads):
    worker_runtime.install_zip_cache_guard()
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in worker_runtime._last_read
    assert archive not in zipimport._zip_directory_cache


@needs_eager_zipimport
def test_install_twice_is_a_noop(fresh_guard):
    assert not worker_runtime.guard_installed()
    assert worker_runtime.install_zip_cache_guard() is True
    method = zipimport.zipimporter.invalidate_caches
    assert worker_runtime.guard_installed()
    assert worker_runtime.install_zip_cache_guard() is False
    assert zipimport.zipimporter.invalidate_caches is method


def test_nothing_patched_on_312(fresh_guard, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    method = zipimport.zipimporter.invalidate_caches
    assert worker_runtime.install_zip_cache_guard() is False
    assert zipimport.zipimporter.invalidate_caches is method
    assert not worker_runtime.guard_installed()


@needs_eager_zipimport
def test_package_import_installs_guard():
    assert worker_runtime.guard_installed()


@needs_eager_zipimport
def test_reused_routing_worker_runs_tasks_guarded(spark):
    """Consecutive one-row travel_time actions: every worker answering one
    has the guard (unpickling the engine UDF imports the package), and a
    worker answering again ran that task's setup through it."""
    eng = RoutingEngine(spark)
    eng.load_graph(build_grid_graph("auto"), "auto")
    eng.register()

    @F.pandas_udf("string")
    def worker_state(s):
        # no package import here: report what the travel_time UDF installed
        import os
        import sys
        import zipimport

        guarded = getattr(zipimport.zipimporter.invalidate_caches, "_zip_directory_stamp_guard", False)
        wr = sys.modules.get("duckdb_routing_spark.worker_runtime")
        stamped = bool(wr is not None and wr._last_read)
        zips = sum(1 for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter))
        return s.map(lambda _: f"{os.getpid()} {int(guarded)} {int(stamped)} {zips}")

    lat2, lon2 = BASE_LAT, BASE_LON + 5 * SPACING_DEG
    seen, repeats = set(), 0
    for _ in range(40):
        row = spark.range(1, numPartitions=1).select(
            F.expr(f"travel_time({BASE_LAT}, {BASE_LON}, {lat2}, {lon2}, 'auto')").alias("s"),
            worker_state(F.col("id").cast("string")).alias("w"),
        ).first()
        assert row.s is not None and row.s > 0
        pid, guarded, stamped, zips = row.w.split()
        assert guarded == "1"
        if pid in seen:
            repeats += 1
            assert stamped == "1" or zips == "0"
        seen.add(pid)
        if repeats >= 2:
            break
    assert repeats >= 2, f"no worker answered twice in 40 actions ({len(seen)} workers)"
