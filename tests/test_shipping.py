"""The worker-side set-up (shipping.install_on_python_worker): the
zip-directory cache and the frozen import-time heap.

Unit tests drive the shim on a temp zip on ``sys.path`` without Spark, and
the freeze on a faked worker; the Spark tests check, from inside a reused
Python worker, that a task's ``importlib.invalidate_caches()`` re-reads no
archive once the package is imported, and that the task runs on a frozen
heap. None of them time anything.
"""

import gc
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from kafka_connect_oss_spark import shipping


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def eager_zipimport(monkeypatch):
    """Restore the eager zipimport functions and an empty stamp table
    afterwards, and count ``_read_directory`` calls per archive."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        shipping._EAGER_INVALIDATE)
    monkeypatch.setattr(shipping, "_ZIP_STAMPS", {})
    reads: list[str] = []
    inner = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(eager_zipimport, zip_on_path):
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    del eager_zipimport[:]
    importlib.invalidate_caches()
    assert eager_zipimport.count(zip_on_path) == 1   # the eager form reads

    assert shipping.install_zip_directory_cache()
    del eager_zipimport[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in eager_zipimport


def test_rewritten_archive_is_reread(eager_zipimport, zip_on_path):
    importlib.import_module("zc_mod_a")
    assert shipping.install_zip_directory_cache()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_mod_b")

    _write_zip(zip_on_path, ["zc_mod_a", "zc_mod_b"])
    del eager_zipimport[:]
    importlib.invalidate_caches()
    assert eager_zipimport.count(zip_on_path) == 1
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"


def test_install_twice_is_noop(eager_zipimport):
    assert shipping.install_zip_directory_cache()
    assert not shipping.install_zip_directory_cache()
    assert (zipimport.zipimporter.invalidate_caches
            is shipping._stat_checked_invalidate_caches)


@pytest.fixture
def unfrozen_heap():
    """A test process whose heap is not frozen, and is unfrozen again after
    the test, so that the rest of the suite collects as usual."""
    assert gc.get_freeze_count() == 0
    yield
    gc.unfreeze()


def test_gate_outside_worker_and_on_313(eager_zipimport, unfrozen_heap,
                                        monkeypatch):
    from pyspark.core.files import SparkFiles

    assert not SparkFiles._is_running_on_worker
    assert not shipping.install_on_python_worker()
    assert gc.get_freeze_count() == 0
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    # on 3.13 the zip shim stays out, but the heap is still frozen: the
    # daemon's per-task gc.collect() runs there too
    assert shipping.install_on_python_worker()
    assert (zipimport.zipimporter.invalidate_caches
            is shipping._EAGER_INVALIDATE)
    assert gc.get_freeze_count() > 0


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the shim targets CPython < 3.13")
def test_gate_installs_on_worker(eager_zipimport, unfrozen_heap,
                                 monkeypatch):
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert shipping.install_on_python_worker()
    assert (zipimport.zipimporter.invalidate_caches
            is shipping._stat_checked_invalidate_caches)
    assert gc.get_freeze_count() > 0


def test_second_install_on_worker_is_noop(eager_zipimport, unfrozen_heap,
                                          monkeypatch):
    import pandas as pd
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert shipping.install_on_python_worker()
    frozen = gc.get_freeze_count()
    # pandas was imported before the freeze, so its classes are not
    # scanned by later collections
    assert pd.DataFrame not in gc.get_objects()
    garbage = [[] for _ in range(1000)]
    assert not shipping.install_on_python_worker()
    # frozen objects can still be freed by reference counting, so the
    # count may drop; a second freeze would raise it by the lists above
    assert gc.get_freeze_count() <= frozen
    assert any(o is garbage for o in gc.get_objects())


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the shim targets CPython < 3.13")
def test_reused_worker_task_rereads_no_archive(spark):
    """One-partition mapInPandas jobs until some worker runs a second task.

    The probe closes over the package's ``shipping`` module, so unpickling
    it imports the package, as any package UDF does. On its first task a
    worker wraps ``zipimport._read_directory`` with a counter; on a later
    task the counter holds the reads made by that task's
    ``setup_spark_files`` invalidation, which must be none.
    """
    shipping.ensure_package_on_executors(spark)

    def probe(batches):
        import os
        import zipimport as zi

        import pandas as pd

        counter = getattr(zi._read_directory, "reads", None)
        repeat = counter is not None
        if not repeat:
            inner = zi._read_directory

            def counting(archive):
                counting.reads += 1
                return inner(archive)

            zi._read_directory = counting
        reads = zi._read_directory.reads if repeat else -1
        zi._read_directory.reads = 0
        installed = (zi.zipimporter.invalidate_caches
                     is shipping._stat_checked_invalidate_caches)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "repeat": [repeat],
                            "installed": [installed], "reads": [reads]})

    schema = "pid long, repeat boolean, installed boolean, reads long"
    seen = []
    # workers come back from an idle FIFO no longer than the core count,
    # so a pid repeats well inside this many jobs
    for _ in range(4 * spark.sparkContext.defaultParallelism + 4):
        row = (spark.range(1, numPartitions=1)
               .mapInPandas(probe, schema).collect()[0])
        seen.append(row)
        if row.repeat:
            break
    later = [r for r in seen if r.repeat]
    assert later, f"no worker ran a second task: {seen}"
    assert all(r.installed for r in seen), seen
    assert [r.reads for r in later] == [0], seen


def test_reused_worker_task_runs_on_frozen_heap(spark):
    """One-partition mapInPandas jobs until some worker runs a second task;
    that task must find the import-time heap frozen, so the daemon's
    collection after it scans only what the task itself made."""
    shipping.ensure_package_on_executors(spark)

    def probe(batches):
        import gc
        import os

        import pandas as pd

        repeat = getattr(shipping, "_probe_seen", False)
        shipping._probe_seen = True
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "repeat": [repeat],
                            "frozen": [gc.get_freeze_count()]})

    schema = "pid long, repeat boolean, frozen long"
    seen = []
    for _ in range(4 * spark.sparkContext.defaultParallelism + 4):
        row = (spark.range(1, numPartitions=1)
               .mapInPandas(probe, schema).collect()[0])
        seen.append(row)
        if row.repeat:
            break
    later = [r for r in seen if r.repeat]
    assert later, f"no worker ran a second task: {seen}"
    assert all(r.frozen > 0 for r in seen), seen


def test_package_zip_removed_at_exit():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "from kafka_connect_oss_spark import shipping\n"
         "import os\n"
         "path = shipping._build_zip()\n"
         "assert os.path.getsize(path) > 0\n"
         "print(path)\n"],
        cwd=repo, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    path = proc.stdout.strip().splitlines()[-1]
    assert path.endswith(".zip")
    assert not os.path.exists(path), f"{path} left behind after exit"
