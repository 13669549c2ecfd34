"""Ship this package to executor Python workers, and keep them cheap to reuse.

Pandas-UDF closures reference functions in this package; pickled by
reference, they need ``import kafka_connect_oss_spark`` to succeed on every
executor. On a real cluster that is done with ``spark-submit --py-files``;
``ensure_package_on_executors`` is the programmatic equivalent — zip the
package once per process and ``addPyFile`` it once per SparkContext — so any
caller-provided session (driver harness, bench, tests) works unchanged, in
local mode and on a 1000-executor cluster alike.

Python workers: a reused PySpark worker calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py``, end of
``setup_spark_files``). Before CPython 3.13, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory, in pure Python, for every
zip importer the worker holds: ~18 of them over 3 archives (``pyspark.zip``,
1,328 entries; the py4j zip; ``spark-core_2.13-4.1.2.jar``, 5,359 entries)
plus this package's zip. That is ~0.21 CPU-s per task on a 4-vCPU box, paid
by every Python-UDF task (``mapInPandas``, ``applyInPandas``, pandas UDFs,
``applyInPandasWithState``) even when the UDF does nothing.
``install_on_python_worker`` (called by the package ``__init__``) swaps in a
stat-checked invalidation: an archive whose ``(st_ino, st_size,
st_mtime_ns)`` has not moved since its directory was read keeps that
directory, so each later task on the worker pays one ``stat`` per importer.
The first task still pays the full re-read, because the package is imported
only when that task's UDF is unpickled. CPython 3.13 made the invalidation
lazy itself, so there, and in any process that is not a PySpark Python
worker, nothing is installed.
"""

from __future__ import annotations

import atexit
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SENT_TO: set[str] = set()
_ZIP_PATH: str | None = None


def _remove_zip(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _build_zip() -> str:
    """Zip the installed package (once per process) with the package dir at
    the archive root, the layout ``--py-files`` expects. The zip is
    removed when the interpreter exits."""
    global _ZIP_PATH
    if _ZIP_PATH is not None and os.path.exists(_ZIP_PATH):
        return _ZIP_PATH
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(tempfile.gettempdir(),
                        f"kafka_connect_oss_spark-{os.getpid()}.zip")
    if _ZIP_PATH is None:
        atexit.register(_remove_zip, path)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_root):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join("kafka_connect_oss_spark",
                                   os.path.relpath(full, pkg_root))
                zf.write(full, rel)
    _ZIP_PATH = path
    return path


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if sc.applicationId in _SENT_TO:
        return
    sc.addPyFile(_build_zip())
    _SENT_TO.add(sc.applicationId)


#: archive path -> (st_ino, st_size, st_mtime_ns), taken just before the
#: directory now in zipimport._zip_directory_cache was read
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}
_EAGER_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _zip_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stat_checked_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stat stamp moved or its cached directory is gone."""
    stamp = _zip_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _ZIP_STAMPS.get(self.archive) == stamp):
        self._files = files
        return
    _EAGER_INVALIDATE(self)


def install_zip_directory_cache() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with the stat-checked form.

    ``zipimport._read_directory`` is wrapped to stamp every later read,
    whether an invalidation or a new importer makes it. The stamp is taken
    before the read, so a rewrite racing the read leaves a stamp that no
    longer matches. Directories cached before the install are stamped as
    current. On a worker that holds: the package is imported while a task's
    UDF is unpickled, just after that task's ``setup_spark_files`` re-read
    every archive, and Spark fetches a task's files before the worker sees
    the task. Returns False when already installed.
    """
    if zipimport.zipimporter.invalidate_caches is _stat_checked_invalidate_caches:
        return False
    for archive in list(zipimport._zip_directory_cache):
        stamp = _zip_stamp(archive)
        if stamp is not None:
            _ZIP_STAMPS[archive] = stamp
    read = zipimport._read_directory

    def _stamped_read_directory(archive):
        stamp = _zip_stamp(archive)
        _ZIP_STAMPS.pop(archive, None)
        files = read(archive)
        if stamp is not None:
            _ZIP_STAMPS[archive] = stamp
        return files

    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate_caches
    return True


def install_on_python_worker() -> bool:
    """Install the zip-directory cache in a PySpark Python worker running
    CPython < 3.13; anywhere else do nothing and return False."""
    if sys.version_info >= (3, 13):
        return False
    # a worker imports pyspark.core.files and flags itself before any
    # task code runs; checking sys.modules keeps pyspark out of a plain
    # `import kafka_connect_oss_spark`
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    return install_zip_directory_cache()
