"""Ship the predictor_spark package to Python workers.

Operators that run Python in executors (applyInPandas / mapInPandas)
pickle their functions BY REFERENCE to this package, so every Python
worker must be able to ``import predictor_spark``. The external driver
may launch Spark from any cwd without the repo on PYTHONPATH; calling
``ensure_workers_can_import(spark)`` inside those operators zips the
package once and registers it with ``sparkContext.addPyFile`` — the
Spark-native way to ship a library to executors (works identically on a
real cluster, where workers are remote machines).

It also owns how a Python worker re-checks what it imports between
tasks: ``install_worker_zip_guard`` (run by ``import predictor_spark``)
keeps a reused worker from re-reading every zip archive on its
``sys.path`` at the start of each task.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

_shipped_apps: set[str] = set()
_zip_path: str | None = None
_lock = threading.Lock()


def _build_zip() -> str:
    """Build the package zip ONCE per process, content-hash-named and
    atomically renamed into place. The hash name matters twice over: a
    fixed name raced with Spark's executor-side fetch when concurrent
    search candidates triggered a rebuild mid-fetch ("exists and does not
    match contents"), and a name keyed by content means an edited package
    ships as a NEW file instead of mutating one Spark already cached."""
    global _zip_path
    if _zip_path and os.path.exists(_zip_path):
        return _zip_path
    pkg_dir = Path(__file__).resolve().parent          # .../predictor_spark
    with tempfile.TemporaryDirectory() as td:
        tmp = shutil.make_archive(os.path.join(td, "pkg"), "zip",
                                  root_dir=pkg_dir.parent,
                                  base_dir=pkg_dir.name)
        with open(tmp, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()[:12]
        final = os.path.join(tempfile.gettempdir(),
                             f"predictor_spark_pkg_{digest}.zip")
        if not os.path.exists(final):
            os.replace(tmp, final)                     # atomic
    _zip_path = final
    return _zip_path


def ensure_workers_can_import(spark: SparkSession) -> None:
    # addPyFile is NOT idempotent under concurrency: parallel candidates
    # (plans/model_search.py fans a generation out from threads) must not
    # build/ship simultaneously
    with _lock:
        sc = spark.sparkContext
        app_id = sc.applicationId
        if app_id in _shipped_apps:
            return
        sc.addPyFile(_build_zip())
        _shipped_apps.add(app_id)


def _archive_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def stat_guarded(invalidate):
    """``zipimporter.invalidate_caches`` that re-reads an archive's
    directory only when its ``(st_mtime_ns, st_size, st_ino)`` changed
    since the last read.

    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` before every task, and CPython
    3.11's ``invalidate`` re-reads the whole archive directory once per
    importer: a warm worker holds one importer per package it imported
    from ``pyspark.zip`` (1,328 entries) and the shipped package zip:
    0.14 s of a 0.35 s identity ``mapInArrow`` at local[4] (SCALING.md,
    "The Python boundary").  An archive whose stat is unchanged has the
    directory read last time; the importers of one archive share that
    read.  Spark's own zips never change in place and
    :func:`_build_zip` names the package zip by its content hash, so a
    changed archive always shows a new path or a new stat.  A missing
    archive stats as ``None`` and is read (and fails) as before."""
    last: dict[str, tuple] = {}   # archive -> (stat, directory); one per zip on sys.path

    def invalidate_caches(self):
        stat = _archive_stat(self.archive)
        seen = last.get(self.archive)
        if stat is not None and seen is not None and seen[0] == stat:
            self._files = seen[1]
            return
        invalidate(self)
        if stat is not None:
            last[self.archive] = (stat, self._files)

    invalidate_caches.stat_guarded = True
    return invalidate_caches


def zip_guard_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "stat_guarded", False)


def install_worker_zip_guard() -> None:
    """Put :func:`stat_guarded` on ``zipimporter`` in a Python worker,
    never on the driver, where ``invalidate_caches`` re-reads the archive
    at once (CPython 3.11; later versions re-read lazily).  ``FileFinder``
    invalidation, which makes new files on ``sys.path`` visible, is
    untouched."""
    from pyspark import SparkFiles

    invalidate = zipimport.zipimporter.invalidate_caches
    if (SparkFiles._is_running_on_worker and not zip_guard_installed()
            and "_read_directory" in invalidate.__code__.co_names):
        zipimport.zipimporter.invalidate_caches = stat_guarded(invalidate)
