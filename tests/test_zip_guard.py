"""The stat-guarded zip invalidation (shiplib.stat_guarded).

pyspark calls ``importlib.invalidate_caches()`` before every task, and
CPython 3.11 then re-reads every zip archive directory on ``sys.path``
once per importer.  The guard skips the re-read of an unchanged
archive:

- on a temp zip, counting ``zipimport._read_directory`` calls: no
  re-read while the archive is unchanged, one after it is rewritten,
  and a module the rewrite added imports;
- in a local session: a Python worker running an engine function has
  the guard installed and re-reads no archive on a repeat
  invalidation, while the driver keeps CPython's own method.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from predictor_spark import shiplib

pytestmark = pytest.mark.skipif(
    "_read_directory"
    not in zipimport.zipimporter.invalidate_caches.__code__.co_names,
    reason="this CPython re-reads zip archives lazily; no guard is installed")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_stat_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    tag = uuid.uuid4().hex[:8]
    first, added = f"zg_first_{tag}", f"zg_added_{tag}"
    _write_zip(archive, {first: "X = 1\n"})

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        shiplib.stat_guarded(zipimport.zipimporter.invalidate_caches))
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(first).X == 1
        importlib.invalidate_caches()     # the guard's first look reads
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n, "re-read an unchanged archive"

        _write_zip(archive, {first: "X = 1\n", added: "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1, "missed a rewritten archive"
        assert importlib.import_module(added).Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in (first, added):
            sys.modules.pop(name, None)


def test_guard_is_installed_in_workers_and_not_on_the_driver(spark):
    shiplib.ensure_workers_can_import(spark)

    def probe(_):
        import importlib
        import zipimport

        from predictor_spark.shiplib import zip_guard_installed

        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        return zip_guard_installed(), len(reads)

    out = spark.sparkContext.parallelize(range(4), 4).map(probe).collect()
    assert out == [(True, 0)] * 4
    assert not shiplib.zip_guard_installed()
