"""The streaming replay path (streaming/windows.py): one stager writes
every row's chunk files, one reader replays a directory as a stream, one
clone holds the per-query conf.

- a lint over ``predictor_spark/`` that finds each replay idiom in its
  one home only;
- the stager's contract: a complete directory is reused without a Spark
  job, a directory missing a chunk is staged again, chunk mtimes rise in
  chunk order, and a regenerated source table is never served stale
  chunks and leaves no stale generation behind;
- ``stream_score_ar1`` leaves no cached relation and no output
  directory behind, also when its stream fails.
"""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import shutil

import pytest

from tests.conftest import SF_DIR, count_jobs

PKG = pathlib.Path(__file__).resolve().parents[1] / "predictor_spark"
_WINDOWS = "streaming/windows.py"
HOMES = {
    "readStream": _WINDOWS,
    "newSession(": _WINDOWS,
    "noDataMicroBatches": _WINDOWS,
    "os.utime": _WINDOWS,
    "nanosAsLong": "sources/tables.py",
}


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(node.body[0].value) for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def replay_idioms(root: pathlib.Path) -> dict[str, list[str]]:
    """``path:line`` of every use of each replay idiom in code (not in
    docstrings or comments): the ``.readStream`` attribute, a
    ``.newSession()`` call, ``os.utime``, and a string naming the
    ``noDataMicroBatches`` or ``nanosAsLong`` conf."""
    hits: dict[str, list[str]] = {k: [] for k in HOMES}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            found = None
            if isinstance(node, ast.Attribute):
                if node.attr == "readStream":
                    found = "readStream"
                elif node.attr == "utime" and isinstance(node.value, ast.Name) \
                        and node.value.id == "os":
                    found = "os.utime"
            elif isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute) and node.func.attr == "newSession":
                found = "newSession("
            elif isinstance(node, ast.Constant) and isinstance(
                    node.value, str) and id(node) not in docs:
                found = next((k for k in ("noDataMicroBatches", "nanosAsLong")
                              if k in node.value), None)
            if found:
                hits[found].append(
                    f"{path.relative_to(root).as_posix()}:{node.lineno}")
    return hits


def test_each_replay_idiom_has_one_home():
    hits = replay_idioms(PKG)
    for idiom, home in HOMES.items():
        assert len(hits[idiom]) == 1 and hits[idiom][0].startswith(
            home + ":"), f"{idiom} belongs once in {home}: {hits[idiom]}"


def _mtimes(d: str, n: int) -> list[int]:
    return [os.stat(f"{d}/chunk_{i}.parquet").st_mtime_ns for i in range(n)]


def _sf_copy(tmp_path: pathlib.Path, table: str) -> str:
    sf = tmp_path / "sf"
    sf.mkdir(exist_ok=True)
    shutil.copy(f"{SF_DIR}/{table}.parquet", sf / f"{table}.parquet")
    return str(sf)


def test_stager_reuses_a_complete_dir_and_restages_a_missing_chunk(
        spark, tmp_path):
    from predictor_spark.streaming.stateful import _chunked_stream_dir

    sf = _sf_copy(tmp_path, "events")
    d = _chunked_stream_dir(spark, sf, n_chunks=3)
    try:
        first = _mtimes(d, 3)
        assert first[0] < first[1] < first[2]

        n_jobs, again = count_jobs(spark, lambda: _chunked_stream_dir(
            spark, sf, n_chunks=3))
        assert again == d and n_jobs == 0
        assert _mtimes(d, 3) == first

        os.remove(f"{d}/chunk_1.parquet")
        n_jobs, again = count_jobs(spark, lambda: _chunked_stream_dir(
            spark, sf, n_chunks=3))
        assert again == d and n_jobs > 0
        restaged = _mtimes(d, 3)
        assert restaged[0] < restaged[1] < restaged[2]
    finally:
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def _stager(name: str):
    if name == "stream_join":
        from predictor_spark.streaming.joins import _chronological_chunks
        return _chronological_chunks
    if name == "late_drop":
        from predictor_spark.streaming.windows import _late_drop_chunks
        return _late_drop_chunks
    if name == "stateful":
        from predictor_spark.streaming.stateful import _chunked_stream_dir
        return _chunked_stream_dir
    from predictor_spark.streaming.dedup import _chunked_docs_dir
    return _chunked_docs_dir


@pytest.mark.parametrize(
    "name", ["stream_join", "late_drop", "stateful", "dedup"])
def test_stager_restages_a_regenerated_table(spark, tmp_path, name):
    """Rewrite the source parquet at the same path with every other row:
    the next staging must carry exactly the new table's rows (the dedup
    chunks also carry refetch copies, whose ids lie past the table's
    largest doc_id), and only the new generation stays on disk."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    table = "documents" if name == "dedup" else "events"
    sf = _sf_copy(tmp_path, table)
    stage = _stager(name)
    dirs = [stage(spark, sf)]
    try:
        path = f"{sf}/{table}.parquet"
        full = pq.read_table(path)
        fewer = full.take(list(range(0, full.num_rows, 2)))
        pq.write_table(fewer, path)
        dirs.append(stage(spark, sf))

        chunks = spark.read.parquet(*sorted(glob.glob(
            f"{dirs[-1]}/chunk_*.parquet")))
        if table == "documents":
            hi = pc.max(fewer["doc_id"]).as_py()
            chunks = chunks.filter(F.col("doc_id") <= hi)
        assert chunks.count() == fewer.num_rows < full.num_rows
        key_dir, gen = os.path.split(dirs[-1])
        assert dirs[0] != dirs[-1] and os.listdir(key_dir) == [gen]
    finally:
        shutil.rmtree(os.path.dirname(dirs[0]), ignore_errors=True)


def _cached_relations(spark) -> int:
    # the CacheManager has no public size; its entries live in cachedData
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_stream_score_ar1_releases_its_cache(spark):
    from predictor_spark.streaming.inference import stream_score_ar1

    before = _cached_relations(spark)
    scored = stream_score_ar1(spark, SF_DIR, train_end="2024-01-20 00:00:00",
                              n_chunks=3)
    assert scored.count() > 0
    assert _cached_relations(spark) <= before


def test_failed_stream_score_ar1_leaves_nothing_behind(
        spark, tmp_path, monkeypatch):
    """A foreachBatch that raises: the query is stopped, the output dir
    is removed and the coefficient cache is released."""
    import tempfile

    from pyspark.sql import functions as F
    from predictor_spark.streaming.inference import stream_score_ar1

    def boom(df):
        raise RuntimeError("scoring failed")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(F, "broadcast", boom)
    before = _cached_relations(spark)
    with pytest.raises(Exception, match="scoring failed"):
        stream_score_ar1(spark, SF_DIR, train_end="2024-01-20 00:00:00",
                         n_chunks=3)
    assert not list(tmp_path.glob("stream_score_*"))
    assert _cached_relations(spark) <= before
    assert not spark.streams.active


def test_tumbling_counts_replay_a_directory_form_events_table(
        spark, tmp_path):
    """A directory-form ``events.parquet`` is its own stream source: the
    replay reads its part file instead of opening the directory as one
    parquet file."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import normalize_pdf

    table = tmp_path / "sf" / "events.parquet"
    table.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/events.parquet", table / "part-00000.parquet")
    got = entry.queries()["streaming_tumbling_counts"](
        spark, str(tmp_path / "sf"))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{table}/*.parquet'")
        want = con.execute(
            entry.oracle_sql()["streaming_tumbling_counts"]).fetchdf()
    finally:
        con.close()
    assert len(want) > 0
    assert normalize_pdf(got.toPandas()).equals(normalize_pdf(want))
