"""The parquet schema memo (sources/tables.py ``_read_parquet``).

- a repeat ``load_table`` of an unchanged table starts no Spark job and
  gives the schema inference gave;
- a rewritten table (a new fingerprint) is inferred again and shows its
  new column, and its old entry goes;
- the nanosAsLong setting is part of the key: a read under the other
  value infers again rather than reuse a schema Spark would refuse;
- the memo stays at or under ``MAX_SCHEMAS``;
- ``load_events_range`` reads through the same memo.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from predictor_spark.sources import tables
from tests.conftest import SF_DIR, count_jobs


def _write(sf_dir, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{sf_dir}/{name}.parquet")


def _entries(sf_dir, name: str) -> list[tuple]:
    path = str(sf_dir / f"{name}.parquet")
    return [k for k in tables._SCHEMA_MEMO if k[0] == path]


def test_repeat_load_starts_no_job(spark, tmp_path):
    _write(tmp_path, "t", {"id": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    n_first, first = count_jobs(
        spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    n_again, again = count_jobs(
        spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert (n_first, n_again) == (1, 0)
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    _write(tmp_path, "t", {"id": [1, 2]})
    assert tables.load_table(spark, str(tmp_path), "t").columns == ["id"]
    _write(tmp_path, "t", {"id": [1, 2], "added": ["a", "b"]})
    n, df = count_jobs(
        spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert n == 1
    assert df.columns == ["id", "added"]
    assert sorted(r["added"] for r in df.collect()) == ["a", "b"]
    assert len(_entries(tmp_path, "t")) == 1


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path, monkeypatch):
    ns = pa.array([1_700_000_000_000_000_001, 1_700_000_000_000_000_002],
                  pa.timestamp("ns"))
    _write(tmp_path, "t", {"id": [1, 2], "ts": ns})
    df = tables.load_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes)["ts"] == "timestamp"   # bigint nanos, floored

    # a session whose nanosAsLong cannot be set: the memoized bigint
    # schema must not stand in for Spark's own refusal
    monkeypatch.setattr(tables, "read_nanos_as_long", lambda spark: None)
    spark.conf.set(tables.NANOS_AS_LONG, "false")
    try:
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            tables.load_table(spark, str(tmp_path), "t")
    finally:
        spark.conf.set(tables.NANOS_AS_LONG, "true")
    n, again = count_jobs(
        spark, lambda: tables.load_table(spark, str(tmp_path), "t"))
    assert n == 0 and again.schema == df.schema


def test_memo_stays_within_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "MAX_SCHEMAS", 3)
    for i in range(5):
        _write(tmp_path, f"t{i}", {"id": [i]})
        tables.load_table(spark, str(tmp_path), f"t{i}")
        assert len(tables._SCHEMA_MEMO) <= 3
    assert _entries(tmp_path, "t4")


def test_events_range_reads_through_the_memo(spark):
    tables.load_table(spark, SF_DIR, "events")
    n, df = count_jobs(
        spark, lambda: tables.load_events_range(spark, SF_DIR, hi="2024-01-02"))
    assert n == 0
    assert df.schema == tables.load_table(spark, SF_DIR, "events").schema
