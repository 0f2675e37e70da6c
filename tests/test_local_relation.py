"""``operators/localrel.local_df`` is the one way driver-side rows
re-enter Spark: a lint keeps every other ``createDataFrame`` and every
``.parallelize`` out of the package, and the contract tests pin what the
Arrow-built relation keeps from ``createDataFrame``: its schema checks,
its reading of naive datetimes, its types, and a collect with no job."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import pathlib
import time

import pytest
from pyspark.sql import Row, types as T

from conftest import count_jobs
from predictor_spark.operators.localrel import local_df

PKG = pathlib.Path(__file__).resolve().parents[1] / "predictor_spark"


def _method_calls(name: str) -> list[str]:
    """``path:line`` of every ``<expr>.name(...)`` call in the package."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == name):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    return hits


def test_local_df_is_the_only_way_rows_reenter_spark():
    assert [h.split(":")[0] for h in _method_calls("createDataFrame")] \
        == ["operators/localrel.py"]
    assert _method_calls("parallelize") == []


@pytest.mark.parametrize("schema", [
    "k long, v double",
    T.StructType([T.StructField("k", T.LongType()),
                  T.StructField("v", T.DoubleType())]),
], ids=["ddl", "struct"])
def test_empty_rows_keep_the_schema(spark, schema):
    df = local_df(spark, [], schema)
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<k:bigint,v:double>"


def test_row_objects_and_nested_types_round_trip(spark):
    schema = ("id long, xs array<double>, amount decimal(38,0), day date, "
              "name string")
    rows = [
        Row(id=1, xs=[0.5, -1.25], amount=decimal.Decimal(10) ** 30,
            day=dt.date(2024, 1, 22), name="a"),
        Row(id=2, xs=None, amount=None, day=None, name=None),
        Row(id=3, xs=[], amount=decimal.Decimal(-7),
            day=dt.date(1969, 12, 31), name="c"),
    ]
    df = local_df(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<id:bigint,xs:array<double>,amount:decimal(38,0),"
        "day:date,name:string>")
    assert sorted(df.collect()) == rows


def test_collect_of_a_small_relation_runs_no_job(spark):
    df = local_df(spark, [(i, float(i)) for i in range(47)],
                  "k long, v double")
    n_jobs, rows = count_jobs(spark, df.collect)
    assert n_jobs == 0
    assert len(rows) == 47


def test_a_relation_past_the_local_threshold_keeps_its_rows(spark):
    """Past ``localRelationThreshold`` Spark ships the Arrow batches as
    an RDD instead of a ``LocalTableScan``; the rows are the same."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    rows = [(i, f"s{i}", dt.date(2024, 1, 1) + dt.timedelta(days=i % 30))
            for i in range(50)]
    old = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        df = local_df(spark, rows, "k long, s string, d date")
        assert not df.isLocal()
        assert sorted(df.collect()) == rows
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("schema, rows", [
    ("k long", [(1,), (1.5,)]),
    ("k long not null, v double", [(1, 1.0), (None, 2.0)]),
    ("v double", [(1.0,), ("2.0",)]),
], ids=["float-in-long", "none-in-not-null", "string-in-double"])
def test_rows_outside_the_schema_fail_as_create_dataframe_does(
        spark, schema, rows):
    with pytest.raises(Exception) as expected:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(expected.value)) as got:
        local_df(spark, rows, schema)
    assert str(got.value) == str(expected.value)


@pytest.fixture
def new_york(monkeypatch):
    """The Python process's local zone set to America/New_York (the
    session zone stays UTC), restored afterwards."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_datetimes_round_trip_in_a_non_utc_process_zone(
        spark, new_york):
    """A naive datetime is read in the process's zone on the way in and
    written back in it on the way out, as ``createDataFrame`` does: a
    memory-sink ``window`` struct comes back unchanged."""
    ts = dt.datetime(2024, 1, 22, 12, 34, 56)
    window = Row(start=dt.datetime(2024, 1, 22, 12, 30),
                 end=dt.datetime(2024, 1, 22, 12, 40))
    df = local_df(spark, [(ts, dt.date(2024, 1, 22), window)],
                  "ts timestamp, day date, "
                  "window struct<start: timestamp, end: timestamp>")
    assert df.collect() == [Row(ts=ts, day=dt.date(2024, 1, 22),
                                window=window)]
