"""The bounded driver-side finish (operators/localrel.py).

Every driver-side step stays O(model), not O(data): rows reach the
driver only through ``collect_bounded``, which fetches at most
``max_rows + 1`` rows and fails loudly past its bound.  This file pins
that invariant at three levels:

- a lint over ``plans/``, ``operators/`` and ``streaming/`` that fails
  on any raw row fetch (``.collect()``, ``.toPandas()``, ``.take()``,
  ``.head()``, ``.toLocalIterator()``, argument-less ``.first()``)
  outside localrel.py;
- the helper's own contract: overflow raises with the site and the
  bound, and it launches exactly the Spark jobs a plain ``.collect()``
  launches;
- the per-site guards and the fixes that ride on the ported sites
  (bt_strengths, the pca position check, the minhash memo eviction,
  the pq NaN key guard) and ``spark_round`` against Spark's round.
"""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, count_jobs

PKG = pathlib.Path(__file__).resolve().parents[1] / "predictor_spark"
_FETCHES = {"collect", "toPandas", "take", "head", "toLocalIterator"}


def raw_row_fetches(root: pathlib.Path) -> list[str]:
    """``path:line .attr()`` for every raw row fetch under the three
    driver-finish packages, localrel.py excepted.  ``F.first(col)`` is
    an aggregate, not a fetch: ``first`` counts only without
    arguments."""
    hits = []
    for sub in ("plans", "operators", "streaming"):
        for path in sorted((root / sub).rglob("*.py")):
            if path.name == "localrel.py" and sub == "operators":
                continue
            for node in ast.walk(ast.parse(path.read_text())):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    continue
                attr = node.func.attr
                if attr in _FETCHES or (
                        attr == "first" and not node.args
                        and not node.keywords):
                    hits.append(f"{path.relative_to(root)}:{node.lineno} "
                                f".{attr}()")
    return hits


def test_no_raw_row_fetch_outside_localrel():
    hits = raw_row_fetches(PKG)
    assert not hits, (
        "rows reach the driver only through "
        "operators.localrel.collect_bounded (a named bound per site): "
        + ", ".join(hits))


def test_collect_bounded_overflow_names_site_and_bound(spark):
    from predictor_spark.operators.localrel import collect_bounded

    df = spark.range(0, 30, 1, 4)
    assert len(collect_bounded(df, 30, "exact fit")) == 30
    with pytest.raises(ValueError, match=r"unit-test site.*29"):
        collect_bounded(df, 29, "unit-test site")


def test_collect_bounded_fetches_at_most_bound_plus_one(spark, monkeypatch):
    from predictor_spark.operators.localrel import (collect_bounded,
                                                    fetch_bounded)

    df = spark.range(0, 1000, 1, 4)
    seen = []
    real_limit = type(df).limit

    def spy(self, n):
        seen.append(n)
        return real_limit(self, n)

    monkeypatch.setattr(type(df), "limit", spy)
    with pytest.raises(ValueError):
        collect_bounded(df, 5, "spy")
    # the non-raising form hands the caller the one row past the bound
    assert len(fetch_bounded(df, 5)) == 6
    assert seen == [6, 6]


def test_collect_bounded_launches_the_same_jobs_as_collect(spark):
    """4-partition scan, AQE aggregate and top-k: a ``limit(n).collect()``
    form would launch a second (incremental take) job on the scan."""
    from predictor_spark.operators.localrel import collect_bounded, local_df

    rows = [(i, float(i) / 7) for i in range(30)]
    scan = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "k long, v double")
    assert scan.rdd.getNumPartitions() == 4
    frames = {
        "scan": scan,
        "aggregate": scan.groupBy((F.col("k") % 5).alias("g"))
                         .agg(F.sum("v").alias("s")),
        "global aggregate": scan.agg(F.sum("v").alias("s")),
        "top-k": scan.orderBy(F.col("v").desc()).limit(7),
        "local relation": local_df(spark, rows, "k long, v double"),
    }
    for what, df in frames.items():
        n_plain, plain = count_jobs(spark, df.collect)
        n_bounded, bounded = count_jobs(
            spark, lambda: collect_bounded(df, 100, what))
        assert n_bounded == n_plain, what
        assert sorted(bounded) == sorted(plain), what


def test_bt_strengths_win_collect_is_guarded(spark, monkeypatch):
    """The directed win-count collect is data-sized (|types|^2 - |types|
    pairs): a bound below the data's pair count fails loudly, before the
    rows reach the driver-side MM iterations."""
    from predictor_spark.plans import catalog_r19_bradleyterry as bt

    strengths, wins = bt._bt_strengths(spark, SF_DIR)
    assert 0 < len(wins) <= bt.MAX_TYPE_PAIRS
    monkeypatch.setattr(bt, "MAX_TYPE_PAIRS", len(wins) - 1)
    with pytest.raises(ValueError, match="bt_strengths"):
        bt._bt_strengths(spark, SF_DIR)


def test_pca_rejects_a_mean_vector_not_starting_at_position_1(
        spark, monkeypatch):
    from predictor_spark.operators.localrel import collect_bounded
    from predictor_spark.plans import catalog_sketches

    def drop_position_1(df, max_rows, what):
        rows = collect_bounded(df, max_rows, what)
        return rows[1:] if what == "pca mean vector" else rows

    monkeypatch.setattr(catalog_sketches, "collect_bounded", drop_position_1)
    with pytest.raises(ValueError, match="position-1"):
        catalog_sketches.pca_power_iteration(spark, SF_DIR)


def test_sig_memo_evicts_other_applications(spark):
    from predictor_spark.operators import dedup

    stale = ("app-that-is-gone", 16, "shingles")
    dedup._SIG_MEMO[stale] = object()
    # a column name no other caller builds, so the call is a memo miss
    dedup._sig_array(F.col(f"sh_{uuid.uuid4().hex}"), 16)
    app = spark.sparkContext.applicationId
    assert stale not in dedup._SIG_MEMO
    assert dedup._SIG_MEMO and all(k[0] == app for k in dedup._SIG_MEMO)


def test_pq_dkey_nan_distance_never_wins(spark):
    from predictor_spark.plans.catalog_r8_pq import _K, _dkey

    df = spark.createDataFrame(
        [(0, float("nan")), (1, 2.5), (2, 3.0)], "c int, d double")
    k = df.agg(F.min(_dkey(F.col("d"))).alias("k")).collect()[0]["k"]
    assert k % _K == 1


# ties at the rounding digit, shortest-repr edge cases, negatives and
# values whose binary expansion sits just below/above the tie
_ROUND_CASES = [
    (0.5, 0), (1.5, 0), (2.5, 0), (-2.5, 0), (0.125, 2), (0.375, 2),
    (1.005, 2), (2.675, 2), (-1.005, 2), (0.12345649999999999, 6),
    (0.1234565, 6), (1e-7, 6), (5e-7, 6), (-5e-7, 6), (123456.7890125, 6),
    (0.0000000015, 9), (0.3333333335, 9), (1.0 / 3.0, 8), (2.0 / 3.0, 8),
    (9.9999999995, 9), (0.0, 6), (-0.0, 6), (1e15 + 0.5, 0),
]


def test_spark_round_matches_spark(spark):
    from predictor_spark.operators.localrel import spark_round

    row = spark.range(1).select(*[
        F.round(F.lit(x), dp).alias(f"r{i}")
        for i, (x, dp) in enumerate(_ROUND_CASES)]).collect()[0]
    for i, (x, dp) in enumerate(_ROUND_CASES):
        assert spark_round(x, dp) == row[f"r{i}"], (x, dp)
