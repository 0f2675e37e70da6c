"""The bounded driver-side finish (operators/localrel.py).

Every driver-side step stays O(model), not O(data): rows reach the
driver only through ``collect_bounded``, which fetches at most
``max_rows + 1`` rows and fails loudly past its bound.  This file pins
that invariant at three levels:

- a lint over ``plans/``, ``operators/`` and ``streaming/`` that fails
  on any raw row fetch (``.collect()``, ``.toPandas()``, ``.take()``,
  ``.head()``, ``.toLocalIterator()``, argument-less ``.first()``)
  outside localrel.py; a ``take``/``head`` on a pyarrow object is
  worker-side and does not count;
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


def _rooted(expr: ast.expr, names: set[str]) -> bool:
    """Whether ``expr`` is an attribute, call or subscript chain whose
    root is one of ``names`` (``tbl.column(c)``, ``pc.sort_indices(a)``)."""
    while isinstance(expr, (ast.Attribute, ast.Call, ast.Subscript)):
        expr = expr.func if isinstance(expr, ast.Call) else expr.value
    return isinstance(expr, ast.Name) and expr.id in names


def _own_nodes(scope: ast.AST):
    """The nodes of ``scope``'s body, not entering nested functions."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
            todo.extend(ast.iter_child_nodes(node))


def _arrow_scope(fn: ast.AST, outer: set[str]) -> set[str]:
    """The names that hold pyarrow objects inside function ``fn``: a
    parameter annotated with a pyarrow type, or a name every binding of
    which is a plain assignment rooted in a pyarrow module or another
    such name. Any other binding shadows an outer Arrow name."""
    arrow: dict[str, bool] = {}
    a = fn.args
    for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg):
        if arg is not None:
            arrow[arg.arg] = (arg.annotation is not None
                              and _rooted(arg.annotation, outer))
    nodes = sorted(_own_nodes(fn), key=lambda n: (getattr(n, "lineno", 0),
                                                  getattr(n, "col_offset", 0)))
    assigned = {id(t) for n in nodes if isinstance(n, ast.Assign)
                for t in n.targets if isinstance(t, ast.Name)}
    for node in nodes:
        if isinstance(node, ast.Assign):
            known = (outer - arrow.keys()) | {n for n, ok in arrow.items() if ok}
            ok = _rooted(node.value, known)
            for t in node.targets:
                if isinstance(t, ast.Name):
                    arrow[t.id] = arrow.get(t.id, True) and ok
        elif (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store)
              and id(node) not in assigned):
            arrow[node.id] = False
    return (outer - arrow.keys()) | {n for n, ok in arrow.items() if ok}


def row_fetches(source: str) -> list[tuple[int, str]]:
    """``(line, attr)`` of every raw row fetch in ``source``.
    ``F.first(col)`` is an aggregate, not a fetch: ``first`` counts only
    without arguments. A ``take``/``head`` on a pyarrow object (a
    worker-side ``ChunkedArray.take``) fetches nothing to the driver and
    does not count."""
    tree = ast.parse(source)
    modules = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {al.asname or al.name.split(".")[0] for al in node.names
                        if al.name.split(".")[0] == "pyarrow"}
        elif isinstance(node, ast.ImportFrom) and \
                (node.module or "").split(".")[0] == "pyarrow":
            modules |= {al.asname or al.name for al in node.names}
    hits = []

    def visit(node: ast.AST, arrow: set[str]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            arrow = _arrow_scope(node, arrow)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            if (attr in _FETCHES and not _rooted(node.func.value, arrow)) or (
                    attr == "first" and not node.args and not node.keywords):
                hits.append((node.lineno, attr))
        for child in ast.iter_child_nodes(node):
            visit(child, arrow)

    visit(tree, modules)
    return sorted(hits)


def raw_row_fetches(root: pathlib.Path) -> list[str]:
    """``path:line .attr()`` for every raw row fetch under the three
    driver-finish packages, localrel.py excepted."""
    hits = []
    for sub in ("plans", "operators", "streaming"):
        for path in sorted((root / sub).rglob("*.py")):
            if path.name == "localrel.py" and sub == "operators":
                continue
            hits += [f"{path.relative_to(root)}:{line} .{attr}()"
                     for line, attr in row_fetches(path.read_text())]
    return hits


def test_no_raw_row_fetch_outside_localrel():
    hits = raw_row_fetches(PKG)
    assert not hits, (
        "rows reach the driver only through "
        "operators.localrel.collect_bounded (a named bound per site): "
        + ", ".join(hits))


#: every line that ends ``# fetch`` holds one raw row fetch; no other does
_LINT_CASES = """
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F


def driver_side(spark, df):
    df.take(5)  # fetch
    df.head()  # fetch
    spark.range(3).take(1)  # fetch
    df.select(F.first("v"))
    df.first()  # fetch


def worker_side(tbl: pa.Table, order):
    col = tbl.column("v")
    col.take(order)
    tbl.take(order)
    pc.sort_indices(col).take(order)
    pa.chunked_array([[1, 2]]).take([0])


def rebound(tbl: pa.Table, df):
    col = tbl.column("v")
    col = df
    col.take(5)  # fetch
    for tbl in df:
        tbl.take(1)  # fetch


def shadowed(tbl: pa.Table):
    def inner(tbl):
        return tbl.head()  # fetch
    return tbl.take([0]), (lambda tbl: tbl.head())  # fetch
"""


def test_lint_tells_an_arrow_receiver_from_a_dataframe():
    want = [i for i, line in enumerate(_LINT_CASES.splitlines(), 1)
            if line.endswith("# fetch")]
    assert [line for line, _ in row_fetches(_LINT_CASES)] == want


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
