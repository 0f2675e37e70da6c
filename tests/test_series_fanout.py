"""The per-series numpy fan-out (operators/series.py per_series).

- a lint over ``predictor_spark/``: ``.applyInArrow(`` is called once,
  in the helper, and the operators that run on it (stl, prophet_like,
  spectral) call no ``.applyInPandas(``;
- degenerate inputs: every operator on the helper returns exactly its
  numpy core replayed on the driver over the series sorted by time —
  an empty frame, a one-row series, series below each operator's
  minimum length, a series with 0 train rows, NaN values, duplicate
  ``(user_id, ts)`` rows;
- a session in a non-UTC time zone: the cores see the wall clock, and
  the timestamps come back unchanged.
"""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

from predictor_spark.operators import prophet_like, spectral, stl

PKG = pathlib.Path(__file__).resolve().parents[1] / "predictor_spark"
SCHEMA = "user_id long, ts timestamp, value double, is_purchase double"
CUTOFF = "2024-01-22 00:00:00"
W = 16


def method_calls(root: pathlib.Path, method: str) -> list[str]:
    """``path:line`` of every ``.<method>(`` call in the ``.py`` files
    under ``root`` (a file or a directory)."""
    paths = [root] if root.is_file() else sorted(root.rglob("*.py"))
    return [
        f"{path.relative_to(PKG).as_posix()}:{node.lineno}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        and node.func.attr == method
    ]


def test_apply_in_arrow_has_one_home():
    hits = method_calls(PKG, "applyInArrow")
    assert len(hits) == 1 and hits[0].startswith("operators/series.py:"), hits


@pytest.mark.parametrize("module", ["stl.py", "prophet_like.py", "spectral.py"])
def test_per_series_operators_call_no_apply_in_pandas(module):
    assert method_calls(PKG / "operators" / module, "applyInPandas") == []


def _degenerate_frame() -> pd.DataFrame:
    """One series per case, hourly from two days before CUTOFF."""
    rng = np.random.default_rng(5)
    t0 = np.datetime64("2024-01-20T00:00:00", "us")
    hour = np.timedelta64(3600, "s")
    cases = {
        1: np.zeros(1, int),                     # one row
        2: np.arange(9),                         # < 2*24+1; prophet < min_rows
        3: np.arange(72, 77),                    # 0 prophet train rows
        4: np.arange(80),                        # long, NaN values below
        5: np.arange(80),                        # long, clean
        6: np.repeat(np.arange(40), 2)[::-1],    # every ts twice, reversed
        7: np.arange(W),                         # n == window: no FFT row
        8: np.arange(W + 1),                     # n == window + 1: one row
    }
    frames = []
    for uid, hours in cases.items():
        vals = np.round(rng.normal(10, 3, len(hours)), 2)
        if uid == 4:
            vals[[3, 30, 60]] = np.nan
        frames.append(pd.DataFrame({
            "user_id": uid, "ts": t0 + hours * hour, "value": vals,
            "is_purchase": rng.integers(0, 2, len(hours)).astype(float)}))
    return pd.concat(frames, ignore_index=True)


def _stl(method):
    def run(df):
        return stl.stl_decompose(df, period=24, method=method)

    def replay(g):
        t, s, r = stl.decompose_series(g["value"].to_numpy(), 24, method)
        return g[["user_id", "ts", "value"]].assign(trend=t, seasonal=s, resid=r)
    return run, replay


def _prophet(**extra):
    op_kw = dict(extra, regressor_col="is_purchase") if extra else {}

    def run(df):
        return prophet_like.prophet_like_fit_predict(df, train_end=CUTOFF, **op_kw)

    def replay(g):
        reg = g["is_purchase"].to_numpy() if extra else None
        yhat, trend, seasonal = prophet_like.fit_predict_series(
            g["ts"].to_numpy("datetime64[us]"), g["value"].to_numpy(),
            np.datetime64(CUTOFF.replace(" ", "T"), "us"), 3, 2,
            regressor=reg, **extra)
        return g[["user_id", "ts", "value"]].assign(
            yhat=yhat, trend=trend, seasonal=seasonal)
    return run, replay


def _fft():
    def run(df):
        return spectral.fft_window_features(df, window_size=W, n_components=4)

    def replay(g):
        mags = spectral.fft_magnitudes(g["value"].to_numpy(), W, 4)
        return g[["user_id", "ts"]].iloc[W:].assign(
            **{f"fft_{k}": mags[:, k] for k in range(4)})
    return run, replay


OPERATORS = {
    "stl_classical": _stl("classical"),
    "stl_loess": _stl("loess"),
    "prophet": _prophet(),
    "prophet_holidays_regressor_ridge": _prophet(
        holidays=["2024-01-20", "2024-01-23"], ridge=1e-6),
    "fft": _fft(),
}


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.assign(ts=pdf["ts"].to_numpy("datetime64[us]"))
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _replayed(pdf: pd.DataFrame, replay) -> pd.DataFrame:
    return pd.concat([replay(g.sort_values("ts").reset_index(drop=True))
                      for _, g in pdf.groupby("user_id")])


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got, want = _canonical(got), _canonical(want)
    assert list(got.columns) == list(want.columns) and len(got) == len(want)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        assert np.array_equal(a, b, equal_nan=a.dtype.kind == "f"), c


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_degenerate_series_equal_the_numpy_core(spark, name):
    run, replay = OPERATORS[name]
    pdf = _degenerate_frame()
    # one input partition: the shuffle keeps each series' row order, so
    # tied timestamps reach the core in the order the replay sorts
    got = run(spark.createDataFrame(pdf, SCHEMA).coalesce(1)).toPandas()
    want = _replayed(pdf, replay)
    _assert_equal(got, want)
    if name.startswith("prophet"):
        assert (got.loc[got["user_id"] == 3, "yhat"] == 0.0).all()
    if name == "fft":
        assert set(got["user_id"]) == {4, 5, 6, 8}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_empty_frame_gives_no_rows_in_the_declared_schema(spark, name):
    run, replay = OPERATORS[name]
    out = run(spark.createDataFrame([], SCHEMA))
    assert out.collect() == []
    want = _replayed(_degenerate_frame(), replay)
    assert out.columns == list(want.columns)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert {t for c, t in out.dtypes if c not in ("user_id", "ts")} == {"double"}


def test_cores_read_the_session_wall_clock(spark):
    """The prophet core's daily seasonality and cutoff read wall-clock
    time in the session's zone, and ``ts`` comes back as the same
    instant."""
    run, replay = OPERATORS["prophet"]
    pdf = _degenerate_frame()
    src = spark.createDataFrame(pdf, SCHEMA).coalesce(1)  # instants in UTC
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        got = run(src).toPandas()
        local = src.toPandas()  # ts on the New York wall clock
        keys = ["user_id", "ts"]
        same_instants = run(src).select(keys).exceptAll(
            src.select(keys)).count() == 0
    finally:
        spark.conf.set(key, before)
    assert local["ts"].iloc[0] != pdf["ts"].iloc[0]
    _assert_equal(got, _replayed(local, replay))
    assert same_instants
