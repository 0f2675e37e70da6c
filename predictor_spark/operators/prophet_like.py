"""Deterministic Prophet-style per-series model — the Spark-native
stand-in for the reference's `prophet` predictor plugin
(predictor_plugins/predictor_plugin_prophet.py:84-285: per-horizon
Prophet fit on (ds, y) with trend + seasonality + interval width).

Model: ordinary least squares on the design matrix

    [1, t, relu(t - cp_1..cp_C), sin/cos(2 pi k d)_k=1..K]

with t = time scaled to [0, 1] over the TRAIN span, changepoints at
fixed train-span fractions (piecewise-linear trend, Prophet's
`n_changepoints` idea made deterministic), and day-fraction Fourier
terms for daily seasonality. No MCMC, no random init — pure linear
algebra, so results are reproducible to the bit and differential-testable
against a driver-side numpy replay.

Scale: one series = one Arrow group (operators/series.py per_series);
10^6 series saturate a cluster. Train-only fitting discipline as everywhere
in the engine: the design matrix solve uses rows before ``train_end``
only; all rows get scored.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from predictor_spark.operators.series import per_series


def solve_normal_gauss(X: np.ndarray, y: np.ndarray, ridge: float = 0.0) -> np.ndarray:
    """OLS by explicit normal equations + Gaussian elimination WITHOUT
    pivoting (X'X is SPD, so no pivot is needed), in a fixed operation
    order: step k scales f = A[i,k]/A[k,k] then subtracts f*row_k. The
    DuckDB oracle (plans/catalog_parity.py) unrolls the identical
    elimination, so engine and oracle drift only by the X'X summation
    order (~1e-15 relative), not by algorithm.

    ``ridge`` adds a deterministic L2 prior on the diagonal — the analog
    of Prophet's regressor prior scale, and the guard that keeps the
    no-pivot elimination away from a zero pivot when an indicator column
    (holiday, sparse regressor) is all-zero for some series."""
    A = X.T @ X
    b = X.T @ y
    p = len(b)
    A = A.copy()
    if ridge:
        for i in range(p):
            A[i, i] = A[i, i] + ridge
    for k in range(p - 1):
        if abs(A[k, k]) < 1e-300:
            # an all-zero indicator column (holiday outside the data range,
            # constant regressor) with ridge=0 would divide by a zero pivot
            # and emit silent NaN predictions — fail loudly instead and tell
            # the caller the fix (ADVICE r3)
            raise ValueError(
                f"zero pivot at column {k} in normal equations — a regressor/"
                "holiday indicator is degenerate for this series; pass "
                "ridge > 0 (e.g. 1e-6)")
        for i in range(k + 1, p):
            f = A[i, k] / A[k, k]
            A[i, k + 1:] = A[i, k + 1:] - f * A[k, k + 1:]
            b[i] = b[i] - f * b[k]
    if abs(A[p - 1, p - 1]) < 1e-300:
        raise ValueError(
            "zero pivot in final back-substitution — a regressor/holiday "
            "indicator is degenerate for this series; pass ridge > 0")
    theta = np.empty(p)
    for i in range(p - 1, -1, -1):
        s = 0.0
        for j in range(i + 1, p):
            s += A[i, j] * theta[j]
        theta[i] = (b[i] - s) / A[i, i]
    return theta


def _design(ts_sec: np.ndarray, t0: float, span: float,
             changepoints: np.ndarray, fourier_k: int) -> np.ndarray:
    t = (ts_sec - t0) / span
    cols = [np.ones_like(t), t]
    for cp in changepoints:
        cols.append(np.maximum(t - cp, 0.0))
    day = (ts_sec % 86400.0) / 86400.0
    for k in range(1, fourier_k + 1):
        cols.append(np.sin(2 * np.pi * k * day))
        cols.append(np.cos(2 * np.pi * k * day))
    return np.stack(cols, axis=1)


def fit_predict_series(ts: np.ndarray, y: np.ndarray,
                       train_end: np.datetime64, n_changepoints: int,
                       fourier_k: int, holidays: list[str] | None = None,
                       regressor: np.ndarray | None = None,
                       ridge: float = 0.0) -> tuple[np.ndarray, np.ndarray,
                                                    np.ndarray]:
    """numpy core, shared verbatim by the Spark operator and the
    differential test (tests compare cluster output to this exact code
    run driver-side): one series' ``datetime64[us]`` timestamps ``ts``
    and values ``y``, in time order, to (yhat, trend, seasonal).

    ``holidays``: ISO dates, each becoming a 0/1 indicator regressor
    (predictor_plugin_prophet.py:168-178 holiday frame). ``regressor``:
    an extra regressor whose value is frozen at its LAST TRAIN value for
    every post-cutoff row — the reference's last-step future-regressor
    fill (predictor_plugin_prophet.py:180-188)."""
    sec = ts.astype("int64") / 1e6
    train = ts < train_end
    n_train = int(train.sum())
    n_extra = len(holidays or ()) + (1 if regressor is not None else 0)
    min_rows = 2 + n_changepoints + 2 * fourier_k + n_extra + 1
    if n_train < min_rows:
        yhat = np.full(len(y), y[train].mean() if n_train else 0.0)
        return yhat, yhat, np.zeros(len(y))
    t0, t1 = sec[train].min(), sec[train].max()
    span = max(t1 - t0, 1.0)
    cps = np.array([(i + 1) / (n_changepoints + 1) for i in range(n_changepoints)])
    X = _design(sec, t0, span, cps, fourier_k)
    extras = []
    for h in holidays or ():
        extras.append((ts.astype("datetime64[D]") == np.datetime64(h))
                      .astype(np.float64))
    if regressor is not None:
        r = regressor.astype(np.float64)
        # last-step fill, deterministic under tied timestamps: among train
        # rows at the max ts, take the max value (matches the oracle's
        # max(struct(sec, reg)) rule; ADVICE r3)
        tr_sec, r_tr = sec[train], r[train]
        r[~train] = r_tr[tr_sec == tr_sec.max()].max()
        extras.append(r)
    if extras:
        X = np.concatenate([X, np.stack(extras, axis=1)], axis=1)
    theta = solve_normal_gauss(X[train], y[train], ridge=ridge)
    yhat = X @ theta
    n_trend = 2 + n_changepoints
    trend = X[:, :n_trend] @ theta[:n_trend]
    return yhat, trend, yhat - trend


def prophet_like_fit_predict(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    train_end: str = "2024-01-22 00:00:00",
    n_changepoints: int = 3,
    fourier_k: int = 2,
    holidays: list[str] | None = None,
    regressor_col: str | None = None,
    ridge: float = 0.0,
) -> DataFrame:
    """Fit per series on train rows, score every row. Returns
    (series, ts, value, yhat, trend, seasonal): one Arrow group per
    series running :func:`fit_predict_series` (operators/series.py
    per_series)."""
    cutoff = np.datetime64(train_end.replace(" ", "T"), "us")
    schema = (f"{series_col} bigint, {ts_col} timestamp, {value_col} double, "
              "yhat double, trend double, seasonal double")

    def core(a: dict[str, np.ndarray]):
        yhat, trend, seasonal = fit_predict_series(
            a[ts_col], a[value_col].astype(np.float64, copy=False), cutoff,
            n_changepoints, fourier_k, holidays=holidays,
            regressor=a[regressor_col] if regressor_col else None,
            ridge=ridge)
        return slice(None), {"yhat": yhat, "trend": trend, "seasonal": seasonal}

    cols = [value_col] + ([regressor_col] if regressor_col else [])
    return per_series(df, series_col, ts_col, cols, core, schema)
