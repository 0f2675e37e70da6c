"""STL-style seasonal-trend decomposition per series (SURVEY §2.3 W7/W8).

The reference wraps statsmodels STL (target_plugins/stl_target.py:37-98).
statsmodels is not in this image, so the engine ships TWO in-house
paths with the same output contract (trend/seasonal/resid + the
recomposition identity trend+seasonal+resid == value):

- ``method="classical"`` (default when statsmodels is absent): centered
  moving-average trend + phase-mean seasonal.  The driver-graded
  ``stl_per_series`` row replays THIS path in its SQL oracle, so its
  contract is frozen.
- ``method="loess"``: a faithful dependency-free implementation of the
  actual STL algorithm (Cleveland, Cleveland, McRae & Terpenning 1990,
  "STL: A Seasonal-Trend Decomposition Procedure Based on Loess",
  J. Official Statistics 6(1)): the inner loop's cycle-subseries loess
  + low-pass (MA(p)·MA(p)·MA(3)·loess) + trend loess, and the outer
  bisquare robustness loop — the same recurrence statsmodels' STL
  implements, with its default spans (seasonal=7, trend = smallest odd
  >= 1.5p/(1-1.5/n_s), low-pass = smallest odd > p, all degree 1).
  Iteration counts follow the PAPER's §4.2 recommendation
  (inner=2/outer=0, robust: inner=1/outer=15), NOT statsmodels' .fit
  defaults (inner=5/outer=0, robust: inner=2/outer=15) — both converge
  to the same fixed point; the env-gated A/B tolerance absorbs the
  small pre-convergence gap.  This upgrades the
  engine's STL surface from parity-by-contract (classical stand-in) to
  the published algorithm itself; where statsmodels IS installed, the
  env-gated test pins the two against each other.

Execution: one Arrow group per series through operators/series.py
per_series (series = parallelism unit, one shuffle on the series key);
:func:`decompose_series` is the numpy core it runs. A windows-only variant
(moving-average trend + phase-mean seasonal) also exists as a pure SQL
plan in plans/catalog_forecast.py:stl_decompose_hourly for oracle parity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from predictor_spark.operators.series import per_series

try:  # pragma: no cover - statsmodels absent in this image
    from statsmodels.tsa.seasonal import STL as _STL

    HAVE_STATSMODELS = True
except ImportError:
    HAVE_STATSMODELS = False


def _classical_decompose(vals: np.ndarray, period: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Additive decomposition: centered MA trend (edges backfilled with the
    nearest valid trend value), phase-mean seasonal (centered to sum 0),
    resid = remainder. Guarantees trend+seasonal+resid == vals exactly."""
    n = len(vals)
    half = period // 2
    kernel = np.ones(2 * half + 1) / (2 * half + 1)
    trend = np.convolve(vals, kernel, mode="same")
    if n > 2 * half:  # edge windows are truncated averages; clamp to valid region
        trend[:half] = trend[half]
        trend[n - half:] = trend[n - half - 1]
    detr = vals - trend
    phases = np.arange(n) % period
    means = np.array([detr[phases == p].mean() if (phases == p).any() else 0.0 for p in range(period)])
    means -= means.mean()  # seasonal component sums to ~0 over a period
    seasonal = means[phases]
    resid = vals - trend - seasonal
    return trend, seasonal, resid


def _loess(y: np.ndarray, q: int, deg: int = 1,
           rho: np.ndarray | None = None,
           xeval: np.ndarray | None = None) -> np.ndarray:
    """Loess smoothing of y (observed at positions 0..m-1) evaluated at
    xeval (default: the observation positions): at each x, weighted
    least squares of degree ``deg`` over the q nearest points with
    tricube neighborhood weights, times the robustness weights ``rho``
    when given.  For q > m the neighborhood radius is inflated by q/m
    (Cleveland et al. 1990 §2, the lambda_q(x) rule)."""
    m = len(y)
    x = np.arange(m, dtype=np.float64)
    q_eff = min(q, m)
    if (xeval is None and rho is None and q_eff % 2 == 1 and q_eff >= 3
            and m > q_eff):
        # fast path for the trend/low-pass calls (evaluate at every
        # observed position, no robustness weights): at an INTERIOR
        # point the q nearest neighbors are symmetric, so the degree-1
        # weighted fit's slope term is orthogonal to the intercept and
        # the loess value reduces to the normalized tricube-weighted
        # mean — one convolution instead of a per-point solve (O(n)
        # numpy vs O(n·q) Python; boundaries fall through to the
        # generic path below)
        half = (q_eff - 1) // 2
        u = np.abs(np.arange(-half, half + 1)) / max(float(half), 1e-12)
        w = np.clip(1.0 - u ** 3, 0.0, None) ** 3
        interior = np.convolve(y, w[::-1] / w.sum(), "valid")
        out = np.empty(m)
        out[half:m - half] = interior
        edge_eval = np.concatenate([np.arange(half),
                                    np.arange(m - half, m)]).astype(float)
        edges = _loess(y, q, deg, rho=None, xeval=edge_eval)
        out[:half] = edges[:half]
        out[m - half:] = edges[half:]
        return out
    if (xeval is None and rho is not None and q_eff % 2 == 1
            and q_eff >= 3 and m > q_eff and deg == 1):
        # robust fast path (varying rho): interior neighborhoods are
        # still the same sliding window, so the per-point weighted
        # degree-1 solves batch into strided-view reductions — O(n·q)
        # vectorized numpy instead of a Python loop per point
        half = (q_eff - 1) // 2
        xoff = np.arange(-half, half + 1, dtype=np.float64)
        u = np.abs(xoff) / max(float(half), 1e-12)
        wpat = np.clip(1.0 - u ** 3, 0.0, None) ** 3
        from numpy.lib.stride_tricks import sliding_window_view

        W = sliding_window_view(rho, q_eff) * wpat
        Y = sliding_window_view(y, q_eff)
        WY = W * Y
        sw = W.sum(1)
        swx = W @ xoff
        swx2 = W @ (xoff * xoff)
        swy = WY.sum(1)
        swxy = WY @ xoff
        denom = sw * swx2 - swx * swx
        safe = np.abs(denom) >= 1e-12 * np.maximum(sw * swx2, 1.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            b = np.where(safe, (sw * swxy - swx * swy) / denom, 0.0)
            interior = np.where(
                sw > 0.0,
                np.where(safe, (swy - b * swx) / np.maximum(sw, 1e-300),
                         swy / np.maximum(sw, 1e-300)),
                Y.mean(axis=1))
        out = np.empty(m)
        out[half:m - half] = interior
        edge_eval = np.concatenate([np.arange(half),
                                    np.arange(m - half, m)]).astype(float)
        edges = _loess(y, q, deg, rho=rho, xeval=edge_eval)
        out[:half] = edges[:half]
        out[m - half:] = edges[half:]
        return out
    if xeval is None:
        xeval = x
    out = np.empty(len(xeval))
    for k, xv in enumerate(xeval):
        d = np.abs(x - xv)
        if q_eff < m:
            idx = np.argpartition(d, q_eff - 1)[:q_eff]
        else:
            idx = np.arange(m)
        dmax = d[idx].max()
        if q > m:
            # paper's lambda_q rule: inflate the neighborhood radius
            # MULTIPLICATIVELY by q/m.  statsmodels wraps netlib stl.f,
            # which inflates ADDITIVELY (+(q-n)/2), so short
            # cycle-subseries (m < 7) diverge slightly from a
            # statsmodels baseline — a documented paper-vs-Fortran
            # difference, not a bug.
            dmax *= q / m
        u = d[idx] / max(dmax, 1e-12)
        w = np.clip(1.0 - u ** 3, 0.0, None) ** 3  # tricube
        if rho is not None:
            w = w * rho[idx]
        sw = w.sum()
        if sw <= 0.0:
            out[k] = y[idx].mean()
            continue
        if deg == 0:
            out[k] = (w * y[idx]).sum() / sw
            continue
        xi = x[idx] - xv  # evaluate at xi = 0
        swx = (w * xi).sum()
        swx2 = (w * xi * xi).sum()
        swy = (w * y[idx]).sum()
        swxy = (w * xi * y[idx]).sum()
        denom = sw * swx2 - swx * swx
        if abs(denom) < 1e-12 * max(sw * swx2, 1.0):
            out[k] = swy / sw  # collinear neighborhood: fall back to mean
        else:
            b = (sw * swxy - swx * swy) / denom
            out[k] = (swy - b * swx) / sw
    return out


def _stl_loess(vals: np.ndarray, period: int, seasonal: int = 7,
               robust: bool = False) -> tuple[np.ndarray, np.ndarray,
                                              np.ndarray]:
    """The actual STL recurrence (Cleveland et al. 1990 §2-3).  Spans
    match statsmodels.tsa.seasonal.STL's defaults; the iteration counts
    follow the paper's §4.2 recommendation — (inner=2, outer=0)
    non-robust and (inner=1, outer=15) robust — where statsmodels' .fit
    defaults to (5, 0) and (2, 15).  Returns (trend, seasonal, resid)
    with vals == trend + seasonal + resid exactly (resid is computed as
    the remainder)."""
    n = len(vals)
    p = int(period)
    n_s = seasonal if seasonal % 2 == 1 else seasonal + 1
    n_l = p + 1 if p % 2 == 0 else p + 2          # smallest odd > p
    n_t = int(np.ceil(1.5 * p / (1.0 - 1.5 / n_s)))
    n_t = n_t if n_t % 2 == 1 else n_t + 1        # smallest odd >= bound
    inner, outer = (1, 15) if robust else (2, 0)

    rho = np.ones(n)
    T = np.zeros(n)
    S = np.zeros(n)
    for outer_it in range(outer + 1):
        # rho is all-ones until the first outer update — pass None so
        # every loess call below takes the O(n) convolution fast path
        # on non-robust fits (the generic per-point path only runs once
        # robustness weights actually vary)
        use_rho = outer_it > 0
        for _ in range(inner):
            D = vals - T                                   # 1. detrend
            C = np.empty(n + 2 * p)                        # 2. subseries
            for ph in range(p):
                sub_idx = np.arange(ph, n, p)
                m = len(sub_idx)
                r_sub = rho[sub_idx] if use_rho else None
                mid = _loess(D[sub_idx], n_s, 1, rho=r_sub)
                ext = _loess(D[sub_idx], n_s, 1, rho=r_sub,
                             xeval=np.array([-1.0, float(m)]))
                C[ph + p + np.arange(-1, m + 1) * p] = np.concatenate(
                    [ext[:1], mid, ext[1:]])
            ma = np.convolve(C, np.ones(p) / p, "valid")   # 3. low-pass
            ma = np.convolve(ma, np.ones(p) / p, "valid")
            ma = np.convolve(ma, np.ones(3) / 3, "valid")  # -> length n
            L = _loess(ma, n_l, 1)
            S = C[p:n + p] - L                             # 4. seasonal
            T = _loess(vals - S, n_t, 1,                   # 5-6. trend
                       rho=rho if use_rho else None)
        R = vals - T - S
        if outer_it < outer:                               # bisquare rho
            h = 6.0 * np.median(np.abs(R))
            if h <= 0.0:
                rho = np.ones(n)
            else:
                u = np.clip(np.abs(R) / h, 0.0, 1.0)
                rho = (1.0 - u * u) ** 2
    return T, S, vals - T - S


def decompose_series(vals: np.ndarray, period: int, method: str = "auto",
                     robust: bool = False) -> tuple[np.ndarray, np.ndarray,
                                                    np.ndarray]:
    """(trend, seasonal, resid) of one series in time order — the numpy
    core of :func:`stl_decompose`. A series shorter than 2·period+1 gets
    trend = its mean and zero seasonal."""
    if len(vals) < 2 * period + 1:
        t = np.full(len(vals), vals.mean() if len(vals) else 0.0)
        return t, np.zeros(len(vals)), vals - t
    if method == "loess":
        return _stl_loess(vals, period, robust=robust)
    if method == "statsmodels" or (
            method == "auto" and HAVE_STATSMODELS):  # pragma: no cover
        res = _STL(vals, period=period, robust=robust).fit()
        return res.trend, res.seasonal, res.resid
    return _classical_decompose(vals, period)


def stl_decompose(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    period: int = 24,
    robust: bool = False,
    method: str = "auto",
) -> DataFrame:
    """W7 — per-series decomposition into trend/seasonal/resid columns.

    ``method``: "auto" (statsmodels STL when installed — reference
    parity, stl_target.py:61 STL(series, period=..., robust=...) —
    else the classical fallback, which the driver-graded row's SQL
    oracle replays), "classical", "loess" (the in-house Cleveland-1990
    STL, _stl_loess — real loess seasonal/trend smoothing with no
    dependency), or "statsmodels" (fail if absent). Every method
    satisfies the W8 recomposition identity value == trend + seasonal
    + resid. Each series is one Arrow group running
    :func:`decompose_series` (operators/series.py per_series).
    """
    if method not in ("auto", "classical", "loess", "statsmodels"):
        raise ValueError(f"unknown STL method {method!r}")
    if method == "statsmodels" and not HAVE_STATSMODELS:
        raise ImportError("statsmodels is not installed in this image")
    schema = (f"{series_col} bigint, {ts_col} timestamp, {value_col} double, "
              "trend double, seasonal double, resid double")

    def core(a: dict[str, np.ndarray]):
        vals = a[value_col].astype(np.float64, copy=False)
        t, s, r = decompose_series(vals, period, method, robust)
        return slice(None), {"trend": t, "seasonal": s, "resid": r}

    return per_series(df, series_col, ts_col, [value_col], core, schema)


def recompose_uncertainty(df: DataFrame, cols: list[str], out_col: str = "uncertainty") -> DataFrame:
    """W8 — component uncertainties compose as sqrt(Σ u²)
    (stl_decomposition_pipeline.py:214-219)."""
    from pyspark.sql import functions as F

    expr = None
    for c in cols:
        sq = F.col(c) * F.col(c)
        expr = sq if expr is None else expr + sq
    return df.withColumn(out_col, F.sqrt(expr))
