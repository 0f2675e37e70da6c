from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from predictor_spark.operators import spectral, stl, transforms


def _series_df(spark, values, user=1):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(user, t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_infer_roles():
    roles = transforms.infer_roles(
        ["CLOSE", "ema_24", "hod", "hod_sin", "CUSTOM"], target_col=None, excluded=["CUSTOM"]
    )
    assert roles == {
        "CLOSE": "log_returns", "ema_24": "first_diff", "hod": "cyclic",
        "hod_sin": "preserve", "CUSTOM": "preserve",
    }


def test_anti_naive_lock_in_place(spark):
    df = _series_df(spark, [1.0, 2.0, 4.0]).withColumn("trend_x", F.col("value") * 2)
    roles = {"value": "log_returns", "trend_x": "first_diff"}
    out = transforms.anti_naive_lock(df, roles, series_col="user_id").orderBy("ts").toPandas()
    assert out["value"].tolist() == pytest.approx([0.0, np.log(2.0), np.log(2.0)])
    assert out["trend_x"].tolist() == pytest.approx([0.0, 2.0, 4.0])


def test_exact_stl_log_return_feature(spark):
    df = _series_df(spark, [1.0, 2.0, 3.0, 4.0]).withColumn(
        "split", F.when(F.col("value") <= 3.0, "train").otherwise("test")
    )
    out = transforms.exact_stl_log_return_feature(
        df, "value", series_col="user_id"
    ).orderBy("ts").toPandas()
    # raw feature: [log1p(1), log1p(2)-log1p(1), ...] then z-scored on train
    lp = np.log1p([1.0, 2.0, 3.0, 4.0])
    raw = np.concatenate([[lp[0]], np.diff(lp)])
    tr = raw[:3]
    z = (raw - tr.mean()) / tr.std(ddof=1)
    assert out["log_return"].tolist() == pytest.approx(z.tolist())


def test_fft_features_match_numpy(spark):
    rng = np.random.default_rng(11)
    vals = rng.normal(0, 1, 60)
    w, nc = 16, 4
    out = (
        spectral.fft_window_features(_series_df(spark, vals), window_size=w, n_components=nc)
        .orderBy("ts").toPandas()
    )
    assert len(out) == 60 - w
    # oracle for the first emitted tick t=w: window vals[0:w]
    d = np.diff(vals[:w])
    mags = np.abs(np.fft.rfft(d))[:nc]
    mags = mags / mags.sum()
    got = out.iloc[0][[f"fft_{k}" for k in range(nc)]].to_numpy(dtype=float)
    np.testing.assert_allclose(got, mags, rtol=1e-10)


def test_stl_decompose_identity_and_seasonality(spark):
    # synthetic: trend + strong period-8 seasonality
    n, period = 120, 8
    t = np.arange(n)
    vals = 0.05 * t + 3.0 * np.sin(2 * np.pi * t / period)
    out = (
        stl.stl_decompose(_series_df(spark, vals), period=period)
        .orderBy("ts").toPandas()
    )
    # W8 identity: value == trend + seasonal + resid (exact by construction)
    recomposed = out["trend"] + out["seasonal"] + out["resid"]
    np.testing.assert_allclose(recomposed, out["value"], rtol=1e-12)
    # seasonal captures most of the oscillation away from the edges
    mid = out.iloc[period:-period]
    assert mid["seasonal"].std() > 1.5
    assert mid["resid"].abs().mean() < 0.8


def test_stl_recompose_uncertainty(spark):
    df = spark.createDataFrame([(3.0, 4.0)], "u1 double, u2 double")
    out = stl.recompose_uncertainty(df, ["u1", "u2"]).collect()[0]
    assert out["uncertainty"] == pytest.approx(5.0)


def test_fft_short_series_empty(spark):
    out = spectral.fft_window_features(_series_df(spark, [1.0, 2.0]), window_size=16)
    assert out.count() == 0


def test_fft_expr_equals_per_series(spark):
    """The closed-form codegen DFT (fft_window_features_expr — the r14
    form behind the registered w15 row) must reproduce the numpy
    applyInPandas path to float round-off on multi-series input,
    including a constant series (zero diffs -> denom guard) and a series
    shorter than the window (emits nothing)."""
    rng = np.random.RandomState(23)
    frames = []
    for uid, n in ((1, 80), (2, 17), (3, 10), (4, 40)):
        vals = np.full(n, 2.5) if uid == 4 else np.cumsum(rng.randn(n))
        frames.append(_series_df(spark, vals, user=uid))
    df = frames[0]
    for f in frames[1:]:
        df = df.unionAll(f)
    cols = [f"fft_{k}" for k in range(4)]
    base = (
        spectral.fft_window_features(df, window_size=16, n_components=4)
        .orderBy("user_id", "ts").toPandas()
    )
    expr = (
        spectral.fft_window_features_expr(df, window_size=16, n_components=4)
        .orderBy("user_id", "ts").toPandas()
    )
    assert len(expr) == len(base) == (80 - 16) + (17 - 16) + 0 + (40 - 16)
    assert expr["user_id"].tolist() == base["user_id"].tolist()
    assert expr["ts"].tolist() == base["ts"].tolist()
    # constant series: all-zero diffs -> mags 0 -> guard divides by 1
    const_rows = expr[expr["user_id"] == 4]
    assert (const_rows[cols].to_numpy() == 0.0).all()
    np.testing.assert_allclose(
        expr[cols].to_numpy(), base[cols].to_numpy(), atol=1e-12, rtol=1e-9
    )


def test_fft_expr_short_series_empty(spark):
    out = spectral.fft_window_features_expr(_series_df(spark, [1.0, 2.0]), window_size=16)
    assert out.count() == 0


def test_fft_chunked_equals_per_series(spark):
    """Halo-chunked single-series W15 must reproduce the per-series path
    exactly — chunk boundaries (incl. a short final chunk) are invisible."""
    rng = np.random.RandomState(7)
    vals = np.cumsum(rng.randn(250))
    df = _series_df(spark, vals)
    base = (
        spectral.fft_window_features(df, window_size=16, n_components=4)
        .orderBy("ts").toPandas()
    )
    chunked = (
        spectral.fft_window_features_chunked(df, window_size=16, n_components=4, chunk_size=64)
        .orderBy("ts").toPandas()
    )
    assert len(chunked) == len(base) == 250 - 16
    np.testing.assert_allclose(
        chunked[[f"fft_{k}" for k in range(4)]].to_numpy(),
        base[[f"fft_{k}" for k in range(4)]].to_numpy(),
        rtol=1e-12,
    )


def test_fft_chunked_rejects_small_chunks(spark):
    with pytest.raises(ValueError, match="must exceed"):
        spectral.fft_window_features_chunked(_series_df(spark, [1.0]), chunk_size=8, window_size=16)


def test_prophet_like_matches_numpy_and_recovers_structure(spark):
    import numpy as np
    import pandas as pd
    from predictor_spark.operators.prophet_like import (
        fit_predict_series, prophet_like_fit_predict)
    from predictor_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    # 1) cluster output == driver-side numpy replay, bit for bit
    ev = load_table(spark, SF_DIR, "events")
    got = prophet_like_fit_predict(ev).toPandas()
    got = got.sort_values(["user_id", "ts"]).reset_index(drop=True)
    pdf = ev.select("user_id", "ts", "value").toPandas()
    cutoff = np.datetime64("2024-01-22T00:00:00", "us")
    import pandas as pd

    def replay(g):
        g = g.sort_values("ts").reset_index(drop=True)
        yhat, _, _ = fit_predict_series(
            g["ts"].to_numpy("datetime64[us]"), g["value"].to_numpy(np.float64),
            cutoff, 3, 2)
        return g.assign(yhat=yhat)

    want = (
        pd.concat([replay(g) for _, g in pdf.groupby("user_id")])
        .sort_values(["user_id", "ts"]).reset_index(drop=True)
    )
    assert np.array_equal(got["yhat"].to_numpy(), want["yhat"].to_numpy())

    # 2) recovers a known trend + daily cycle far better than persistence
    base = np.datetime64("2024-01-01T00:00:00")
    ts = np.array([base + np.timedelta64(15 * i, "m") for i in range(2500)])
    sec = ts.astype("datetime64[us]").astype("int64") / 1e6
    y = 0.001 * (sec - sec[0]) / 900 + 5 * np.sin(2 * np.pi * (sec % 86400) / 86400)
    df = spark.createDataFrame(pd.DataFrame({
        "user_id": 1, "ts": ts.astype("datetime64[us]"), "value": y}))
    out = prophet_like_fit_predict(df, train_end="2024-01-20 00:00:00").toPandas()
    test = out[out["ts"] >= pd.Timestamp("2024-01-20")]
    mae = float(np.abs(test["value"] - test["yhat"]).mean())
    assert mae < 0.1, mae


# ---------------------------------------------------------------------------
# The in-house loess STL (Cleveland et al. 1990, operators/stl.py
# _stl_loess) — the engine's real-STL path when statsmodels is absent.
# ---------------------------------------------------------------------------

def test_loess_stl_recovers_exact_components():
    """Degree-1 loess reproduces linear functions exactly, so on a pure
    linear-trend + fixed-sinusoid series (no noise) the decomposition
    must recover both components to numerical precision — a property
    the classical fallback shares, pinned here as the baseline."""
    n, p = 240, 24
    x = np.arange(n, dtype=float)
    true_t = 0.05 * x + 3.0
    true_s = 2.0 * np.sin(2 * np.pi * x / p)
    t, s, r = stl._stl_loess(true_t + true_s, p)
    np.testing.assert_allclose(t + s + r, true_t + true_s, atol=1e-12)
    np.testing.assert_allclose(t, true_t, atol=1e-9)
    np.testing.assert_allclose(s, true_s, atol=1e-9)
    assert np.abs(r).max() < 1e-9


def test_loess_stl_tracks_evolving_seasonality():
    """What separates real STL from the classical phase-mean fallback:
    the cycle-subseries loess follows amplitude-MODULATED seasonality,
    which a constant per-phase mean cannot.  Demand a >=3x seasonal
    RMSE win over the classical decomposition on the same series."""
    rng = np.random.default_rng(1)
    n, p = 240, 24
    x = np.arange(n, dtype=float)
    true_s = (1.0 + x / n) * np.sin(2 * np.pi * x / p)
    vals = 0.05 * x + true_s + rng.normal(0, 0.05, n)
    _, s_loess, _ = stl._stl_loess(vals, p)
    _, s_classical, _ = stl._classical_decompose(vals, p)
    rmse = lambda a: float(np.sqrt(((a - true_s) ** 2).mean()))  # noqa: E731
    assert rmse(s_loess) * 3 < rmse(s_classical), (
        rmse(s_loess), rmse(s_classical))


def test_loess_stl_robust_downweights_outliers():
    """The outer bisquare loop must reduce spike leakage into the trend
    versus the non-robust fit on the same contaminated series."""
    n, p = 240, 24
    x = np.arange(n, dtype=float)
    true_t = 0.05 * x + 3.0
    vals = true_t + 2.0 * np.sin(2 * np.pi * x / p)
    vals[50] += 30.0
    vals[120] -= 25.0
    mask = np.ones(n, bool)
    mask[[50, 120]] = False
    t_rob, _, _ = stl._stl_loess(vals, p, robust=True)
    t_plain, _, _ = stl._stl_loess(vals, p, robust=False)
    err = lambda t: float(np.sqrt(((t - true_t)[mask] ** 2).mean()))  # noqa: E731
    assert err(t_rob) < err(t_plain)
    # identity holds on the robust path too
    t, s, r = stl._stl_loess(vals, p, robust=True)
    np.testing.assert_allclose(t + s + r, vals, atol=1e-12)


def test_stl_decompose_loess_method_on_spark(spark):
    """method="loess" through the per-series Arrow seam: distributed
    execution preserves the recomposition identity and beats the
    classical seasonal on a modulated series."""
    rng = np.random.default_rng(2)
    n, p = 147, 7
    x = np.arange(n, dtype=float)
    true_s = (1.0 + x / n) * np.sin(2 * np.pi * x / p)
    vals = 0.02 * x + true_s + rng.normal(0, 0.02, n)
    out = (stl.stl_decompose(_series_df(spark, list(map(float, vals))),
                             period=p, method="loess")
           .orderBy("ts").toPandas())
    np.testing.assert_allclose(
        out["trend"] + out["seasonal"] + out["resid"], out["value"],
        atol=1e-9)
    rmse = float(np.sqrt(((out["seasonal"].to_numpy() - true_s) ** 2).mean()))
    assert rmse < 0.2, rmse


def test_stl_decompose_method_validation(spark):
    df = _series_df(spark, [1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="unknown STL method"):
        stl.stl_decompose(df, method="fourier")
    if not stl.HAVE_STATSMODELS:
        with pytest.raises(ImportError):
            stl.stl_decompose(df, method="statsmodels")


@pytest.mark.skipif(not stl.HAVE_STATSMODELS,
                    reason="statsmodels not installed in this image")
def test_loess_stl_matches_statsmodels():  # pragma: no cover - env-gated
    """Same algorithm, same default spans: the in-house loess STL and
    statsmodels.STL must agree closely (not bit-exact — statsmodels is
    a Fortran-lineage port with jump interpolation)."""
    from statsmodels.tsa.seasonal import STL

    rng = np.random.default_rng(3)
    n, p = 240, 24
    x = np.arange(n, dtype=float)
    vals = 0.05 * x + (1 + x / n) * np.sin(2 * np.pi * x / p) \
        + rng.normal(0, 0.1, n)
    t, s, r = stl._stl_loess(vals, p)
    res = STL(vals, period=p).fit()
    assert float(np.sqrt(((t - res.trend) ** 2).mean())) < 0.1
    assert float(np.sqrt(((s - res.seasonal) ** 2).mean())) < 0.1


def test_loess_fast_paths_match_generic():
    """The two vectorized loess paths (symmetric-interior convolution
    when rho is None; strided-view batch solve when rho varies) must
    agree with the generic per-point solve to numerical precision —
    forcing the generic path via an explicit xeval."""
    rng = np.random.default_rng(4)
    for m, q in [(60, 7), (200, 25), (33, 5), (40, 39)]:
        y = rng.normal(size=m)
        ev = np.arange(m, dtype=float)
        np.testing.assert_allclose(
            stl._loess(y, q, 1),
            stl._loess(y, q, 1, xeval=ev), atol=1e-10)
        rho = rng.uniform(0.1, 1.0, m)
        np.testing.assert_allclose(
            stl._loess(y, q, 1, rho=rho),
            stl._loess(y, q, 1, rho=rho, xeval=ev), atol=1e-10)
