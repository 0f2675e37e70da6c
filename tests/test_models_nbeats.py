"""Numpy N-BEATS core + Spark per-series estimator.

The gradcheck pins the hand-derived backprop; the differential test pins
the Spark distribution (applyInPandas result == local numpy run, same
seed); the beats-naive test is the VERDICT r1 #2 done-criterion.
"""

from __future__ import annotations

import numpy as np
import pytest

from predictor_spark.models import nbeats


def _toy(n=24, d=6, hs=(1, 3), seed=7):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, d))
    tgts = {h: rng.normal(size=n) for h in hs}
    return X, tgts, hs


def test_gradcheck_finite_differences():
    X, tgts, hs = _toy()
    rng = np.random.default_rng(0)
    p = nbeats.init_params(rng, X.shape[1], hs, blocks=2, layers=2, units=5)
    _, g = nbeats.loss_and_grads(p, X, tgts, hs)
    eps = 1e-6
    rngk = np.random.default_rng(1)
    for k in g:
        arr = np.atleast_1d(p[k]).astype(float)
        flat = arr.reshape(-1)
        # spot-check up to 5 coordinates per tensor
        idxs = rngk.choice(flat.size, size=min(5, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + eps
            p[k] = flat.reshape(arr.shape) if p[k].ndim else np.array(flat[0])
            lp = nbeats.loss_and_grads(p, X, tgts, hs)[0]
            flat[i] = orig - eps
            p[k] = flat.reshape(arr.shape) if p[k].ndim else np.array(flat[0])
            lm = nbeats.loss_and_grads(p, X, tgts, hs)[0]
            flat[i] = orig
            p[k] = flat.reshape(arr.shape) if p[k].ndim else np.array(flat[0])
            num = (lp - lm) / (2 * eps)
            ana = np.atleast_1d(g[k]).reshape(-1)[i]
            assert abs(num - ana) < 1e-5 * max(1.0, abs(num)), (k, i, num, ana)


def test_training_is_deterministic_and_converges():
    X, tgts, hs = _toy(n=40)
    p1, l1 = nbeats.train(X, tgts, hs, seed=3, epochs=60)
    p2, l2 = nbeats.train(X, tgts, hs, seed=3, epochs=60)
    assert l1 == l2
    for k in p1:
        assert np.array_equal(p1[k], p2[k])
    assert l1[-1] < l1[0]  # loss decreases


@pytest.mark.parametrize("name", ["composite", "lstm", "mimo", "mlp",
                                  "nbeats", "tcn", "tft", "transformer"])
def test_mc_uncertainty_contract(name):
    """Every core's predict_with_uncertainty (models/layers.py, bound to
    the core's forward): deterministic with zero std at mc_samples<=1,
    a seeded MC-dropout draw otherwise."""
    import importlib

    core = importlib.import_module(f"predictor_spark.models.{name}")
    X, tgts, hs = _toy(n=30)
    p, _ = core.train(X, tgts, hs, seed=5, epochs=20)
    want = core.predict(p, X, hs)
    for mc in (0, 1):
        det, z = core.predict_with_uncertainty(p, X, hs, mc_samples=mc)
        assert all((z[h] == 0).all() for h in hs)
        assert all(np.array_equal(det[h], want[h]) for h in hs)
    mean, std = core.predict_with_uncertainty(p, X, hs, mc_samples=8,
                                              dropout_rate=0.2, seed=9)
    assert all((std[h] > 0).any() for h in hs)
    # same seed -> identical MC draw
    mean2, std2 = core.predict_with_uncertainty(p, X, hs, mc_samples=8,
                                                dropout_rate=0.2, seed=9)
    assert all(np.array_equal(mean[h], mean2[h]) for h in hs)
    assert all(np.array_equal(std[h], std2[h]) for h in hs)


def test_spark_matches_local_numpy(spark):
    """Differential oracle: the applyInPandas path must reproduce a local
    numpy train/predict on the same fixed series, same seed."""
    import pandas as pd
    from predictor_spark.models.estimator import nbeats_fit_predict_per_series

    rng = np.random.default_rng(11)
    n = 66
    ts = pd.date_range("2024-01-01", periods=n, freq="10h")  # crosses Jan 22
    v = np.cumsum(rng.normal(size=n)) + 50.0
    pdf = pd.DataFrame({"user_id": 7, "ts": ts, "value": v})
    sdf = spark.createDataFrame(pdf)

    got = (
        nbeats_fit_predict_per_series(
            sdf, train_end="2024-01-22 00:00:00", window=8, horizons=(1,),
            epochs=40, weight_decay=0.0, seed=0)
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    assert len(got) > 0

    # local replay
    cut = np.datetime64("2024-01-22 00:00:00")
    W, h = 8, 1
    X = np.lib.stride_tricks.sliding_window_view(v, W)
    ends = np.arange(W - 1, n)
    tr = (ends + h < n) & (ts.values[np.minimum(ends + h, n - 1)] < cut)
    te = (ts.values[ends] >= cut) & (ends + h < n)
    ntr = np.searchsorted(ts.values, cut)
    mu, sd = v[:ntr].mean(), v[:ntr].std()
    # explicit hyperparams = the estimator's defaults (units/lr differ from
    # the numpy core's own defaults)
    params, _ = nbeats.train((X[tr] - mu) / sd, {1: (v[ends[tr] + 1] - mu) / sd},
                             (1,), seed=(0, 7), epochs=40, units=8, lr=5e-3,
                             weight_decay=0.0)
    want = nbeats.predict(params, (X[te] - mu) / sd, (1,))[1] * sd + mu
    assert np.allclose(got["pred_h1"].to_numpy(), want, atol=1e-9)
    assert np.allclose(got["target_h1"].to_numpy(), v[ends[te] + 1], atol=0)


@pytest.mark.slow
def test_beats_naive_on_events(spark):
    """VERDICT r1 #2 done-criterion: the model must beat naive MAE on the
    synthetic events table (sf0.001, all series)."""
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F
    from predictor_spark.models.estimator import nbeats_fit_predict_per_series
    from predictor_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    scored = nbeats_fit_predict_per_series(ev, epochs=60, window=8, horizons=(1,))
    row = scored.agg(
        F.avg(F.abs(F.col("pred_h1") - F.col("target_h1"))).alias("mae"),
        F.avg(F.abs(F.col("baseline") - F.col("target_h1"))).alias("naive_mae"),
    ).collect()[0]
    assert row["mae"] < row["naive_mae"], (row["mae"], row["naive_mae"])


def test_forward_pass_expressions_match_numpy_core(spark):
    """The nbeats_forward_pass companion query (catalog_models.py) builds
    the forward pass as SQL scalar expressions from literal weights; it
    must compute the same function as models/nbeats.forward."""
    import pandas as pd
    from predictor_spark.plans.catalog_models import (
        _nbeats_literal_params, nbeats_forward_layers)

    rng = np.random.default_rng(3)
    X = rng.normal(size=(64, 8)) * 50.0  # raw scale; expressions divide by 100
    p = _nbeats_literal_params()
    want = nbeats.predict(p, X / 100.0, (1,))[1]

    pdf = pd.DataFrame({f"w{i}": X[:, i] for i in range(8)})
    df = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F
    for layer in nbeats_forward_layers([f"w{i}" for i in range(8)]):
        df = df.withColumns({c: F.expr(e) for c, e in layer.items()})
    got = df.select("y").toPandas()["y"].to_numpy()
    assert np.allclose(got, want, atol=1e-9)
