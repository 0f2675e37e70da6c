"""Per-series model store (models/registry.py): fit once -> weights
DataFrame -> predict later, pinned bit-identical to the one-shot
fit_predict_per_series path, through a parquet round-trip, including the
multivariate/flatten variants and true-future (NaN-target) windows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from predictor_spark.models import mlp, nbeats, tcn
from predictor_spark.models.estimator import fit_predict_per_series
from predictor_spark.models.registry import (
    deserialize_params,
    fit_per_series,
    load_model_store,
    predict_from_weights,
    save_model_store,
    serialize_params,
)

_CUT = "2024-01-10 00:00:00"


def _frame(n_series=3, n=60, seed=17):
    rng = np.random.default_rng(seed)
    frames = []
    for uid in range(n_series):
        ts = pd.date_range("2024-01-01", periods=n, freq="6h")
        v = np.cumsum(rng.normal(size=n)) + 40.0
        frames.append(pd.DataFrame(
            {"user_id": uid, "ts": ts, "value": v,
             "f1": rng.normal(size=n)}))
    return pd.concat(frames, ignore_index=True)


def test_serialize_roundtrip():
    params = {"W0": np.arange(6.0).reshape(2, 3), "__meta": np.array([1, 2]),
              "ch0": np.array(0.5)}
    stats = {"mu": 1.5, "sd": 2.0, "horizons": np.array([1, 3]),
             "ch_mu": np.array([0.1, 0.2])}
    p2, s2 = deserialize_params(serialize_params(params, stats))
    assert set(p2) == set(params)
    for k in params:
        np.testing.assert_array_equal(p2[k], params[k])
    assert float(s2["mu"]) == 1.5
    np.testing.assert_array_equal(s2["ch_mu"], stats["ch_mu"])


@pytest.mark.parametrize("core,kw,feats,flat", [
    (tcn, dict(layers=2, channels=4, kernel=2), (), False),
    (tcn, dict(layers=2, channels=4, kernel=2), ("f1",), False),
    (mlp, dict(layers=1, units=6), ("f1",), True),
    # the default core of the store and of streaming scoring
    (nbeats, dict(blocks=1, layers=2, units=5), (), False),
])
def test_store_matches_one_shot(spark, tmp_path, core, kw, feats, flat):
    """fit_per_series -> parquet -> predict_from_weights(score_from=cutoff)
    equals fit_predict_per_series' test rows bit-for-bit."""
    pdf = _frame()
    sdf = spark.createDataFrame(pdf)
    common = dict(value_col="value", ts_col="ts", series_col="user_id",
                  window=6, feature_cols=feats)
    tkw = dict(epochs=4, lr=5e-3, **kw)
    want = fit_predict_per_series(
        sdf, core, train_end=_CUT, horizons=(1, 2), train_kwargs=tkw,
        seed=0, flatten_features=flat, **common,
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)

    store = fit_per_series(
        sdf, core, train_end=_CUT, horizons=(1, 2), train_kwargs=tkw,
        seed=0, flatten_features=flat, **common,
    )
    path = str(tmp_path / "store")
    save_model_store(store, path)
    loaded = load_model_store(spark, path)
    assert loaded.count() == 3

    pred_kw = {k: v for k, v in common.items() if k != "window"}
    got = predict_from_weights(
        sdf, loaded, core, score_from=_CUT, seed=0, **pred_kw,
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)

    # the one-shot path drops windows whose targets don't exist; the store
    # path scores them too (true inference) with NaN targets — compare on
    # the common subset
    both = got[got["target_h2"].notna()].reset_index(drop=True)
    assert len(both) == len(want) > 0
    for c in ("user_id", "pred_h1", "pred_h2", "target_h1", "target_h2"):
        np.testing.assert_array_equal(both[c].to_numpy(), want[c].to_numpy())

    # future windows (no h2 target yet) exist and carry real predictions
    fut = got[got["target_h2"].isna()]
    assert len(fut) > 0
    assert fut["pred_h1"].notna().all()


def test_short_series_emit_no_weights(spark):
    pdf = _frame(n_series=1, n=8)  # too short to pass the train guard
    store = fit_per_series(
        spark.createDataFrame(pdf), tcn, train_end=_CUT, window=6,
        horizons=(1,), train_kwargs=dict(layers=1, channels=3, kernel=2,
                                         epochs=2),
    )
    assert store.count() == 0


def test_stream_score_model_matches_batch(spark):
    """Streaming deep-model inference (window state across micro-batches)
    equals batch predict_from_weights bit-for-bit on every scored row."""
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.inference import stream_score_model

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")
    store = fit_per_series(
        ev, tcn, train_end="2024-01-22 00:00:00", window=6, horizons=(1,),
        train_kwargs=dict(layers=1, channels=3, kernel=2, epochs=3), seed=0,
    )
    assert store.count() > 0
    streamed = stream_score_model(spark, sf, store, tcn, n_chunks=3) \
        .toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)
    batch = predict_from_weights(
        ev, store, tcn, seed=0,
    ).toPandas().sort_values(["user_id", "ts"]).reset_index(drop=True)
    assert len(streamed) == len(batch) > 0
    np.testing.assert_array_equal(streamed["user_id"].to_numpy(),
                                  batch["user_id"].to_numpy())
    np.testing.assert_array_equal(streamed["pred_h1"].to_numpy(),
                                  batch["pred_h1"].to_numpy())


def test_model_predictions_drive_strategy(spark):
    """The production composition: registry predictions -> heuristic
    strategy. The distributed fold equals a local pandas replay of
    simulate_series with the same prediction matrix, and perfect
    predictions reproduce the perfect-foresight backtest."""
    from predictor_spark.operators.trading import (
        simulate_heuristic_strategy,
        simulate_model_strategy,
        simulate_series,
    )
    from predictor_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("user_id", "ts", "value")
    hs = (1, 2, 3)
    store = fit_per_series(
        ev, mlp, train_end="2024-01-10 00:00:00", window=5, horizons=hs,
        train_kwargs=dict(layers=1, units=5, epochs=3), seed=0,
    )
    scored = predict_from_weights(ev, store, mlp, seed=0)
    trades = simulate_model_strategy(scored, hs) \
        .toPandas().sort_values(["user_id", "entry_ts"]).reset_index(drop=True)

    # local replay per series
    sc = scored.toPandas()
    import pandas as pd

    reps = []
    for uid, g in sc.groupby("user_id"):
        g = g.sort_values("ts").reset_index(drop=True)
        m = g[[f"pred_h{h}" for h in hs]].to_numpy(np.float64)
        reps += [{**t, "user_id": uid} for t in simulate_series(
            g["ts"].to_numpy(), g["value"].to_numpy(np.float64),
            horizon=len(hs), pred_matrix=m)]
    want = pd.DataFrame(reps).sort_values(["user_id", "entry_ts"]) \
        .reset_index(drop=True)
    assert len(trades) == len(want)
    if len(trades):
        np.testing.assert_array_equal(trades["pnl"].to_numpy(),
                                      want["pnl"].to_numpy())
        np.testing.assert_array_equal(trades["balance"].to_numpy(),
                                      want["balance"].to_numpy())

    # sanity: the default (perfect-foresight) path is untouched
    pf = simulate_heuristic_strategy(ev, horizon=3)
    assert pf.count() > 0
