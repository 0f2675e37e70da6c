"""Spark distribution shells for the numpy N-BEATS core.

Per-series training (`nbeats_fit_predict_per_series`): the reference
trains ONE Keras model per configured series in one process
(predictor_plugins/common/base.py:260-322); here every series trains its
own model inside one applyInPandas task — N series = N models in a single
Spark stage, the same topology that lets ar1_fit_predict scale to 10^8
series. Each task is seeded from (seed, series_id), so the distributed
result is bit-identical to a local numpy run on the same series
(differential-tested).

Scale: one shuffle (groupBy series) of the feature columns only; each
task holds ~|series| rows + a tiny weight dict. The driver never sees
weights or windows. Skewed series lengths are bounded by the per-series
row cap upstream; a giant single series would use the halo-chunked FFT
pattern instead (operators/spectral.py) — windows there, model here.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from predictor_spark.models import nbeats


def _windows(v: np.ndarray, window: int) -> np.ndarray:
    """X[i] = v[i-window+1 .. i] for every complete-window end index i,
    via stride tricks (no copy until the model's matmul)."""
    if len(v) < window:
        return np.empty((0, window))
    return np.lib.stride_tricks.sliding_window_view(v, window)


class SeriesWindows(NamedTuple):
    """One series sorted by time and cut into complete windows. X is
    (N, window), or the channels-last (N, window, C) stack with the value
    channel first when there are feature columns; ends[i] is the index
    of X[i]'s last step."""

    v: np.ndarray
    ts: pd.Series
    chans: list[np.ndarray]
    X: np.ndarray
    ends: np.ndarray


def series_windows(pdf: pd.DataFrame, value_col: str, ts_col: str,
                   window: int, feature_cols: tuple[str, ...]) -> SeriesWindows:
    pdf = pdf.sort_values(ts_col).reset_index(drop=True)
    v = pdf[value_col].to_numpy(dtype=np.float64)
    chans = [v] + [pdf[c].to_numpy(dtype=np.float64) for c in feature_cols]
    X = (np.stack([_windows(ch, window) for ch in chans], axis=-1)
         if feature_cols else _windows(v, window))
    return SeriesWindows(v, pdf[ts_col], chans, X,
                         np.arange(window - 1, len(v)))


def train_mask(sw: SeriesWindows, max_h: int, cutoff) -> np.ndarray:
    """Train windows: every horizon target exists AND lands before the
    cutoff (the same no-leakage guard as ar1_fit_predict)."""
    n = len(sw.v)
    tr = sw.ends + max_h < n
    tr &= sw.ts.iloc[np.minimum(sw.ends + max_h, n - 1)].to_numpy() < cutoff
    return tr


def normalize(X: np.ndarray, stats: dict) -> np.ndarray:
    """Z-score windows by train stats: one (mu, sd) for (N, window) X;
    per channel for a channels-last (N, window, C) stack, flattened to
    (N, window * C) afterwards when ``stats["flatten"]`` is set."""
    if X.ndim == 2:
        return (X - float(stats["mu"])) / float(stats["sd"])
    Xn = (X - stats["ch_mu"]) / stats["ch_sd"]
    return Xn.reshape(Xn.shape[0], -1) if int(stats.get("flatten", 0)) else Xn


def fit_series(core, sw: SeriesWindows, tr: np.ndarray, cutoff,
               horizons: tuple[int, ...], seed, train_kwargs: dict,
               flatten: bool) -> tuple[dict, dict, np.ndarray]:
    """Fit ``core`` on one series' train windows ``tr``. Inputs and
    targets are z-normalized by stats of the values before ``cutoff``
    (fit-on-train only, reference phase2_6_preprocessor.py:346-349; a
    near-zero std becomes 1). Returns (params, stats, normalized train
    windows); ``stats`` is what ``normalize`` and the denormalization
    need."""
    cut = int(np.searchsorted(sw.ts.to_numpy(), cutoff))
    mu = float(sw.v[:cut].mean())
    sd = float(sw.v[:cut].std())
    sd = sd if abs(sd) > 1e-8 else 1.0   # N1 std guard
    stats = {"mu": mu, "sd": sd, "flatten": int(flatten)}
    if sw.X.ndim == 3:
        # per-channel train stats (channel 0 is the value channel)
        ch_mu = np.array([ch[:cut].mean() for ch in sw.chans])
        ch_sd = np.array([ch[:cut].std() for ch in sw.chans])
        ch_sd[np.abs(ch_sd) < 1e-8] = 1.0
        ch_mu[0], ch_sd[0] = mu, sd
        stats["ch_mu"], stats["ch_sd"] = ch_mu, ch_sd
    Xtr = normalize(sw.X[tr], stats)
    tgts = {h: (sw.v[sw.ends[tr] + h] - mu) / sd for h in horizons}
    params, _ = core.train(Xtr, tgts, horizons, seed=seed, **train_kwargs)
    return params, stats, Xtr


def fit_predict_per_series(
    df: DataFrame,
    core=None,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    train_end: str = "2024-01-22 00:00:00",
    window: int = 8,
    horizons: tuple[int, ...] = (1,),
    train_kwargs: dict | None = None,
    mc_samples: int = 0,
    dropout_rate: float = 0.1,
    seed: int = 0,
    feature_cols: tuple[str, ...] = (),
    emit_train: bool = False,
    flatten_features: bool = False,
) -> DataFrame:
    """Fit one deterministic numpy model per series on the train slice
    (windows whose TARGET timestamp is still before the cutoff — the same
    no-leakage guard as ar1_fit_predict), score the held-out windows.

    ``core`` is any model module exposing the family contract (the
    engine's analog of the reference's predictor-plugin base,
    predictor_plugins/common/base.py:74-124):
      train(X, targets, horizons, seed=..., **train_kwargs)
        -> (params, losses)
      predict_with_uncertainty(params, X, horizons, mc_samples,
        dropout_rate, seed) -> (means, stds)
    Cores: models.nbeats (default), models.mlp, models.tcn, models.lstm,
    models.transformer, models.tft, models.mimo, models.composite; each
    binds the shared contract in models/layers.py.

    Returns one row per (series, test window end): value, baseline
    (persistence), and per horizon target_h / pred_h / unc_h. Inputs and
    targets are z-normalized by TRAIN stats inside the task (fit-on-train
    only, reference phase2_6_preprocessor.py:346-349), predictions are
    denormalized back.

    ``emit_train``: also emit one row per TRAIN window (in-sample
    predictions, uncertainty zeroed), flagged by an extra ``is_train``
    boolean column — the reference reports Train metrics alongside
    Validation/Test (results long format, FIXTURES F7), and the GA
    fitness needs the in-sample delta (candidate_worker.py:344-359).

    ``feature_cols``: extra per-timestep feature columns. When given, X
    becomes channels-last (N, window, 1 + len(feature_cols)) with the
    value channel first, each channel z-normalized by its OWN train
    stats — the multivariate frame the reference preprocessor feeds its
    Conv1D models (phase2_6_preprocessor.py:615-617, ~54 columns). The
    core must accept 3-D X (models.tcn does); univariate callers are
    unchanged. ``flatten_features`` reshapes that stack to
    (N, window * channels) for the dense cores (mlp / nbeats /
    transformer take 2-D input — the reference flattens windows the same
    way for its dense plugins, predictor_plugin_ann.py input reshape).
    """
    core = core if core is not None else nbeats
    train_kwargs = dict(train_kwargs or {})
    hs = tuple(int(h) for h in horizons)
    max_h = max(hs)
    cutoff = np.datetime64(pd.Timestamp(train_end))

    fields = [f"{series_col} long", f"{ts_col} timestamp",
              "value double", "baseline double"]
    for h in hs:
        fields += [f"target_h{h} double", f"pred_h{h} double", f"unc_h{h} double"]
    if emit_train:
        fields.append("is_train boolean")
    schema = ", ".join(fields)

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf[series_col].iloc[0])
        sw = series_windows(pdf, value_col, ts_col, window, feature_cols)
        v, ts, ends = sw.v, sw.ts, sw.ends
        out_cols = {series_col: [], ts_col: [], "value": [], "baseline": []}
        for h in hs:
            out_cols[f"target_h{h}"] = []
            out_cols[f"pred_h{h}"] = []
            out_cols[f"unc_h{h}"] = []
        if emit_train:
            out_cols["is_train"] = []
        tr = train_mask(sw, max_h, cutoff)
        # test rows: window end at/after cutoff, all targets exist
        te = (ts.iloc[ends].to_numpy() >= cutoff) & (ends + max_h < len(v))
        if tr.sum() >= 4 and te.sum() > 0:
            params, stats, Xtr = fit_series(
                core, sw, tr, cutoff, hs, (seed, sid), train_kwargs,
                flatten_features)
            mu, sd = stats["mu"], stats["sd"]
            preds, uncs = core.predict_with_uncertainty(
                params, normalize(sw.X[te], stats), hs,
                mc_samples=mc_samples, dropout_rate=dropout_rate,
                seed=(seed, sid, 1),
            )
            e_te = ends[te]
            k = len(e_te)
            if emit_train:
                tr_preds = core.predict(params, Xtr, hs)  # in-sample, no MC
                e_tr = ends[tr]
                out_cols[series_col] = [sid] * len(e_tr)
                out_cols[ts_col] = list(ts.iloc[e_tr])
                out_cols["value"] = list(v[e_tr])
                out_cols["baseline"] = list(v[e_tr])
                for h in hs:
                    out_cols[f"target_h{h}"] = list(v[e_tr + h])
                    out_cols[f"pred_h{h}"] = list(tr_preds[h] * sd + mu)
                    out_cols[f"unc_h{h}"] = [0.0] * len(e_tr)
                out_cols["is_train"] = [True] * len(e_tr) + [False] * k
            out_cols[series_col] += [sid] * k
            out_cols[ts_col] += list(ts.iloc[e_te])
            out_cols["value"] += list(v[e_te])
            out_cols["baseline"] += list(v[e_te])
            for h in hs:
                out_cols[f"target_h{h}"] += list(v[e_te + h])
                out_cols[f"pred_h{h}"] += list(preds[h] * sd + mu)
                out_cols[f"unc_h{h}"] += list(uncs[h] * sd)
        out = pd.DataFrame(out_cols)
        if not len(out):
            # a series with too little train data (or no test window)
            # yields ZERO rows: all-empty lists make float64 columns and
            # Arrow refuses the double->timestamp cast, killing the whole
            # job for one thin series — pin the dtypes the schema declares
            out[ts_col] = pd.to_datetime(out[ts_col])
            out[series_col] = out[series_col].astype("int64")
            if emit_train:
                out["is_train"] = out["is_train"].astype(bool)
        return out

    # ship the package zip: fit_group references the core module, which a
    # vanilla driver session's workers cannot import otherwise
    from predictor_spark.shiplib import ensure_workers_can_import

    ensure_workers_can_import(df.sparkSession)
    # Explicit numbered repartition on the grouping key: the training shuffle
    # carries only a few MB, so AQE would coalesce it to ONE partition and
    # serialize all N model fits on a single core (the CPU-heavy/small-data
    # trap documented in operators/spectral.py:96-103). A user-specified
    # partition count is exempt from AQE coalescing, and since the data is
    # then already hash-partitioned on the key, groupBy adds no new exchange.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_part, series_col)
        .groupBy(series_col).applyInPandas(fit_group, schema)
    )


def nbeats_fit_predict_per_series(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    train_end: str = "2024-01-22 00:00:00",
    window: int = 8,
    horizons: tuple[int, ...] = (1,),
    blocks: int = 2,
    layers: int = 2,
    units: int = 8,
    epochs: int = 25,
    lr: float = 5e-3,
    weight_decay: float = 3e-2,
    mc_samples: int = 0,
    dropout_rate: float = 0.1,
    seed: int = 0,
    emit_train: bool = False,
) -> DataFrame:
    """N-BEATS instantiation of ``fit_predict_per_series``. Defaults are
    tuned for short noisy series: the AdamW weight decay is the
    early-stopping analog (the reference regularizes with l2 + early
    patience, predictor_plugin_n_beats.py:23-35) — unregularized nets
    memorize ~40-sample series and lose to the persistence baseline."""
    return fit_predict_per_series(
        df, nbeats, value_col, ts_col, series_col, train_end, window,
        horizons,
        train_kwargs=dict(blocks=blocks, layers=layers, units=units,
                          epochs=epochs, lr=lr, weight_decay=weight_decay),
        mc_samples=mc_samples, dropout_rate=dropout_rate, seed=seed,
        emit_train=emit_train,
    )

