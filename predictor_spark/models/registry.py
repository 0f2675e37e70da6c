"""Per-series model persistence — train once, score many times.

The reference persists each trained predictor as a ``.keras`` artifact
and reloads it for later prediction runs (predictor_plugins/common/
base.py:325-330 save/load; app/main.py separate train vs predict
phases). The engine's analog stores EVERY series' weights as one row of
a DataFrame — ``(series, n_train, params binary)`` with the numpy
weight dict + train-time normalization stats npz-compressed into the
binary column — so the model store itself is just a parquet table:
partition-prunable, joinable, versionable, and readable anywhere.

Scoring joins the weights back to the data CO-PARTITIONED
(``groupBy(series).cogroup(weights.groupBy(series))``): one shuffle of
each side on the series key, weights are a few KB per series, windows
never leave the task, nothing touches the driver. At 10^6 series on
1000 executors this is a plain co-partitioned join followed by
map-side numpy — the standard "model registry in a table" topology.

fit_per_series / predict_from_weights are differentially pinned against
fit_predict_per_series (tests/test_registry.py): fit+predict through
the store is bit-identical to the one-shot path.
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from predictor_spark.models import nbeats
from predictor_spark.models.estimator import (
    fit_series,
    normalize,
    series_windows,
    train_mask,
)


def serialize_params(params: dict, stats: dict) -> bytes:
    """npz-compress the weight dict + float/array train stats. Scalar
    stats are stored as 0-d arrays under ``__stat_<name>``."""
    buf = io.BytesIO()
    payload = {f"p_{k}": np.asarray(v) for k, v in params.items()}
    payload.update({f"__stat_{k}": np.asarray(v) for k, v in stats.items()})
    np.savez_compressed(buf, **payload)
    return buf.getvalue()


def deserialize_params(blob: bytes) -> tuple[dict, dict]:
    with np.load(io.BytesIO(blob)) as z:
        params = {k[2:]: z[k] for k in z.files if k.startswith("p_")}
        stats = {k[7:]: z[k] for k in z.files if k.startswith("__stat_")}
    return params, stats


def fit_per_series(
    df: DataFrame,
    core=None,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    train_end: str = "2024-01-22 00:00:00",
    window: int = 8,
    horizons: tuple[int, ...] = (1,),
    train_kwargs: dict | None = None,
    seed: int = 0,
    feature_cols: tuple[str, ...] = (),
    flatten_features: bool = False,
) -> DataFrame:
    """Train one model per series (estimator.fit_series: the same train
    windows, normalization and seeding as fit_predict_per_series) and
    return the MODEL STORE: one row per trainable series —
    ``(series, n_train, params binary)``. Series failing the train
    guards (too few windows) emit no row."""
    core = core if core is not None else nbeats
    train_kwargs = dict(train_kwargs or {})
    hs = tuple(int(h) for h in horizons)
    max_h = max(hs)
    cutoff = np.datetime64(pd.Timestamp(train_end))
    schema = f"{series_col} long, n_train long, params binary"

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf[series_col].iloc[0])
        sw = series_windows(pdf, value_col, ts_col, window, feature_cols)
        tr = train_mask(sw, max_h, cutoff)
        if tr.sum() < 4:
            return pd.DataFrame(columns=[series_col, "n_train", "params"])
        params, stats, _ = fit_series(core, sw, tr, cutoff, hs, (seed, sid),
                                      train_kwargs, flatten_features)
        stats.update(window=window, horizons=np.array(hs))
        return pd.DataFrame([{
            series_col: sid,
            "n_train": int(tr.sum()),
            "params": serialize_params(params, stats),
        }])

    from predictor_spark.shiplib import ensure_workers_can_import

    ensure_workers_can_import(df.sparkSession)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_part, series_col)
        .groupBy(series_col).applyInPandas(fit_group, schema)
    )


def predict_from_weights(
    df: DataFrame,
    weights: DataFrame,
    core=None,
    value_col: str = "value",
    ts_col: str = "ts",
    series_col: str = "user_id",
    score_from: str | None = None,
    feature_cols: tuple[str, ...] = (),
    mc_samples: int = 0,
    dropout_rate: float = 0.1,
    seed: int = 0,
) -> DataFrame:
    """Score every complete window (optionally only window-ends at/after
    ``score_from``) using the stored per-series weights. Window size,
    horizons, normalization stats, and flattening come from the store.
    Targets are emitted where they exist in the data and are NaN for the
    true-future windows (the actual inference case). Output: one row per
    (series, window end): value, baseline, per-horizon
    target_h / pred_h / unc_h."""
    core = core if core is not None else nbeats

    # horizons live in the store; read ONE row's stats to build the
    # output schema (driver-side, a single tiny row)
    one = weights.select("params").limit(1).collect()
    if not one:
        raise ValueError("empty weights frame")
    _, stats0 = deserialize_params(one[0]["params"])
    hs = tuple(int(h) for h in stats0["horizons"])
    fields = [f"{series_col} long", f"{ts_col} timestamp",
              "value double", "baseline double"]
    for h in hs:
        fields += [f"target_h{h} double", f"pred_h{h} double",
                   f"unc_h{h} double"]
    schema = ", ".join(fields)
    from_np = (np.datetime64(pd.Timestamp(score_from))
               if score_from is not None else None)

    def score_group(data_pdf: pd.DataFrame, w_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [series_col, ts_col, "value", "baseline"] + [
            f"{p}_h{h}" for h in hs for p in ("target", "pred", "unc")]
        if len(data_pdf) == 0 or len(w_pdf) == 0:
            return pd.DataFrame(columns=cols)
        params, stats = deserialize_params(w_pdf["params"].iloc[0])
        mu, sd = float(stats["mu"]), float(stats["sd"])
        sid = int(data_pdf[series_col].iloc[0])
        sw = series_windows(data_pdf, value_col, ts_col,
                            int(stats["window"]), feature_cols)
        v, ts, ends = sw.v, sw.ts, sw.ends
        if len(ends) == 0:
            return pd.DataFrame(columns=cols)
        keep = np.ones(len(ends), dtype=bool)
        if from_np is not None:
            keep &= ts.iloc[ends].to_numpy() >= from_np
        if not keep.any():
            return pd.DataFrame(columns=cols)
        preds, uncs = core.predict_with_uncertainty(
            params, normalize(sw.X[keep], stats), hs, mc_samples=mc_samples,
            dropout_rate=dropout_rate, seed=(seed, sid, 1),
        )
        e = ends[keep]
        n = len(v)
        out = {series_col: [sid] * len(e), ts_col: list(ts.iloc[e]),
               "value": list(v[e]), "baseline": list(v[e])}
        for h in hs:
            tgt_idx = e + h
            out[f"target_h{h}"] = [v[i] if i < n else np.nan for i in tgt_idx]
            out[f"pred_h{h}"] = list(preds[h] * sd + mu)
            out[f"unc_h{h}"] = list(uncs[h] * sd)
        return pd.DataFrame(out)

    from predictor_spark.shiplib import ensure_workers_can_import

    ensure_workers_can_import(df.sparkSession)
    cols = [series_col, ts_col, value_col, *feature_cols]
    return (
        df.select(*dict.fromkeys(cols))
        .groupBy(series_col)
        .cogroup(weights.groupBy(series_col))
        .applyInPandas(score_group, schema)
    )


def save_model_store(weights: DataFrame, path: str) -> None:
    """The store IS a table: parquet out (partitioned stores would add
    partitionBy on a model-version column)."""
    weights.write.mode("overwrite").parquet(path)


def load_model_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)
