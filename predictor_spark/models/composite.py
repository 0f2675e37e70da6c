"""Deterministic pure-numpy composite (multi-branch) core — the engine's
analog of the reference's composite predictor plugin
(predictor_plugins/predictor_plugin_composite.py:43-208: separate
Conv1D/Dense branches per input channel — full-window trend stream,
higher-frequency streams, point features — merged along channels and fed
to shared heads; the LSTM plugin docstring states the same design:
"three branches, each processing one channel through its own Dense
sub-network", predictor_plugin_lstm.py:11).

The estimator feeds single-feature windows, so the channel split is
computed INSIDE the model, mirroring the reference's trend/seasonal/noise
channel semantics (its pipelines feed STL channels):
    smooth_t = 3-tap centered moving average (edges clamped)  "trend"
    diff_t   = first differences (zero-padded front)          "momentum"
    resid_t  = x_t - smooth_t                                 "noise"
Each branch is its own 2-layer relu Dense net over its channel; branch
outputs concatenate into a merged relu layer feeding per-horizon linear
heads. Huber/AdamW (loss_fn pluggable); gradients finite-difference
checked.
"""

from __future__ import annotations

import numpy as np

from predictor_spark.models import layers as L

__all__ = ["init_params", "forward", "loss_and_grads", "train",
           "predict", "predict_with_uncertainty", "channels"]

_BRANCHES = ("tr", "df", "rs")


def channels(X: np.ndarray) -> dict[str, np.ndarray]:
    """Deterministic channel split of the raw window (see module doc)."""
    sm = X.copy()
    sm[:, 1:-1] = (X[:, :-2] + X[:, 1:-1] + X[:, 2:]) / 3.0
    sm[:, 0] = sm[:, 1]
    sm[:, -1] = sm[:, -2]
    df = np.zeros_like(X)
    df[:, 1:] = X[:, 1:] - X[:, :-1]
    return {"tr": sm, "df": df, "rs": X - sm}


def init_params(
    rng: np.random.Generator,
    input_dim: int,
    horizons: tuple[int, ...] = (1,),
    branch_units: int = 8,
    merged_units: int = 16,
) -> dict[str, np.ndarray]:
    def glorot(*shape) -> np.ndarray:
        lim = np.sqrt(6.0 / (shape[-2] + shape[-1]))
        return rng.uniform(-lim, lim, size=shape)

    p: dict[str, np.ndarray] = {
        "__meta": np.array([input_dim, branch_units, merged_units]),
    }
    for b in _BRANCHES:
        p[f"{b}W0"] = glorot(input_dim, branch_units)
        p[f"{b}b0"] = np.zeros(branch_units)
        p[f"{b}W1"] = glorot(branch_units, branch_units)
        p[f"{b}b1"] = np.zeros(branch_units)
    p["Wm"] = glorot(3 * branch_units, merged_units)
    p["bm"] = np.zeros(merged_units)
    for hz in horizons:
        p[f"Wh{hz}"] = glorot(merged_units, 1)[:, 0]
        p[f"ch{hz}"] = np.zeros(())
    return p


def forward(p, X, horizons, want_cache=False,
            dropout_rate=0.0, dropout_rng=None):
    input_dim, bu, mu = (int(v) for v in p["__meta"])
    ch = channels(X)
    outs, caches = [], {}
    for b in _BRANCHES:
        Z0 = ch[b] @ p[f"{b}W0"] + p[f"{b}b0"]
        A0 = L.relu(Z0)
        Z1 = A0 @ p[f"{b}W1"] + p[f"{b}b1"]
        A1 = L.relu(Z1)
        outs.append(A1)
        caches[b] = (ch[b], Z0, A0, Z1, A1)
    concat = np.concatenate(outs, axis=1)
    Zm = concat @ p["Wm"] + p["bm"]
    Am = L.relu(Zm)
    if dropout_rate > 0.0 and dropout_rng is not None:
        mask = (dropout_rng.random(Am.shape) >= dropout_rate)
        Am = Am * mask / (1.0 - dropout_rate)
    ys = {hz: Am @ p[f"Wh{hz}"] + p[f"ch{hz}"] for hz in horizons}
    if want_cache:
        return ys, (caches, concat, Zm, Am)
    return ys, None


def loss_and_grads(p, X, targets, horizons, loss_fn=None):
    input_dim, bu, mu = (int(v) for v in p["__meta"])
    ys, (caches, concat, Zm, Am) = forward(p, X, horizons, want_cache=True)
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)
    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}

    dAm = np.zeros_like(Am)
    for hz in horizons:
        de = dys[hz]
        g[f"Wh{hz}"] += Am.T @ de
        g[f"ch{hz}"] += np.array(de.sum())
        dAm += de[:, None] * p[f"Wh{hz}"][None, :]

    dZm = dAm * L.relu_grad(Zm)
    g["Wm"] += concat.T @ dZm
    g["bm"] += dZm.sum(axis=0)
    dconcat = dZm @ p["Wm"].T
    for i, b in enumerate(_BRANCHES):
        chb, Z0, A0, Z1, A1 = caches[b]
        dA1 = dconcat[:, i * bu:(i + 1) * bu]
        dZ1 = dA1 * L.relu_grad(Z1)
        g[f"{b}W1"] += A0.T @ dZ1
        g[f"{b}b1"] += dZ1.sum(axis=0)
        dA0 = dZ1 @ p[f"{b}W1"].T
        dZ0 = dA0 * L.relu_grad(Z0)
        g[f"{b}W0"] += chb.T @ dZ0
        g[f"{b}b0"] += dZ0.sum(axis=0)
    return loss, g


def train(X, targets, horizons=(1,), seed=0, branch_units=8,
          merged_units=16, epochs=60, lr=5e-3, weight_decay=1e-2,
          loss_fn=None):
    """Full-batch AdamW (layers.fit); deterministic for a given seed."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         branch_units, merged_units),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
