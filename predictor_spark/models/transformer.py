"""Deterministic pure-numpy transformer encoder for per-series forecasting
— the engine's analog of the reference's transformer predictor plugin
(predictor_plugins/predictor_plugin_transformer.py:55-124: positional
encoding -> MultiHeadAttention + residual + LayerNormalization -> conv
trunk -> per-horizon heads, Huber loss, AdamW). The conv/BiLSTM trunk is
replaced by the standard position-wise FFN encoder block (Vaswani 2017)
— same role (local mixing after attention), recurrent-free so the
backward pass stays exact and cheap; the per-horizon linear heads read
the LAST position's encoding.

Architecture (X (N, D) single-feature windows, T = D timesteps):
    E   = x[:, :, None] @ We + be + PE          (N, T, dm)
    per head h: Q/K/V = E @ Wq/Wk/Wv[h]         (N, T, dk)
                O_h   = softmax(Q K'/sqrt(dk)) V
    O   = concat(O_h) @ Wo + bo                 (N, T, dm)
    E1  = LN1(E + O)
    F   = relu(E1 @ W1 + b1) @ W2 + b2          (position-wise FFN)
    E2  = LN2(E1 + F)
    y_h = E2[:, -1, :] @ Wh + ch                per horizon

Training: full-batch AdamW, mean Huber over horizons — train / predict /
predict_with_uncertainty bind the family contract in models/layers.py,
so fit_predict_per_series distributes it unchanged. MC uncertainty applies
seeded inverted dropout on the FFN hidden activations at predict time.
All gradients finite-difference checked (tests/test_models_family.py).
"""

from __future__ import annotations

import numpy as np

from predictor_spark.models import layers as L

__all__ = ["init_params", "forward", "loss_and_grads", "train",
           "predict", "predict_with_uncertainty"]


def init_params(
    rng: np.random.Generator,
    input_dim: int,
    horizons: tuple[int, ...] = (1,),
    d_model: int = 8,
    n_heads: int = 2,
    d_ff: int = 16,
) -> dict[str, np.ndarray]:
    assert d_model % n_heads == 0
    dk = d_model // n_heads

    def glorot(*shape) -> np.ndarray:
        lim = np.sqrt(6.0 / (shape[-2] + shape[-1]))
        return rng.uniform(-lim, lim, size=shape)

    p: dict[str, np.ndarray] = {
        "__meta": np.array([input_dim, d_model, n_heads, d_ff]),
        "We": glorot(1, d_model), "be": np.zeros(d_model),
        "Wo": glorot(d_model, d_model), "bo": np.zeros(d_model),
        "g1": np.ones(d_model), "bn1": np.zeros(d_model),
        "W1": glorot(d_model, d_ff), "b1": np.zeros(d_ff),
        "W2": glorot(d_ff, d_model), "b2": np.zeros(d_model),
        "g2": np.ones(d_model), "bn2": np.zeros(d_model),
    }
    for h in range(n_heads):
        p[f"Wq{h}"] = glorot(d_model, dk)
        p[f"Wk{h}"] = glorot(d_model, dk)
        p[f"Wv{h}"] = glorot(d_model, dk)
    for hz in horizons:
        p[f"Wh{hz}"] = glorot(d_model, 1)[:, 0]
        p[f"ch{hz}"] = np.zeros(())
    return p


def forward(p, X, horizons, want_cache=False,
            dropout_rate=0.0, dropout_rng=None):
    input_dim, dm, H, dff = (int(v) for v in p["__meta"])
    N, T = X.shape
    E = X[:, :, None] @ p["We"] + p["be"] + L.positional_encoding(T, dm)
    heads, caches = [], []
    for h in range(H):
        Q, K, V = E @ p[f"Wq{h}"], E @ p[f"Wk{h}"], E @ p[f"Wv{h}"]
        O_h, c = L.attention(Q, K, V)
        heads.append(O_h)
        caches.append(c)
    O = np.concatenate(heads, axis=-1) @ p["Wo"] + p["bo"]
    E1, ln1c = L.layernorm(E + O, p["g1"], p["bn1"])
    Z1 = E1 @ p["W1"] + p["b1"]
    A1 = L.relu(Z1)
    if dropout_rate > 0.0 and dropout_rng is not None:
        mask = (dropout_rng.random(A1.shape) >= dropout_rate)
        A1 = A1 * mask / (1.0 - dropout_rate)
    F_ = A1 @ p["W2"] + p["b2"]
    E2, ln2c = L.layernorm(E1 + F_, p["g2"], p["bn2"])
    ctx = E2[:, -1, :]
    ys = {hz: ctx @ p[f"Wh{hz}"] + p[f"ch{hz}"] for hz in horizons}
    if want_cache:
        return ys, (E, heads, caches, ln1c, E1, Z1, A1, ln2c, E2, ctx)
    return ys, None


def loss_and_grads(p, X, targets, horizons, loss_fn=None):
    input_dim, dm, H, dff = (int(v) for v in p["__meta"])
    ys, cache = forward(p, X, horizons, want_cache=True)
    E, heads, att_caches, ln1c, E1, Z1, A1, ln2c, E2, ctx = cache
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)
    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}

    dctx = np.zeros_like(ctx)
    for hz in horizons:
        de = dys[hz]
        g[f"Wh{hz}"] = ctx.T @ de
        g[f"ch{hz}"] = np.array(de.sum())
        dctx += de[:, None] * p[f"Wh{hz}"][None, :]

    dE2 = np.zeros_like(E2)
    dE2[:, -1, :] = dctx
    dres2, g["g2"], g["bn2"] = L.layernorm_back(dE2, p["g2"], ln2c)
    # res2 = E1 + F
    dF = dres2
    g["W2"] = A1.reshape(-1, dff).T @ dF.reshape(-1, dm)
    g["b2"] = dF.sum(axis=(0, 1))
    dA1 = dF @ p["W2"].T
    dZ1 = dA1 * L.relu_grad(Z1)
    g["W1"] = E1.reshape(-1, dm).T @ dZ1.reshape(-1, dff)
    g["b1"] = dZ1.sum(axis=(0, 1))
    dE1 = dres2 + dZ1 @ p["W1"].T
    dres1, g["g1"], g["bn1"] = L.layernorm_back(dE1, p["g1"], ln1c)
    # res1 = E + O, O = concat(heads) @ Wo + bo
    dO = dres1
    concat = np.concatenate(heads, axis=-1)
    g["Wo"] = concat.reshape(-1, dm).T @ dO.reshape(-1, dm)
    g["bo"] = dO.sum(axis=(0, 1))
    dconcat = dO @ p["Wo"].T
    dk = dm // H
    dE = dres1.copy()
    for h in range(H):
        dO_h = dconcat[:, :, h * dk:(h + 1) * dk]
        dQ, dK, dV = L.attention_back(dO_h, att_caches[h])
        g[f"Wq{h}"] = E.reshape(-1, dm).T @ dQ.reshape(-1, dk)
        g[f"Wk{h}"] = E.reshape(-1, dm).T @ dK.reshape(-1, dk)
        g[f"Wv{h}"] = E.reshape(-1, dm).T @ dV.reshape(-1, dk)
        dE += dQ @ p[f"Wq{h}"].T + dK @ p[f"Wk{h}"].T + dV @ p[f"Wv{h}"].T
    # E = x[:,:,None] @ We + be + PE  =>  dWe[0,d] = sum_{n,t} dE[n,t,d]*x[n,t]
    g["We"] = (X.reshape(-1)[:, None] * dE.reshape(-1, dm)).sum(axis=0, keepdims=True)
    g["be"] = dE.sum(axis=(0, 1))
    return loss, g


def train(X, targets, horizons=(1,), seed=0, d_model=8, n_heads=2,
          d_ff=16, epochs=60, lr=5e-3, weight_decay=1e-2, loss_fn=None):
    """Full-batch AdamW (layers.fit); deterministic for a given seed.
    ``loss_fn``: optional models/losses.py objective (default Huber)."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         d_model, n_heads, d_ff),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
