"""Deterministic pure-numpy MIMO core — the engine's analog of the
reference's MIMO predictor plugin (predictor_plugins/predictor_plugin_
mimo.py:44-369: conv/BiLSTM encoder over the window, then a decoder that
CROSS-ATTENDS per-horizon LEARNED EMBEDDINGS over the encoded sequence,
emitting every horizon jointly from one shared encoder — the
multi-input-multi-output contract).

Distilled architecture (X (N, D) single-feature windows):
    E   = x[:, :, None] @ We + be                    (N, T, dm)
    C   = elu(causal-conv_3(E))                      encoder (models/tcn.py
                                                      precedent for the
                                                      recurrent stand-in)
    K/V = C @ Wk / C @ Wv                            (N, T, dm)
    per horizon h: q_h learned embedding (dm,)       (horizon_embedding_dim)
        a_h  = softmax(q_h . K / sqrt(dm))           cross-attention
        ctx  = a_h @ V                               (N, dm)
        y_h  = relu(ctx @ W1 + b1) @ Wh + ch         FFN head
    All horizons share We/conv/Wk/Wv/W1 — joint training couples them,
    which is the MIMO point (vs one independent model per horizon).

Training: full-batch AdamW, Huber (loss_fn pluggable). Gradients
finite-difference checked (tests/test_models_family.py).
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
    conv_taps: int = 3,
    d_ff: int = 16,
) -> dict[str, np.ndarray]:
    def glorot(*shape) -> np.ndarray:
        lim = np.sqrt(6.0 / (shape[-2] + shape[-1]))
        return rng.uniform(-lim, lim, size=shape)

    p: dict[str, np.ndarray] = {
        "__meta": np.array([input_dim, d_model, conv_taps, d_ff]),
        "We": glorot(1, d_model), "be": np.zeros(d_model),
        "Wk": glorot(d_model, d_model), "Wv": glorot(d_model, d_model),
        "W1": glorot(d_model, d_ff), "b1": np.zeros(d_ff),
    }
    for k in range(conv_taps):
        p[f"Wc{k}"] = glorot(d_model, d_model)
    p["bc"] = np.zeros(d_model)
    for hz in horizons:
        p[f"q{hz}"] = glorot(1, d_model)[0]
        p[f"Wh{hz}"] = glorot(d_ff, 1)[:, 0]
        p[f"ch{hz}"] = np.zeros(())
    return p


def forward(p, X, horizons, want_cache=False,
            dropout_rate=0.0, dropout_rng=None):
    input_dim, dm, taps, dff = (int(v) for v in p["__meta"])
    E = X[:, :, None] @ p["We"] + p["be"]
    Zc = sum(L.shift(E, k) @ p[f"Wc{k}"] for k in range(taps)) + p["bc"]
    C = L.elu(Zc)
    K = C @ p["Wk"]
    V = C @ p["Wv"]
    scale = 1.0 / np.sqrt(dm)
    ys, hc = {}, {}
    for hz in horizons:
        s = (K @ p[f"q{hz}"]) * scale            # (N, T)
        a = L.softmax(s)
        ctx = np.einsum("nt,ntd->nd", a, V)
        Z1 = ctx @ p["W1"] + p["b1"]
        A1 = L.relu(Z1)
        if dropout_rate > 0.0 and dropout_rng is not None:
            mask = (dropout_rng.random(A1.shape) >= dropout_rate)
            A1 = A1 * mask / (1.0 - dropout_rate)
        ys[hz] = A1 @ p[f"Wh{hz}"] + p[f"ch{hz}"]
        hc[hz] = (s, a, ctx, Z1, A1)
    if want_cache:
        return ys, (E, Zc, C, K, V, scale, hc)
    return ys, None


def loss_and_grads(p, X, targets, horizons, loss_fn=None):
    input_dim, dm, taps, dff = (int(v) for v in p["__meta"])
    ys, cache = forward(p, X, horizons, want_cache=True)
    E, Zc, C, K, V, scale, hc = cache
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)
    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}

    dK = np.zeros_like(K)
    dV = np.zeros_like(V)
    for hz in horizons:
        de = dys[hz]
        s, a, ctx, Z1, A1 = hc[hz]
        g[f"Wh{hz}"] += A1.T @ de
        g[f"ch{hz}"] += np.array(de.sum())
        dA1 = de[:, None] * p[f"Wh{hz}"][None, :]
        dZ1 = dA1 * L.relu_grad(Z1)
        g["W1"] += ctx.T @ dZ1
        g["b1"] += dZ1.sum(axis=0)
        dctx = dZ1 @ p["W1"].T
        da = np.einsum("nd,ntd->nt", dctx, V)
        dV += a[:, :, None] * dctx[:, None, :]
        ds = L.softmax_back(da, a) * scale
        g[f"q{hz}"] += np.einsum("nt,ntd->d", ds, K)
        dK += ds[:, :, None] * p[f"q{hz}"][None, None, :]

    dC = dK @ p["Wk"].T + dV @ p["Wv"].T
    g["Wk"] += C.reshape(-1, dm).T @ dK.reshape(-1, dm)
    g["Wv"] += C.reshape(-1, dm).T @ dV.reshape(-1, dm)
    dZc = dC * L.elu_grad(Zc)
    dE = np.zeros_like(E)
    for k in range(taps):
        sh = L.shift(E, k)
        g[f"Wc{k}"] += sh.reshape(-1, dm).T @ dZc.reshape(-1, dm)
        back = dZc @ p[f"Wc{k}"].T
        if k == 0:
            dE += back
        else:
            dE[:, :-k, :] += back[:, k:, :]
    g["bc"] += dZc.sum(axis=(0, 1))
    g["We"] += (X.reshape(-1)[:, None] * dE.reshape(-1, dm)).sum(axis=0, keepdims=True)
    g["be"] += dE.sum(axis=(0, 1))
    return loss, g


def train(X, targets, horizons=(1,), seed=0, d_model=8, conv_taps=3,
          d_ff=16, epochs=60, lr=5e-3, weight_decay=1e-2, loss_fn=None):
    """Full-batch AdamW (layers.fit); deterministic for a given seed.
    Every horizon is decoded jointly from the shared encoder — the MIMO
    contract."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         d_model, conv_taps, d_ff),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
