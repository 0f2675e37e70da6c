"""Shared numpy pieces of the deep-model family: the layer primitives
(forward + backward) and the one training/inference contract every core
in ``models/`` binds.

Layers: each function returns activations plus whatever the matching
*_back needs; gradients are finite-difference checked in
tests/test_models_family.py. Public math only: scaled dot-product
attention and layer normalization as in Vaswani et al. 2017, GLU/GRN as
in Lim et al. 2021 (Temporal Fusion Transformers); reference analogs
predictor_plugins/predictor_plugin_transformer.py:70-76
(MultiHeadAttention + Add + LayerNormalization) and
predictor_plugin_tft.py:68-88 (_glu/_grn).

Contract (the analog of the reference's shared plugin base,
predictor_plugins/common/base.py:74-124,260-330): a core supplies
``init_params``, ``forward`` and ``loss_and_grads``; ``fit`` runs the
full-batch AdamW loop, ``head_loss`` gives every horizon's loss term and
d(loss)/dy, and ``predict`` / ``predict_with_uncertainty`` (seeded MC
dropout folded by Welford) run any core's ``forward``.
"""

from __future__ import annotations

from functools import partial

import numpy as np


# --------------------------------------------------------------------------
# activations
# --------------------------------------------------------------------------

def relu(z: np.ndarray) -> np.ndarray:
    return np.maximum(z, 0.0)


def relu_grad(z: np.ndarray) -> np.ndarray:
    return (z > 0.0).astype(z.dtype)


def elu(z: np.ndarray) -> np.ndarray:
    return np.where(z > 0.0, z, np.expm1(z))


def elu_grad(z: np.ndarray) -> np.ndarray:
    return np.where(z > 0.0, 1.0, np.exp(z))


def sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


def swish(z: np.ndarray) -> np.ndarray:
    s = 1.0 / (1.0 + np.exp(-z))
    return z * s


def swish_grad(z: np.ndarray) -> np.ndarray:
    s = 1.0 / (1.0 + np.exp(-z))
    return s * (1.0 + z * (1.0 - s))


# --------------------------------------------------------------------------
# layer normalization (over the last axis)
# --------------------------------------------------------------------------

_LN_EPS = 1e-5


def layernorm(x: np.ndarray, g: np.ndarray, b: np.ndarray):
    """y = g * (x - mean)/sqrt(var + eps) + b over the last axis.
    Returns (y, cache)."""
    mu = x.mean(axis=-1, keepdims=True)
    xc = x - mu
    var = (xc * xc).mean(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + _LN_EPS)
    xhat = xc * inv
    return g * xhat + b, (xhat, inv)


def layernorm_back(dy: np.ndarray, g: np.ndarray, cache):
    """Returns (dx, dg, db). dg/db summed over all leading axes."""
    xhat, inv = cache
    lead = tuple(range(dy.ndim - 1))
    dg = (dy * xhat).sum(axis=lead)
    db = dy.sum(axis=lead)
    dxhat = dy * g
    m = dxhat.mean(axis=-1, keepdims=True)
    mx = (dxhat * xhat).mean(axis=-1, keepdims=True)
    dx = inv * (dxhat - m - xhat * mx)
    return dx, dg, db


# --------------------------------------------------------------------------
# softmax (over the last axis) — stable
# --------------------------------------------------------------------------

def softmax(z: np.ndarray) -> np.ndarray:
    e = np.exp(z - z.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


def softmax_back(da: np.ndarray, a: np.ndarray) -> np.ndarray:
    return a * (da - (da * a).sum(axis=-1, keepdims=True))


# --------------------------------------------------------------------------
# scaled dot-product self-attention (single head over (N, T, dk) tensors)
# --------------------------------------------------------------------------

def attention(Q: np.ndarray, K: np.ndarray, V: np.ndarray):
    """O = softmax(Q K^T / sqrt(dk)) V. Returns (O, cache)."""
    dk = Q.shape[-1]
    scale = 1.0 / np.sqrt(dk)
    S = (Q @ K.transpose(0, 2, 1)) * scale
    A = softmax(S)
    return A @ V, (Q, K, V, A, scale)


def attention_back(dO: np.ndarray, cache):
    """Returns (dQ, dK, dV)."""
    Q, K, V, A, scale = cache
    dV = A.transpose(0, 2, 1) @ dO
    dA = dO @ V.transpose(0, 2, 1)
    dS = softmax_back(dA, A) * scale
    dQ = dS @ K
    dK = dS.transpose(0, 2, 1) @ Q
    return dQ, dK, dV


# --------------------------------------------------------------------------
# sinusoidal positional encoding (the engine's W18 operator as a matrix)
# --------------------------------------------------------------------------

def positional_encoding(T: int, d: int) -> np.ndarray:
    """pe[t, 2k] = sin(t / 10000^(2k/d)), pe[t, 2k+1] = cos(...) —
    common/positional_encoding.py:15-32 semantics."""
    pe = np.zeros((T, d))
    pos = np.arange(T)[:, None].astype(np.float64)
    for k in range(0, d, 2):
        denom = 10000.0 ** (k / d)
        pe[:, k] = np.sin(pos[:, 0] / denom)
        if k + 1 < d:
            pe[:, k + 1] = np.cos(pos[:, 0] / denom)
    return pe


# --------------------------------------------------------------------------
# causal time shift (the conv encoders of models/tft.py and models/mimo.py)
# --------------------------------------------------------------------------

def shift(x: np.ndarray, k: int) -> np.ndarray:
    """x delayed by k along the time axis, zero-padded at the front."""
    if k == 0:
        return x
    out = np.zeros_like(x)
    out[:, k:, :] = x[:, :-k, :]
    return out


# --------------------------------------------------------------------------
# losses
# --------------------------------------------------------------------------

def huber(e: np.ndarray, delta: float = 1.0) -> np.ndarray:
    a = np.abs(e)
    return np.where(a <= delta, 0.5 * e * e, delta * (a - 0.5 * delta))


def huber_grad(e: np.ndarray, delta: float = 1.0) -> np.ndarray:
    return np.clip(e, -delta, delta)


def mae_grad(e: np.ndarray) -> np.ndarray:
    return np.sign(e)


# (elementwise loss, its derivative) pairs a core passes to ``head_loss``
# as its default objective
HUBER = (huber, huber_grad)
MAE = (np.abs, mae_grad)


def head_loss(ys, targets, horizons, loss_fn=None, default=HUBER):
    """Mean loss over horizons and {horizon: d(loss)/d(y_h)}.

    ``loss_fn`` is a models/losses.py objective, (y_true, y_pred) ->
    (value, dvalue/dy_pred); None uses the core's ``default`` pair, the
    sample mean of the elementwise loss."""
    H = len(horizons)
    value, grad = default
    loss = 0.0
    dys = {}
    for h in horizons:
        if loss_fn is None:
            e = ys[h] - targets[h]
            loss += float(value(e).mean())
            dys[h] = grad(e) / (e.shape[0] * H)
        else:
            val, gy = loss_fn(targets[h], ys[h])
            loss += float(val)
            dys[h] = gy / H
    return loss / H, dys


# --------------------------------------------------------------------------
# optimizer and the full-batch fit loop
# --------------------------------------------------------------------------

def adam_init(p: dict[str, np.ndarray]) -> dict:
    return {
        "m": {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"},
        "v": {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"},
        "t": 0,
    }


def adam_step(
    p: dict[str, np.ndarray],
    g: dict[str, np.ndarray],
    state: dict,
    lr: float = 1e-2,
    beta1: float = 0.9,
    beta2: float = 0.999,
    eps: float = 1e-8,
    weight_decay: float = 0.0,
) -> None:
    """In-place AdamW step (decoupled decay, the reference's optimizer)."""
    state["t"] += 1
    t = state["t"]
    for k, gk in g.items():
        state["m"][k] = beta1 * state["m"][k] + (1 - beta1) * gk
        state["v"][k] = beta2 * state["v"][k] + (1 - beta2) * (gk * gk)
        mhat = state["m"][k] / (1 - beta1 ** t)
        vhat = state["v"][k] / (1 - beta2 ** t)
        if weight_decay > 0.0:
            p[k] = p[k] - lr * weight_decay * p[k]
        p[k] = p[k] - lr * mhat / (np.sqrt(vhat) + eps)


def fit(init, loss_and_grads, X, targets, horizons, seed, epochs, lr,
        weight_decay, loss_fn=None, on_epoch_end=None):
    """Full-batch AdamW training; returns (params, per-epoch losses).

    ``init(rng)`` builds the params from ``default_rng(seed)``, so the
    same (data, seed, hyperparams) always gives the same weights.
    ``on_epoch_end(epoch, logs)`` is an optional per-epoch callback, the
    seam the resource loggers (sources/resource_log.py) attach to — the
    analog of Keras callbacks in the reference
    (predictor_plugins/common/callbacks.py)."""
    hs = tuple(horizons)
    p = init(np.random.default_rng(seed))
    st = adam_init(p)
    losses = []
    for epoch in range(epochs):
        loss, g = loss_and_grads(p, X, targets, hs, loss_fn=loss_fn)
        adam_step(p, g, st, lr=lr, weight_decay=weight_decay)
        losses.append(loss)
        if on_epoch_end is not None:
            on_epoch_end(epoch, {"loss": loss})
    return p, losses


# --------------------------------------------------------------------------
# prediction: deterministic and seeded MC dropout
# --------------------------------------------------------------------------

def predict(forward, p, X, horizons) -> dict[int, np.ndarray]:
    ys, _ = forward(p, X, tuple(horizons))
    return ys


def predict_with_uncertainty(forward, p, X, horizons, mc_samples=1,
                             dropout_rate=0.1, seed=0):
    """(means, stds) per horizon. mc_samples<=1 or dropout 0 -> exact
    deterministic forward with zero uncertainty (the reference's
    deterministic-plugin contract, predictor_plugin_n_beats.py:127-135);
    otherwise ``mc_samples`` passes with dropout masks drawn from
    ``default_rng((seed, pass))``, folded by Welford (the reference's
    predict_mc_welford, common/base.py:350-352)."""
    hs = tuple(horizons)
    if mc_samples <= 1 or dropout_rate <= 0.0:
        ys = predict(forward, p, X, hs)
        return ys, {h: np.zeros_like(y) for h, y in ys.items()}
    mean = {h: np.zeros(X.shape[0]) for h in hs}
    m2 = {h: np.zeros(X.shape[0]) for h in hs}
    for s in range(mc_samples):
        rng = np.random.default_rng((seed, s))
        ys, _ = forward(p, X, hs, dropout_rate=dropout_rate, dropout_rng=rng)
        for h in hs:                      # Welford update
            d = ys[h] - mean[h]
            mean[h] += d / (s + 1)
            m2[h] += d * (ys[h] - mean[h])
    std = {h: np.sqrt(m2[h] / mc_samples) for h in hs}
    return mean, std


def bind(forward):
    """A core's (predict, predict_with_uncertainty), bound to its
    ``forward``."""
    return partial(predict, forward), partial(predict_with_uncertainty, forward)
