"""Deterministic pure-numpy BiLSTM + self-attention core — the engine's
analog of the reference's LSTM predictor plugin
(predictor_plugins/predictor_plugin_lstm.py:431-560: positional encoding
-> MultiHeadAttention + residual + LayerNormalization -> Bidirectional
LSTM stack -> per-horizon heads on the final recurrent state, Huber,
AdamW).

Faithful pieces: the positional-encoded attention block (2 heads, residual
+ LN — lstm.py:477-501), a true bidirectional LSTM with Keras gate order
(i, f, c, o; sigmoid recurrent gates, tanh cell/output) whose FINAL
forward/backward states feed the head (return_sequences=False semantics,
lstm.py:541-544), and per-horizon linear heads. Documented
simplifications: one BiLSTM layer instead of the reference's stack of
two + conv/pooling downsampling (the windows here are 8 ticks, not 288),
and a deterministic linear head in place of the DenseFlipout Bayesian
pair — MC-dropout at predict time supplies the uncertainty analog, as in
every other core.

Full backward pass (attention, layer norm, BPTT through both LSTM
directions) is hand-derived and finite-difference checked
(tests/test_models_family.py). train / predict /
predict_with_uncertainty bind the family contract in models/layers.py,
so fit_predict_per_series distributes it unchanged.
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
    units: int = 8,
) -> dict[str, np.ndarray]:
    assert d_model % n_heads == 0
    dk = d_model // n_heads

    def glorot(*shape) -> np.ndarray:
        lim = np.sqrt(6.0 / (shape[-2] + shape[-1]))
        return rng.uniform(-lim, lim, size=shape)

    p: dict[str, np.ndarray] = {
        "__meta": np.array([input_dim, d_model, n_heads, units]),
        "We": glorot(1, d_model), "be": np.zeros(d_model),
        "Wo": glorot(d_model, d_model), "bo": np.zeros(d_model),
        "g1": np.ones(d_model), "bn1": np.zeros(d_model),
    }
    for h in range(n_heads):
        p[f"Wq{h}"] = glorot(d_model, dk)
        p[f"Wk{h}"] = glorot(d_model, dk)
        p[f"Wv{h}"] = glorot(d_model, dk)
    for d in ("f", "b"):                      # forward / backward directions
        p[f"W{d}_x"] = glorot(d_model, 4 * units)
        p[f"W{d}_h"] = glorot(units, 4 * units)
        p[f"b{d}"] = np.zeros(4 * units)
    for hz in horizons:
        p[f"Wh{hz}"] = glorot(2 * units, 1)[:, 0]
        p[f"ch{hz}"] = np.zeros(())
    return p


def _lstm_forward(E: np.ndarray, Wx, Wh, b, units: int, reverse: bool):
    """One LSTM direction over (N, T, dm); returns final h and caches."""
    N, T, _ = E.shape
    order = range(T - 1, -1, -1) if reverse else range(T)
    h = np.zeros((N, units))
    c = np.zeros((N, units))
    caches = []
    for t in order:
        z = E[:, t, :] @ Wx + h @ Wh + b
        i = L.sigmoid(z[:, :units])
        f = L.sigmoid(z[:, units:2 * units])
        g = np.tanh(z[:, 2 * units:3 * units])
        o = L.sigmoid(z[:, 3 * units:])
        c_new = f * c + i * g
        tc = np.tanh(c_new)
        h_new = o * tc
        caches.append((t, h, c, i, f, g, o, c_new, tc))
        h, c = h_new, c_new
    return h, caches


def _lstm_backward(dh_T, E, caches, Wx, Wh, units: int):
    """BPTT from the final-state gradient only (return_sequences=False).
    Returns (dE, dWx, dWh, db)."""
    N, T, dm = E.shape
    dE = np.zeros_like(E)
    dWx = np.zeros_like(Wx)
    dWh = np.zeros_like(Wh)
    db = np.zeros(4 * units)
    dh = dh_T.copy()
    dc = np.zeros((N, units))
    for (t, h_prev, c_prev, i, f, g, o, c_new, tc) in reversed(caches):
        do = dh * tc
        dc = dc + dh * o * (1.0 - tc * tc)
        di = dc * g
        df = dc * c_prev
        dg = dc * i
        dz = np.concatenate([
            di * i * (1.0 - i),
            df * f * (1.0 - f),
            dg * (1.0 - g * g),
            do * o * (1.0 - o),
        ], axis=1)
        dWx += E[:, t, :].T @ dz
        dWh += h_prev.T @ dz
        db += dz.sum(axis=0)
        dE[:, t, :] += dz @ Wx.T
        dh = dz @ Wh.T
        dc = dc * f
    return dE, dWx, dWh, db


def forward(p, X, horizons, want_cache=False,
            dropout_rate=0.0, dropout_rng=None):
    input_dim, dm, H, units = (int(v) for v in p["__meta"])
    N, T = X.shape
    E = X[:, :, None] @ p["We"] + p["be"] + L.positional_encoding(T, dm)
    heads, acaches = [], []
    for h in range(H):
        Q, K, V = E @ p[f"Wq{h}"], E @ p[f"Wk{h}"], E @ p[f"Wv{h}"]
        O_h, c = L.attention(Q, K, V)
        heads.append(O_h)
        acaches.append(c)
    O = np.concatenate(heads, axis=-1) @ p["Wo"] + p["bo"]
    E1, ln1c = L.layernorm(E + O, p["g1"], p["bn1"])
    if dropout_rate > 0.0 and dropout_rng is not None:
        mask = (dropout_rng.random(E1.shape) >= dropout_rate)
        E1 = E1 * mask / (1.0 - dropout_rate)
    hf, cf = _lstm_forward(E1, p["Wf_x"], p["Wf_h"], p["bf"], units, False)
    hb, cb = _lstm_forward(E1, p["Wb_x"], p["Wb_h"], p["bb"], units, True)
    ctx = np.concatenate([hf, hb], axis=1)
    ys = {hz: ctx @ p[f"Wh{hz}"] + p[f"ch{hz}"] for hz in horizons}
    if want_cache:
        return ys, (E, heads, acaches, ln1c, E1, cf, cb, ctx)
    return ys, None


def loss_and_grads(p, X, targets, horizons, loss_fn=None):
    input_dim, dm, H, units = (int(v) for v in p["__meta"])
    ys, cache = forward(p, X, horizons, want_cache=True)
    E, heads, acaches, ln1c, E1, cf, cb, ctx = cache
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)
    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}

    dctx = np.zeros_like(ctx)
    for hz in horizons:
        de = dys[hz]
        g[f"Wh{hz}"] = ctx.T @ de
        g[f"ch{hz}"] = np.array(de.sum())
        dctx += de[:, None] * p[f"Wh{hz}"][None, :]

    dE1 = np.zeros_like(E1)
    dEf, dWfx, dWfh, dbf = _lstm_backward(dctx[:, :units], E1, cf,
                                          p["Wf_x"], p["Wf_h"], units)
    dEb, dWbx, dWbh, dbb = _lstm_backward(dctx[:, units:], E1, cb,
                                          p["Wb_x"], p["Wb_h"], units)
    g["Wf_x"], g["Wf_h"], g["bf"] = dWfx, dWfh, dbf
    g["Wb_x"], g["Wb_h"], g["bb"] = dWbx, dWbh, dbb
    dE1 = dEf + dEb
    dres1, g["g1"], g["bn1"] = L.layernorm_back(dE1, p["g1"], ln1c)
    dO = dres1
    concat = np.concatenate(heads, axis=-1)
    g["Wo"] = concat.reshape(-1, dm).T @ dO.reshape(-1, dm)
    g["bo"] = dO.sum(axis=(0, 1))
    dconcat = dO @ p["Wo"].T
    dk = dm // H
    dE = dres1.copy()
    for h in range(H):
        dO_h = dconcat[:, :, h * dk:(h + 1) * dk]
        dQ, dK, dV = L.attention_back(dO_h, acaches[h])
        g[f"Wq{h}"] = E.reshape(-1, dm).T @ dQ.reshape(-1, dk)
        g[f"Wk{h}"] = E.reshape(-1, dm).T @ dK.reshape(-1, dk)
        g[f"Wv{h}"] = E.reshape(-1, dm).T @ dV.reshape(-1, dk)
        dE += dQ @ p[f"Wq{h}"].T + dK @ p[f"Wk{h}"].T + dV @ p[f"Wv{h}"].T
    g["We"] = (X.reshape(-1)[:, None] * dE.reshape(-1, dm)).sum(axis=0, keepdims=True)
    g["be"] = dE.sum(axis=(0, 1))
    return loss, g


def train(X, targets, horizons=(1,), seed=0, d_model=8, n_heads=2,
          units=8, epochs=60, lr=5e-3, weight_decay=1e-2, loss_fn=None):
    """Full-batch AdamW (layers.fit); deterministic for a given seed."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         d_model, n_heads, units),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
