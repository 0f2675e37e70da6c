"""Deterministic pure-numpy TFT-lite for per-series forecasting — the
engine's analog of the reference's Temporal Fusion Transformer plugin
(predictor_plugins/predictor_plugin_tft.py:46-152: GRN variable-selection
embedding -> LSTM encoder -> self-attention fusion decoder with gated
residual -> last-timestep context -> per-horizon GRN heads, MAE loss,
AdamW).

Faithful pieces: the GLU/GRN gating blocks (tft.py:68-88 verbatim math:
GLU(x) = sigmoid(W_g h) * (W_v h), GRN = LN(skip + GLU(W_b elu(W_a x)))),
the attention fusion with gated residual, the last-step context and
per-horizon GRN heads, and the MAE objective. Documented simplification:
the LSTM encoder stack is replaced by a 3-tap CAUSAL CONVOLUTION + GRN —
the same local-temporal-pattern role (tft.py:115 comment), chosen because
a recurrent backward pass in numpy is the one piece that is expensive to
keep exactly differentiable; the causal-conv precedent is models/tcn.py.

train / predict / predict_with_uncertainty bind the family contract in
models/layers.py, so fit_predict_per_series distributes it unchanged.
Gradients finite-difference checked in tests/test_models_family.py.
"""

from __future__ import annotations

import numpy as np

from predictor_spark.models import layers as L

__all__ = ["init_params", "forward", "loss_and_grads", "train",
           "predict", "predict_with_uncertainty"]

_GRN_KEYS = ("Wa", "ba", "Wb", "bb", "Wv", "bv", "Wg", "bg", "gm", "bt")


def _grn_init(rng, dm: int, prefix: str, p: dict) -> None:
    def glorot(n_in, n_out):
        lim = np.sqrt(6.0 / (n_in + n_out))
        return rng.uniform(-lim, lim, size=(n_in, n_out))

    p[f"{prefix}Wa"] = glorot(dm, dm)
    p[f"{prefix}ba"] = np.zeros(dm)
    p[f"{prefix}Wb"] = glorot(dm, dm)
    p[f"{prefix}bb"] = np.zeros(dm)
    p[f"{prefix}Wv"] = glorot(dm, dm)
    p[f"{prefix}bv"] = np.zeros(dm)
    p[f"{prefix}Wg"] = glorot(dm, dm)
    p[f"{prefix}bg"] = np.zeros(dm)
    p[f"{prefix}gm"] = np.ones(dm)
    p[f"{prefix}bt"] = np.zeros(dm)


def _grn_forward(p, prefix: str, x: np.ndarray):
    """GRN(x) = LN(x + GLU(W_b elu(W_a x))) — tft.py:75-88."""
    z1 = x @ p[f"{prefix}Wa"] + p[f"{prefix}ba"]
    a1 = L.elu(z1)
    h2 = a1 @ p[f"{prefix}Wb"] + p[f"{prefix}bb"]
    val = h2 @ p[f"{prefix}Wv"] + p[f"{prefix}bv"]
    gt = L.sigmoid(h2 @ p[f"{prefix}Wg"] + p[f"{prefix}bg"])
    y, lnc = L.layernorm(x + val * gt, p[f"{prefix}gm"], p[f"{prefix}bt"])
    return y, (x, z1, a1, h2, val, gt, lnc)


def _grn_back(p, g, prefix: str, dy: np.ndarray, cache):
    x, z1, a1, h2, val, gt, lnc = cache
    dm = x.shape[-1]
    dres, dgm, dbt = L.layernorm_back(dy, p[f"{prefix}gm"], lnc)
    g[f"{prefix}gm"] += dgm
    g[f"{prefix}bt"] += dbt
    dval = dres * gt
    dgt = dres * val
    dzg = dgt * gt * (1.0 - gt)
    g[f"{prefix}Wv"] += h2.reshape(-1, dm).T @ dval.reshape(-1, dm)
    g[f"{prefix}bv"] += dval.sum(axis=tuple(range(dval.ndim - 1)))
    g[f"{prefix}Wg"] += h2.reshape(-1, dm).T @ dzg.reshape(-1, dm)
    g[f"{prefix}bg"] += dzg.sum(axis=tuple(range(dzg.ndim - 1)))
    dh2 = dval @ p[f"{prefix}Wv"].T + dzg @ p[f"{prefix}Wg"].T
    g[f"{prefix}Wb"] += a1.reshape(-1, dm).T @ dh2.reshape(-1, dm)
    g[f"{prefix}bb"] += dh2.sum(axis=tuple(range(dh2.ndim - 1)))
    da1 = dh2 @ p[f"{prefix}Wb"].T
    dz1 = da1 * L.elu_grad(z1)
    g[f"{prefix}Wa"] += x.reshape(-1, dm).T @ dz1.reshape(-1, dm)
    g[f"{prefix}ba"] += dz1.sum(axis=tuple(range(dz1.ndim - 1)))
    return dres + dz1 @ p[f"{prefix}Wa"].T  # skip path + MLP path


def init_params(
    rng: np.random.Generator,
    input_dim: int,
    horizons: tuple[int, ...] = (1,),
    d_model: int = 8,
    conv_taps: int = 3,
) -> dict[str, np.ndarray]:
    def glorot(n_in, n_out):
        lim = np.sqrt(6.0 / (n_in + n_out))
        return rng.uniform(-lim, lim, size=(n_in, n_out))

    p: dict[str, np.ndarray] = {
        "__meta": np.array([input_dim, d_model, conv_taps]),
        "We": glorot(1, d_model), "be": np.zeros(d_model),
    }
    _grn_init(rng, d_model, "g1_", p)          # variable-selection GRN
    for k in range(conv_taps):                  # causal conv encoder
        p[f"Wc{k}"] = glorot(d_model, d_model)
    p["bc"] = np.zeros(d_model)
    _grn_init(rng, d_model, "g2_", p)          # post-encoder GRN
    p["Wq"] = glorot(d_model, d_model)
    p["Wk"] = glorot(d_model, d_model)
    p["Wv_a"] = glorot(d_model, d_model)
    _grn_init(rng, d_model, "g3_", p)          # post-attention GRN gate
    p["ga"] = np.ones(d_model)                 # fusion LN
    p["ba_"] = np.zeros(d_model)
    for hz in horizons:
        _grn_init(rng, d_model, f"gh{hz}_", p)  # per-horizon head GRN
        p[f"Wh{hz}"] = glorot(d_model, 1)[:, 0]
        p[f"ch{hz}"] = np.zeros(())
    return p


def forward(p, X, horizons, want_cache=False,
            dropout_rate=0.0, dropout_rng=None):
    input_dim, dm, taps = (int(v) for v in p["__meta"])
    E = X[:, :, None] @ p["We"] + p["be"]
    G1, c1 = _grn_forward(p, "g1_", E)
    Zc = sum(L.shift(G1, k) @ p[f"Wc{k}"] for k in range(taps)) + p["bc"]
    C = L.elu(Zc)
    if dropout_rate > 0.0 and dropout_rng is not None:
        mask = (dropout_rng.random(C.shape) >= dropout_rate)
        C = C * mask / (1.0 - dropout_rate)
    G2, c2 = _grn_forward(p, "g2_", C)
    Q, K, V = G2 @ p["Wq"], G2 @ p["Wk"], G2 @ p["Wv_a"]
    O, ca = L.attention(Q, K, V)
    G3, c3 = _grn_forward(p, "g3_", O)
    R, lnc = L.layernorm(G2 + G3, p["ga"], p["ba_"])
    ctx = R[:, -1, :]
    ys, hcaches = {}, {}
    for hz in horizons:
        Hh, ch = _grn_forward(p, f"gh{hz}_", ctx)
        ys[hz] = Hh @ p[f"Wh{hz}"] + p[f"ch{hz}"]
        hcaches[hz] = (Hh, ch)
    if want_cache:
        return ys, (E, G1, c1, Zc, C, G2, c2, ca, O, G3, c3, lnc, R, ctx, hcaches)
    return ys, None


def loss_and_grads(p, X, targets, horizons, loss_fn=None):
    input_dim, dm, taps = (int(v) for v in p["__meta"])
    ys, cache = forward(p, X, horizons, want_cache=True)
    E, G1, c1, Zc, C, G2, c2, ca, O, G3, c3, lnc, R, ctx, hcaches = cache
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn, default=L.MAE)
    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}

    dctx = np.zeros_like(ctx)
    for hz in horizons:
        de = dys[hz]
        Hh, ch = hcaches[hz]
        g[f"Wh{hz}"] += Hh.T @ de
        g[f"ch{hz}"] += np.array(de.sum())
        dHh = de[:, None] * p[f"Wh{hz}"][None, :]
        dctx += _grn_back(p, g, f"gh{hz}_", dHh, ch)

    dR = np.zeros_like(R)
    dR[:, -1, :] = dctx
    dres, dga, dba = L.layernorm_back(dR, p["ga"], lnc)
    g["ga"] += dga
    g["ba_"] += dba
    dG2 = dres.copy()
    dO = _grn_back(p, g, "g3_", dres, c3)
    dQ, dK, dV = L.attention_back(dO, ca)
    g["Wq"] += G2.reshape(-1, dm).T @ dQ.reshape(-1, dm)
    g["Wk"] += G2.reshape(-1, dm).T @ dK.reshape(-1, dm)
    g["Wv_a"] += G2.reshape(-1, dm).T @ dV.reshape(-1, dm)
    dG2 += dQ @ p["Wq"].T + dK @ p["Wk"].T + dV @ p["Wv_a"].T
    dC = _grn_back(p, g, "g2_", dG2, c2)
    dZc = dC * L.elu_grad(Zc)
    dG1 = np.zeros_like(G1)
    for k in range(taps):
        sh = L.shift(G1, k)
        g[f"Wc{k}"] += sh.reshape(-1, dm).T @ dZc.reshape(-1, dm)
        back = dZc @ p[f"Wc{k}"].T
        if k == 0:
            dG1 += back
        else:
            dG1[:, :-k, :] += back[:, k:, :]
    g["bc"] += dZc.sum(axis=(0, 1))
    dE = _grn_back(p, g, "g1_", dG1, c1)
    g["We"] += (X.reshape(-1)[:, None] * dE.reshape(-1, dm)).sum(axis=0, keepdims=True)
    g["be"] += dE.sum(axis=(0, 1))
    return loss, g


def train(X, targets, horizons=(1,), seed=0, d_model=8, conv_taps=3,
          epochs=60, lr=5e-3, weight_decay=1e-2, loss_fn=None):
    """Full-batch AdamW (layers.fit), MAE loss (the reference TFT compiles
    MAE, tft.py:148); deterministic for a given seed. ``loss_fn``:
    optional models/losses.py objective (default MAE)."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         d_model, conv_taps),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
