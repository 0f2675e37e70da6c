"""Deterministic pure-numpy MLP forecaster — the engine's analog of the
reference's dense-ANN predictor plugin (predictor_plugins/
predictor_plugin_ann.py:21-106: stacked Dense layers + one output head
per horizon, Huber loss, Adam). Same family contract as every core,
models/layers.py (train / predict / predict_with_uncertainty), so it
drops into models/estimator.fit_predict_per_series unchanged.

Architecture (batch X of shape (N, D)):
    h_0 = X
    per layer l:   h_{l+1} = swish(h_l @ W_l + c_l)
    per horizon H: y_H = h_L @ Wh_H + ch_H        (linear head)

Optimizer/loss/uncertainty are the family's shared contract in
models/layers.py (AdamW, mean Huber over samples and horizons, seeded MC
dropout) — one numeric stack for the whole model family, mirrored on the
reference side where all plugins inherit common/base.py.
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
    layers: int = 2,
    units: int = 16,
) -> dict[str, np.ndarray]:
    """Glorot-uniform init (Keras Dense default), seeded."""

    def glorot(n_in: int, n_out: int) -> np.ndarray:
        lim = np.sqrt(6.0 / (n_in + n_out))
        return rng.uniform(-lim, lim, size=(n_in, n_out))

    p: dict[str, np.ndarray] = {"__meta": np.array([layers, units, input_dim])}
    for layer in range(layers):
        n_in = input_dim if layer == 0 else units
        p[f"W{layer}"] = glorot(n_in, units)
        p[f"c{layer}"] = np.zeros(units)
    for h in horizons:
        p[f"Wh{h}"] = glorot(units, 1)[:, 0]
        p[f"ch{h}"] = np.zeros(())
    return p


def forward(
    p: dict[str, np.ndarray],
    X: np.ndarray,
    horizons: tuple[int, ...],
    want_cache: bool = False,
    dropout_rate: float = 0.0,
    dropout_rng: np.random.Generator | None = None,
):
    layers, units, input_dim = (int(x) for x in p["__meta"])
    h = X
    zs, hs = [], [h]
    for layer in range(layers):
        z = h @ p[f"W{layer}"] + p[f"c{layer}"]
        h = L.swish(z)
        if dropout_rate > 0.0 and dropout_rng is not None:
            mask = (dropout_rng.random(h.shape) >= dropout_rate)
            h = h * mask / (1.0 - dropout_rate)
        zs.append(z)
        hs.append(h)
    ys = {hz: h @ p[f"Wh{hz}"] + p[f"ch{hz}"] for hz in horizons}
    if want_cache:
        return ys, (hs, zs)
    return ys, None


def loss_and_grads(
    p: dict[str, np.ndarray],
    X: np.ndarray,
    targets: dict[int, np.ndarray],
    horizons: tuple[int, ...],
    loss_fn=None,
) -> tuple[float, dict[str, np.ndarray]]:
    """Full-batch Huber loss + analytic gradients (finite-difference-
    checked in tests/test_models_family.py::test_mlp_gradcheck).
    ``loss_fn`` swaps in a models/losses.py objective: (y_true, y_pred)
    -> (value, dvalue/dy_pred); None keeps the default Huber
    (layers.head_loss)."""
    layers, units, input_dim = (int(x) for x in p["__meta"])
    ys, (hs, zs) = forward(p, X, horizons, want_cache=True)
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)

    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}
    top = hs[-1]
    dtop = np.zeros_like(top)
    for hz in horizons:
        de = dys[hz]
        g[f"Wh{hz}"] = top.T @ de
        g[f"ch{hz}"] = np.array(de.sum())
        dtop += de[:, None] * p[f"Wh{hz}"][None, :]

    dx = dtop
    for layer in reversed(range(layers)):
        dz = dx * L.swish_grad(zs[layer])
        g[f"W{layer}"] = hs[layer].T @ dz
        g[f"c{layer}"] = dz.sum(axis=0)
        dx = dz @ p[f"W{layer}"].T
    return loss, g


def train(
    X: np.ndarray,
    targets: dict[int, np.ndarray],
    horizons: tuple[int, ...] = (1,),
    seed: int | tuple = 0,
    layers: int = 2,
    units: int = 16,
    epochs: int = 80,
    lr: float = 1e-2,
    weight_decay: float = 0.0,
    loss_fn=None,
    on_epoch_end=None,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Full-batch AdamW training (layers.fit); deterministic given
    (data, seed). ``loss_fn``: optional models/losses.py objective
    (default Huber). ``on_epoch_end(epoch, logs)``: optional per-epoch
    callback (the resource loggers' seam, see layers.fit)."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         layers, units),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn, on_epoch_end)


predict, predict_with_uncertainty = L.bind(forward)
