"""Deterministic pure-numpy N-BEATS (Oreshkin et al., 2020 — public
architecture; reference analog predictor_plugins/predictor_plugin_n_beats.py:
42-126 builds the same block stack in Keras).

Why numpy: the container has no TF/torch, and the per-series nets here are
tiny (tens of units, tens of samples) — a hand-rolled forward/backward with
Adam is faster than framework overhead and, crucially, DETERMINISTIC given
a seed, which is what lets Spark-side training be differential-tested
against a local run (tests/test_models_nbeats.py).

Architecture (batch X of shape (N, D), D = window length):
    residual r_0 = X;  forecast_accum = 0
    per block b:   h = MLP_b(r_b)            (``layers`` x swish Dense)
                   backcast_b = h @ Wb + cb  (D)
                   forecast_b = h @ Wf + cf  (units)
                   r_{b+1} = r_b - backcast_b
                   forecast_accum += forecast_b
    per horizon H: y_H = forecast_accum @ Wh + ch   (linear head)

Loss: mean Huber(delta=1) over samples and horizons (Keras Huber default,
as compiled by the reference plugin). Optimizer: Adam, full batch (the
reference fits with shuffle=False; full-batch removes order effects
entirely). Uncertainty: MC dropout at predict time (seeded masks on the
hidden activations) -> per-sample mean/std, the numpy analog of the
reference's predict_mc_welford (common/base.py:350-352); mc_samples<=1
returns zero uncertainty like the deterministic plugin variant. The loop,
the optimizer, the head loss and both predict paths are the family's
shared contract in models/layers.py; this module holds the architecture.
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
    blocks: int = 2,
    layers: int = 2,
    units: int = 16,
) -> dict[str, np.ndarray]:
    """Glorot-uniform init (Keras Dense default), seeded — runs are
    bit-reproducible for a given generator state."""

    def glorot(n_in: int, n_out: int) -> np.ndarray:
        lim = np.sqrt(6.0 / (n_in + n_out))
        return rng.uniform(-lim, lim, size=(n_in, n_out))

    p: dict[str, np.ndarray] = {"__meta": np.array([blocks, layers, units, input_dim])}
    for b in range(blocks):
        for layer in range(layers):
            n_in = input_dim if layer == 0 else units
            p[f"W{b}_{layer}"] = glorot(n_in, units)
            p[f"c{b}_{layer}"] = np.zeros(units)
        p[f"Wb{b}"] = glorot(units, input_dim)
        p[f"cb{b}"] = np.zeros(input_dim)
        p[f"Wf{b}"] = glorot(units, units)
        p[f"cf{b}"] = np.zeros(units)
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
    """Returns ({horizon: (N,) predictions}, cache). With dropout_rate>0
    and a generator, inverted-dropout masks the hidden activations (MC
    prediction path; never used during training here)."""
    blocks, layers, units, input_dim = (int(x) for x in p["__meta"])
    r = X
    facc = np.zeros((X.shape[0], units))
    cache = [] if want_cache else None
    for b in range(blocks):
        h = r
        zs, hs = [], [h]
        for layer in range(layers):
            z = h @ p[f"W{b}_{layer}"] + p[f"c{b}_{layer}"]
            h = L.swish(z)
            if dropout_rate > 0.0 and dropout_rng is not None:
                mask = (dropout_rng.random(h.shape) >= dropout_rate)
                h = h * mask / (1.0 - dropout_rate)
            zs.append(z)
            hs.append(h)
        back = h @ p[f"Wb{b}"] + p[f"cb{b}"]
        facc = facc + (h @ p[f"Wf{b}"] + p[f"cf{b}"])
        if want_cache:
            cache.append((hs, zs))
        r = r - back
    ys = {h: facc @ p[f"Wh{h}"] + p[f"ch{h}"] for h in horizons}
    if want_cache:
        return ys, (cache, facc)
    return ys, None


def loss_and_grads(
    p: dict[str, np.ndarray],
    X: np.ndarray,
    targets: dict[int, np.ndarray],
    horizons: tuple[int, ...],
    loss_fn=None,
) -> tuple[float, dict[str, np.ndarray]]:
    """Full-batch Huber loss + analytic gradients (finite-difference-checked
    in tests/test_models_nbeats.py::test_gradcheck). ``loss_fn`` swaps in a
    models/losses.py objective: (y_true, y_pred) -> (value, dvalue/dy_pred);
    None keeps the default Huber path bit-identical."""
    blocks, layers, units, input_dim = (int(x) for x in p["__meta"])
    N = X.shape[0]
    ys, (cache, facc) = forward(p, X, horizons, want_cache=True)
    loss, dys = L.head_loss(ys, targets, horizons, loss_fn)

    g = {k: np.zeros_like(v) for k, v in p.items() if k != "__meta"}
    dfacc = np.zeros_like(facc)
    for h in horizons:
        de = dys[h]                        # d(loss)/d(y_h), (N,)
        g[f"Wh{h}"] = facc.T @ de
        g[f"ch{h}"] = np.array(de.sum())
        dfacc += de[:, None] * p[f"Wh{h}"][None, :]

    dr_next = np.zeros((N, input_dim))          # d(loss)/d(r_{B}) — unused output
    for b in reversed(range(blocks)):
        hs, zs = cache[b]
        x_b = hs[-1]                            # (N, units) final hidden
        # forecast branch: every block's forecast feeds the shared accumulator
        dx = dfacc @ p[f"Wf{b}"].T
        g[f"Wf{b}"] = x_b.T @ dfacc
        g[f"cf{b}"] = dfacc.sum(axis=0)
        # backcast branch: r_{b+1} = r_b - back_b  =>  d(back_b) = -d(r_{b+1})
        dback = -dr_next
        g[f"Wb{b}"] = x_b.T @ dback
        g[f"cb{b}"] = dback.sum(axis=0)
        dx = dx + dback @ p[f"Wb{b}"].T
        for layer in reversed(range(layers)):
            dz = dx * L.swish_grad(zs[layer])
            g[f"W{b}_{layer}"] = hs[layer].T @ dz
            g[f"c{b}_{layer}"] = dz.sum(axis=0)
            dx = dz @ p[f"W{b}_{layer}"].T
        # r_b feeds both the block MLP input and (identity) r_{b+1}
        dr_next = dx + dr_next
    return loss, g


def train(
    X: np.ndarray,
    targets: dict[int, np.ndarray],
    horizons: tuple[int, ...] = (1,),
    seed: int | tuple = 0,
    blocks: int = 2,
    layers: int = 2,
    units: int = 16,
    epochs: int = 80,
    lr: float = 1e-2,
    weight_decay: float = 0.0,
    loss_fn=None,
) -> tuple[dict[str, np.ndarray], list[float]]:
    """Full-batch AdamW training (layers.fit); returns (params,
    per-epoch losses). ``loss_fn``: optional models/losses.py objective
    (default Huber)."""
    return L.fit(lambda rng: init_params(rng, X.shape[1], tuple(horizons),
                                         blocks, layers, units),
                 loss_and_grads, X, targets, horizons, seed, epochs, lr,
                 weight_decay, loss_fn)


predict, predict_with_uncertainty = L.bind(forward)
