"""The reference's morphological / composite loss family as numpy
(value, d/dy_pred) pairs, pluggable into every model core's training loop
(every core's ``train`` accepts ``loss_fn=``; models/layers.head_loss
applies it).

Reference: predictor_plugins/common/losses.py —
  _trend_sigma_loss:134-151, _pearson_structural_loss:154-172,
  _combined_diff_loss:184-211 (the ordered-batch ``shuffle=False``
  contract: first differences of consecutive batch elements are temporal
  differences), _soft_dtw_loss:214-276 (Cuturi & Blondel 2017 softmin
  recursion), composite_loss_basic:354-407 (incentive-scaled Huber +
  optional Gaussian MMD).

With ``mask=None`` (the default) the exact unmasked formulas are used —
the engine usually trims gap rows upstream — and denominators are exact
``/n``. Passing a 0/1 gap mask (A10) switches to the reference's masked
semantics verbatim (losses.py:61-131): masked_mean denominators are
``sum(mask)+eps``, stds are _weighted_std, the first-difference term uses
``mask[1:]*mask[:-1]``, soft-DTW masks its cost matrix, and the whole
loss is scaled by ``mean(mask)`` (losses.py:149,169,204 batch_mask).
Each gradient is finite-difference checked in tests/test_losses.py.
Non-differentiable branch points (sign flips, clip boundaries, the
incentive cond) follow the TF subgradient convention: zero gradient
through the branch condition itself.
"""

from __future__ import annotations

import numpy as np

from predictor_spark.models.layers import huber, huber_grad

_EPS = 1e-8


def _std(x: np.ndarray) -> float:
    """sqrt(biased var + eps) — losses.py:128-131 _weighted_std."""
    mu = x.mean()
    return float(np.sqrt(((x - mu) ** 2).mean() + _EPS))


def _masked_mean(x: np.ndarray, m: np.ndarray) -> float:
    """losses.py:66-69 — sum(x*m) / (sum(m) + eps)."""
    return float((x * m).sum() / (m.sum() + _EPS))


def _weighted_std(x: np.ndarray, m: np.ndarray) -> float:
    """losses.py:128-131 — sqrt(masked_mean((x-mu)^2, m) + eps)."""
    mu = _masked_mean(x, m)
    return float(np.sqrt(_masked_mean((x - mu) ** 2, m) + _EPS))


def _wstd_grad(x: np.ndarray, m: np.ndarray, sp: float) -> np.ndarray:
    """d _weighted_std(x,m) / dx — exact, including the eps-order term
    from sum(m*(x-mu)) = mu*eps that TF autodiff carries."""
    s = m.sum() + _EPS
    mu = (x * m).sum() / s
    c = (m * (x - mu)).sum()  # = mu*eps, tiny but nonzero
    return m * ((x - mu) - c / s) / (s * sp)


def trend_sigma_loss(y_true: np.ndarray, y_pred: np.ndarray,
                     trend_sigma_lambda: float = 0.1,
                     mask: np.ndarray | None = None):
    """Direction-weighted Huber + under-variance penalty.

    mask: optional 0/1 gap mask (A10) — reference _trend_sigma_loss
    (losses.py:134-151): masked base/std, unmasked endpoint direction,
    total scaled by mean(mask)."""
    n = len(y_true)
    e = y_true - y_pred
    w_dir = 1.0 if np.sign(y_true[-1] - y_true[0]) == np.sign(y_pred[-1] - y_pred[0]) else 2.5
    if mask is None:
        base = float(huber(e).mean())
        st, sp = _std(y_true), _std(y_pred)
        penalty = max(0.0, st - sp)
        loss = base * w_dir + trend_sigma_lambda * penalty

        g = -huber_grad(e) / n * w_dir
        if penalty > 0.0:
            cp = y_pred - y_pred.mean()
            g = g - trend_sigma_lambda * cp / (n * sp)
        return loss, g

    m = np.asarray(mask, dtype=float)
    s = m.sum() + _EPS
    base = float((m * huber(e)).sum() / s)
    st, sp = _weighted_std(y_true, m), _weighted_std(y_pred, m)
    penalty = max(0.0, st - sp)
    bm = float(m.mean())
    loss = (base * w_dir + trend_sigma_lambda * penalty) * bm

    g = -(m * huber_grad(e)) / s * w_dir
    if penalty > 0.0:
        g = g - trend_sigma_lambda * _wstd_grad(y_pred, m, sp)
    return loss, g * bm


def pearson_structural_loss(y_true: np.ndarray, y_pred: np.ndarray,
                            pearson_alpha: float = 0.5,
                            mask: np.ndarray | None = None):
    """MAE + alpha * (1 - Pearson r), r clipped to [-1, 1].

    mask: optional 0/1 gap mask (A10) — reference _pearson_structural_loss
    (losses.py:154-170): masked mean/cov/std, total scaled by mean(mask)."""
    n = len(y_true)
    e = y_true - y_pred
    if mask is None:
        mae = float(np.abs(e).mean())
        ct = y_true - y_true.mean()
        cp = y_pred - y_pred.mean()
        cov = float((ct * cp).mean())
        st, sp = _std(y_true), _std(y_pred)
        denom = st * sp + _EPS
        corr_raw = cov / denom
        corr = float(np.clip(corr_raw, -1.0, 1.0))
        loss = mae + pearson_alpha * (1.0 - corr)

        g = -np.sign(e) / n
        if -1.0 < corr_raw < 1.0:
            dcov = ct / n
            dsp = cp / (n * sp)
            dcorr = (dcov * denom - cov * st * dsp) / (denom * denom)
            g = g - pearson_alpha * dcorr
        return loss, g

    m = np.asarray(mask, dtype=float)
    s = m.sum() + _EPS
    mae = float((m * np.abs(e)).sum() / s)
    ct = y_true - _masked_mean(y_true, m)
    cp = y_pred - _masked_mean(y_pred, m)
    cov = float((m * ct * cp).sum() / s)
    st, sp = _weighted_std(y_true, m), _weighted_std(y_pred, m)
    denom = st * sp + _EPS
    corr_raw = cov / denom
    corr = float(np.clip(corr_raw, -1.0, 1.0))
    bm = float(m.mean())
    loss = (mae + pearson_alpha * (1.0 - corr)) * bm

    g = -(m * np.sign(e)) / s
    if -1.0 < corr_raw < 1.0:
        # dcov/dp_i = m_i*(ct_i - sum(m*ct)/s)/s (the eps-order centering
        # remainder sum(m*ct) = mu_t*eps is kept for exact gradients)
        dcov = m * (ct - (m * ct).sum() / s) / s
        dsp = _wstd_grad(y_pred, m, sp)
        dcorr = (dcov * denom - cov * st * dsp) / (denom * denom)
        g = g - pearson_alpha * dcorr
    return loss, g * bm


def combined_diff_loss(y_true: np.ndarray, y_pred: np.ndarray,
                       diff_weight: float = 1.0,
                       mask: np.ndarray | None = None):
    """Huber on levels + Huber on first differences of the ORDERED batch
    + 0.1 * under-variance-ratio penalty. Order-sensitive by design: the
    reference trains with shuffle=False so consecutive batch elements are
    temporally adjacent (losses.py:184-189); the engine's full-batch,
    time-sorted windows satisfy the same contract.

    mask: optional 0/1 gap mask (A10) — reference _combined_diff_loss
    (losses.py:173-207): diff term valid only where both neighbours are
    unmasked (mask[1:]*mask[:-1]), total scaled by mean(mask)."""
    n = len(y_true)
    e = y_true - y_pred
    dt = y_true[1:] - y_true[:-1]
    dp = y_pred[1:] - y_pred[:-1]
    ed = dt - dp
    if mask is None:
        level = float(huber(e).mean())
        diff = float(huber(ed).mean()) if n > 1 else 0.0
        st, sp = _std(y_true), _std(y_pred)
        ratio = sp / (st + _EPS)
        penalty = max(0.0, 1.0 - ratio)
        loss = level + diff_weight * diff + 0.1 * penalty

        g = -huber_grad(e) / n
        if n > 1:
            gd = huber_grad(ed) / (n - 1)
            g[1:] -= diff_weight * gd
            g[:-1] += diff_weight * gd
        if penalty > 0.0:
            cp = y_pred - y_pred.mean()
            g = g - 0.1 * cp / (n * sp * (st + _EPS))
        return loss, g

    m = np.asarray(mask, dtype=float)
    s = m.sum() + _EPS
    level = float((m * huber(e)).sum() / s)
    md = m[1:] * m[:-1]
    sd = md.sum() + _EPS
    diff = float((md * huber(ed)).sum() / sd) if n > 1 else 0.0
    st, sp = _weighted_std(y_true, m), _weighted_std(y_pred, m)
    ratio = sp / (st + _EPS)
    penalty = max(0.0, 1.0 - ratio)
    bm = float(m.mean())
    loss = (level + diff_weight * diff + 0.1 * penalty) * bm

    g = -(m * huber_grad(e)) / s
    if n > 1:
        gd = md * huber_grad(ed) / sd
        g[1:] -= diff_weight * gd
        g[:-1] += diff_weight * gd
    if penalty > 0.0:
        g = g - 0.1 * _wstd_grad(y_pred, m, sp) / (st + _EPS)
    return loss, g * bm


def soft_dtw_loss(y_true: np.ndarray, y_pred: np.ndarray,
                  soft_dtw_gamma: float = 0.1,
                  mask: np.ndarray | None = None):
    """Soft-DTW between the true and predicted batch sequences (losses.py
    _soft_dtw_loss; Cuturi & Blondel 2017). O(n^2) DP — per-series batches
    are small. Gradient via the standard E-matrix backward recursion.

    mask: optional 0/1 gap mask (A10) — reference losses.py:217-233: the
    cost matrix is masked (D*m2 + (1-m2)*1e6 with m2 = outer(m,m)) so the
    alignment path avoids gap positions; an all-masked batch returns 0."""
    x, y = y_true, y_pred
    n = len(x)
    gamma = max(soft_dtw_gamma, _EPS)
    D = (x[:, None] - y[None, :]) ** 2
    m2 = None
    if mask is not None:
        m = np.asarray(mask, dtype=float)
        if not (m > 0.0).any():
            return 0.0, np.zeros(n)
        m2 = m[:, None] * m[None, :]
        D = D * m2 + (1.0 - m2) * 1e6
    INF = 1e12
    R = np.full((n + 2, n + 2), INF)
    R[0, 0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            v = np.array([R[i - 1, j], R[i, j - 1], R[i - 1, j - 1]])
            vmin = v.min()
            sm = vmin - gamma * np.log(np.exp(-(v - vmin) / gamma).sum() + _EPS)
            R[i, j] = D[i - 1, j - 1] + sm
    loss = float(R[n, n])

    # backward (E[i,j] = dL/dR[i,j])
    E = np.zeros((n + 2, n + 2))
    E[n + 1, n + 1] = 1.0
    R[n + 1, n + 1] = R[n, n]
    Dp = np.zeros((n + 2, n + 2))
    Dp[1:n + 1, 1:n + 1] = D
    R[:, n + 1] = -INF
    R[n + 1, :] = -INF
    R[n + 1, n + 1] = R[n, n]
    for j in range(n, 0, -1):
        for i in range(n, 0, -1):
            a = np.exp((R[i + 1, j] - R[i, j] - Dp[i + 1, j]) / gamma)
            b = np.exp((R[i, j + 1] - R[i, j] - Dp[i, j + 1]) / gamma)
            c = np.exp((R[i + 1, j + 1] - R[i, j] - Dp[i + 1, j + 1]) / gamma)
            E[i, j] = E[i + 1, j] * a + E[i, j + 1] * b + E[i + 1, j + 1] * c
    # dD[i,j]/dy_pred_j = -2 (x_i - y_j), scaled by m2[i,j] when masked
    if m2 is None:
        g = np.array([(-2.0 * (x - y[j]) * E[1:n + 1, j + 1]).sum()
                      for j in range(n)])
    else:
        g = np.array([(-2.0 * (x - y[j]) * m2[:, j] * E[1:n + 1, j + 1]).sum()
                      for j in range(n)])
    return loss, g


def incentive_composite_loss(y_true: np.ndarray, y_pred: np.ndarray,
                             mmd_lambda: float = 0.0, sigma: float = 1.0):
    """composite_loss_basic (losses.py:354-407): Huber shrunk by the
    incentive factor in [1, 1000] that rewards beating the naive
    zero-return predictor, + optional Gaussian MMD term."""
    n = len(y_true)
    e = y_true - y_pred
    hub = float(huber(e).mean())
    dhub = -huber_grad(e) / n

    pe = float(np.abs(e).mean())
    ne = float(np.abs(y_true).mean())
    ratio_raw = pe / (ne + _EPS)
    ratio = min(max(ratio_raw, 0.0), 1.0)
    if pe <= _EPS:
        inc, dinc = 1000.0, np.zeros(n)
    elif pe <= ne:
        inc = 1000.0 - 999.0 * ratio
        if 0.0 < ratio_raw < 1.0:
            dpe = -np.sign(e) / n
            dinc = -999.0 * dpe / (ne + _EPS)
        else:
            dinc = np.zeros(n)
    else:
        inc, dinc = 1.0, np.zeros(n)
    loss = hub / inc
    g = (dhub * inc - hub * dinc) / (inc * inc)

    if mmd_lambda != 0.0:
        k = lambda a, b: np.exp(-((a[:, None] - b[None, :]) ** 2) / (2.0 * sigma * sigma))
        Kpp, Ktt, Kpt = k(y_pred, y_pred), k(y_true, y_true), k(y_pred, y_true)
        mmd = float(Kpp.mean() + Ktt.mean() - 2.0 * Kpt.mean())
        # d k(p_i,p_j)/dp_i = -(p_i-p_j)/sigma^2 * k  (appears twice in Kpp)
        dmmd = (-2.0 * ((y_pred[:, None] - y_pred[None, :]) * Kpp).sum(axis=1)
                / (sigma * sigma) / Kpp.size
                + 2.0 * ((y_pred[:, None] - y_true[None, :]) * Kpt).sum(axis=1)
                / (sigma * sigma) / Kpt.size)
        loss += mmd_lambda * mmd
        g = g + mmd_lambda * dmmd
    return loss, g


LOSSES = {
    "trend_sigma": trend_sigma_loss,
    "pearson_structural": pearson_structural_loss,
    "combined_diff": combined_diff_loss,
    "soft_dtw": soft_dtw_loss,
    "incentive": incentive_composite_loss,
}
