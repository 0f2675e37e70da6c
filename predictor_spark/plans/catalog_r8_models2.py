"""Catalog r8 — TCN and MLP forward-pass hard-gate rows (VERDICT r7 #4).

Every other model family has a literal-weight forward-pass companion
(plans/catalog_models.py, plans/model_exprs.py); TCN and MLP were covered
only via champion_feature_frame + finite-difference gradcheck pytest.
These two rows close the uniformity gap: the numpy cores' inference math
(models/tcn.py forward — stacked causal dilated conv, swish, last-step
head, the analog of the reference's
predictor_plugins/predictor_plugin_tcn.py:50-236; models/mlp.py forward —
stacked Dense + swish + linear head, the analog of
predictor_plugins/predictor_plugin_ann.py:21-106) is emitted as layered
SQL scalar expressions with seeded literal weights, evaluated by Spark as
chained JVM projections (whole-stage codegen, zero Python) and by the
DuckDB oracle as nested subqueries built from the IDENTICAL strings.

Scale: expression-tree inference is the 100 TB serving shape — a
scan-local projection over the window frame, no shuffle beyond the one
window_tensorize pass both rows share with the rest of the family.
"""

from __future__ import annotations

import numpy as np

from predictor_spark.plans.catalog import query
from predictor_spark.plans.catalog_models import (_expr_forward_oracle,
                                                  _expr_forward_query)
from predictor_spark.plans.model_exprs import _dot


def _swish(col: str) -> str:
    # models/layers.py swish: z * sigmoid(z); both engines share the string
    return f"{col} * (1.0 / (1.0 + exp(-{col})))"


def _tcn_literal_params() -> dict:
    from predictor_spark.models.tcn import init_params

    return init_params(np.random.default_rng(29), 8, (1,),
                       layers=2, channels=4, kernel=2)


def tcn_forward_layers(raw: list[str], p: dict) -> list[dict[str, str]]:
    """models/tcn.py forward with literal weights: per layer l (dilation
    2^l, kernel K) z_l[t,c] = sum_j h_l[t - j*2^l, :] @ W_l[j] + c_l with
    causal zero-padding (out-of-range taps contribute nothing), swish
    activation, head on the LAST time step. Only positions that reach the
    last-step head are emitted for the top layer."""
    D = len(raw)
    layers, channels, kernel = (int(x) for x in p["__meta"][:3])
    Ls: list[dict[str, str]] = []
    Ls.append({f"x{t}": f"({raw[t]}) / 100.0" for t in range(D)})
    # positions each layer must emit so the last layer's final step
    # exists: walk backwards from {D-1} through the causal taps
    req = {D - 1}
    per_layer_need = [None] * layers
    for layer in range(layers - 1, -1, -1):
        d = 2 ** layer
        per_layer_need[layer] = sorted(req)
        req = {t - j * d for t in req for j in range(kernel) if t - j * d >= 0}
    for layer in range(layers):
        d = 2 ** layer
        c_in = 1 if layer == 0 else channels
        W, bias = p[f"W{layer}"], p[f"c{layer}"]
        z: dict[str, str] = {}
        for t in per_layer_need[layer]:
            for c in range(channels):
                terms: list[tuple[str, float]] = []
                for j in range(kernel):
                    s = t - j * d
                    if s < 0:
                        continue  # causal zero-pad
                    if layer == 0:
                        terms.append((f"x{s}", W[j, 0, c]))
                    else:
                        terms += [(f"h{layer - 1}_{s}_{i}", W[j, i, c])
                                  for i in range(c_in)]
                z[f"z{layer}_{t}_{c}"] = _dot(terms, float(bias[c]))
        Ls.append(z)
        Ls.append({f"h{layer}_{t}_{c}": _swish(f"z{layer}_{t}_{c}")
                   for t in per_layer_need[layer] for c in range(channels)})
    Ls.append({"y": _dot([(f"h{layers - 1}_{D - 1}_{c}", p["Wh1"][c])
                          for c in range(channels)], float(p["ch1"]))})
    return Ls


def _mlp_literal_params() -> dict:
    from predictor_spark.models.mlp import init_params

    return init_params(np.random.default_rng(31), 8, (1,),
                       layers=2, units=6)


def mlp_forward_layers(raw: list[str], p: dict) -> list[dict[str, str]]:
    """models/mlp.py forward with literal weights: h_{l+1} =
    swish(h_l @ W_l + c_l), linear per-horizon head."""
    D = len(raw)
    layers, units, _ = (int(x) for x in p["__meta"])
    Ls: list[dict[str, str]] = []
    Ls.append({f"x{t}": f"({raw[t]}) / 100.0" for t in range(D)})
    prev, n_prev = [f"x{t}" for t in range(D)], D
    for layer in range(layers):
        W, bias = p[f"W{layer}"], p[f"c{layer}"]
        Ls.append({f"z{layer}_{j}": _dot([(prev[i], W[i, j])
                                          for i in range(n_prev)],
                                         float(bias[j]))
                   for j in range(units)})
        Ls.append({f"h{layer}_{j}": _swish(f"z{layer}_{j}")
                   for j in range(units)})
        prev, n_prev = [f"h{layer}_{j}" for j in range(units)], units
    Ls.append({"y": _dot([(prev[j], p["Wh1"][j]) for j in range(units)],
                         float(p["ch1"]))})
    return Ls


query("tcn_forward_pass",
      oracle=_expr_forward_oracle(tcn_forward_layers, _tcn_literal_params))(
    _expr_forward_query(tcn_forward_layers, _tcn_literal_params))

query("mlp_forward_pass",
      oracle=_expr_forward_oracle(mlp_forward_layers, _mlp_literal_params))(
    _expr_forward_query(mlp_forward_layers, _mlp_literal_params))
