"""Catalog part 8 — deep-model queries (numpy N-BEATS Estimator family).

The reference's main workload is its Keras predictor-plugin family
(predictor_plugins/predictor_plugin_n_beats.py:22-140 and 7 siblings,
contract predictor_plugins/common/base.py:74-124). The engine's analog is
a deterministic pure-numpy N-BEATS (models/nbeats.py) trained PER SERIES
inside one applyInPandas stage (models/estimator.py) — N series = N
models, one shuffle.

Training is not SQL-expressible, so the registered rows here are the
families' forward passes with literal seeded weights and the loss
family, each replayed by its DuckDB oracle. Training is checked by the differential pytest
(tests/test_models_nbeats.py::test_spark_matches_local_numpy: the Spark
path reproduces a local numpy run bit-for-bit given the seed) and its
beats-naive criterion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import _t, query

_CUTOFF = "2024-01-22 00:00:00"


def _nbeats_literal_params() -> dict:
    """Fixed seeded Glorot weights for the forward-pass companion query:
    window=8, blocks=2, layers=1, units=6, horizon 1. Generated once at
    import; identical literals feed both the Spark expression tree and
    the DuckDB oracle."""
    import numpy as np

    from predictor_spark.models.nbeats import init_params

    return init_params(np.random.default_rng(7), 8, (1,),
                       blocks=2, layers=1, units=6)


def nbeats_forward_layers(raw: list[str]) -> list[dict[str, str]]:
    """The N-BEATS forward pass (models/nbeats.py forward: residual
    backcast + shared forecast accumulator + linear head) emitted as
    ORDERED LAYERS of SQL scalar expressions over the 8 window values in
    ``raw``. Each layer references only the previous layer's columns, so
    Spark applies them as chained withColumns (pure JVM whole-stage
    codegen — deep-model inference with zero Python in the loop) and the
    oracle nests them as subqueries; both engines evaluate the exact same
    strings, so they agree to float noise (~1 ulp exp differences)."""
    p = _nbeats_literal_params()
    U, D = 6, 8

    def lit(x) -> str:
        return repr(float(x))

    layers: list[dict[str, str]] = []
    layers.append({f"x{i}": f"({raw[i]}) / 100.0" for i in range(D)})
    W0 = p["W0_0"]
    layers.append({f"z0_{j}": " + ".join(f"x{i} * {lit(W0[i, j])}" for i in range(D))
                   for j in range(U)})
    layers.append({f"h0_{j}": f"z0_{j} * (1.0 / (1.0 + exp(-z0_{j})))"
                   for j in range(U)})
    Wb = p["Wb0"]
    layers.append({f"r{i}": f"x{i} - ("
                   + " + ".join(f"h0_{j} * {lit(Wb[j, i])}" for j in range(U)) + ")"
                   for i in range(D)})
    W1 = p["W1_0"]
    layers.append({f"z1_{j}": " + ".join(f"r{i} * {lit(W1[i, j])}" for i in range(D))
                   for j in range(U)})
    layers.append({f"h1_{j}": f"z1_{j} * (1.0 / (1.0 + exp(-z1_{j})))"
                   for j in range(U)})
    Wf0, Wf1 = p["Wf0"], p["Wf1"]
    layers.append({f"f{j}": "("
                   + " + ".join(f"h0_{k} * {lit(Wf0[k, j])}" for k in range(U))
                   + ") + ("
                   + " + ".join(f"h1_{k} * {lit(Wf1[k, j])}" for k in range(U)) + ")"
                   for j in range(U)})
    Wh = p["Wh1"]
    layers.append({"y": " + ".join(f"f{j} * {lit(Wh[j])}" for j in range(U))})
    return layers


def _nbeats_forward_oracle() -> str:
    layers = nbeats_forward_layers([f"w[{i + 1}]" for i in range(8)])
    nested = """(
        SELECT event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS w,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    )"""
    nested = f"(SELECT * FROM {nested} WHERE rn >= 8) base"
    for idx, layer in enumerate(layers):
        cols = ", ".join(f"{e} AS {c}" for c, e in layer.items())
        nested = f"(SELECT *, {cols} FROM {nested}) l{idx}"
    return f"SELECT event_id, round(y, 6) + 0.0 AS y FROM {nested}"


def _lag_window_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, w0..w7): the last 8 values of each complete per-user
    window.  r14 (guide §1.2 step 2): read with 8 lag() expressions +
    row_number in ONE WindowExec instead of window_tensorize's
    collect_list array-of-arrays + element_at unpack — same values,
    same completeness filter (rn >= 8), zero per-row array allocation.
    The tensorize operator itself is unchanged and stays exercised by
    the W1/W2 rows."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    out = ev.select(
        "event_id",
        *[(F.col("value") if i == 7 else F.lag("value", 7 - i).over(w))
          .cast("double").alias(f"w{i}") for i in range(8)],
        F.row_number().over(w).alias("__rn"))
    return out.filter(F.col("__rn") >= 8).drop("__rn")


@query("nbeats_forward_pass", oracle=_nbeats_forward_oracle())
def nbeats_forward_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N-BEATS family's driver-green companion (VERDICT r2 next-1e):
    a full forward pass with literal seeded weights over every complete
    8-tick window, evaluated ENTIRELY as JVM column expressions (no
    Python, no UDF — whole-stage codegen end to end) and value-verified
    against a DuckDB oracle built from the same expression strings.
    Training itself stays pytest-verified (tests/test_models_nbeats.py
    bit-equality vs the local numpy run) because the Adam loop is not
    SQL-replayable; this row proves the architecture's inference math on
    the hard gate. Scale note: expression-tree inference is the 100 TB
    serving shape — a scan-local projection, no shuffle at all.
    Window inputs come from the lag-projection reader (guide §1.2; see
    _lag_window_inputs)."""
    df = _lag_window_inputs(spark, sf_dir)
    from predictor_spark.plans.model_exprs import apply_layers

    df = apply_layers(df, nbeats_forward_layers([f"w{i}" for i in range(8)]))
    return df.select("event_id", (F.round("y", 6) + F.lit(0.0)).alias("y"))


def _transformer_literal_params() -> dict:
    import numpy as np

    from predictor_spark.models.transformer import init_params

    return init_params(np.random.default_rng(11), 8, (1,),
                       d_model=4, n_heads=2, d_ff=8)


def _tft_literal_params() -> dict:
    import numpy as np

    from predictor_spark.models.tft import init_params

    return init_params(np.random.default_rng(13), 8, (1,),
                       d_model=4, conv_taps=3)


def _expr_forward_query(layers_fn, params_fn):
    from predictor_spark.plans.model_exprs import apply_layers

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _lag_window_inputs(spark, sf_dir)
        df = apply_layers(df, layers_fn([f"w{i}" for i in range(8)], params_fn()))
        return df.select("event_id", (F.round("y", 6) + F.lit(0.0)).alias("y"))

    return run


def _expr_forward_oracle(layers_fn, params_fn) -> str:
    from predictor_spark.plans.model_exprs import layers_to_oracle

    layers = layers_fn([f"w[{i + 1}]" for i in range(8)], params_fn())
    return layers_to_oracle(layers, "event_id, round(y, 6) + 0.0 AS y")


def _register_forward_companions() -> None:
    """transformer/TFT forward-pass hard-gate rows, same design as
    nbeats_forward_pass: literal seeded weights, one shared expression
    generator (plans/model_exprs.py) feeding both the Spark JVM
    projection chain and the DuckDB oracle; the attention query is taken
    at the last window position so only the head-reaching computation is
    emitted. Training stays pytest-verified (tests/test_models_family.py
    gradchecks + distributed-vs-local differentials)."""
    from predictor_spark.plans.model_exprs import (
        tft_forward_layers, transformer_forward_layers)

    query("transformer_forward_pass",
          oracle=_expr_forward_oracle(transformer_forward_layers,
                                      _transformer_literal_params))(
        _expr_forward_query(transformer_forward_layers,
                            _transformer_literal_params))
    query("tft_forward_pass",
          oracle=_expr_forward_oracle(tft_forward_layers,
                                      _tft_literal_params))(
        _expr_forward_query(tft_forward_layers, _tft_literal_params))


_register_forward_companions()


@query(
    "loss_family_per_series",
    oracle="""
    WITH base AS (
        SELECT user_id, value AS yp,
               lead(value) OVER (PARTITION BY user_id ORDER BY ts) AS yt,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ),
    rows_ AS (SELECT * FROM base WHERE yt IS NOT NULL),
    diffs AS (
        SELECT user_id, yt, yp, rn,
               lead(yt) OVER (PARTITION BY user_id ORDER BY rn) - yt AS dt,
               lead(yp) OVER (PARTITION BY user_id ORDER BY rn) - yp AS dp
        FROM rows_
    ),
    agg AS (
        SELECT user_id,
               count(*) AS n,
               avg(CASE WHEN abs(yt - yp) <= 1.0
                        THEN 0.5 * (yt - yp) * (yt - yp)
                        ELSE abs(yt - yp) - 0.5 END) AS hub,
               avg(abs(yt - yp)) AS mae,
               avg(abs(yt)) AS ne,
               sqrt(var_pop(yt) + 1e-08) AS st,
               sqrt(var_pop(yp) + 1e-08) AS sp,
               covar_pop(yt, yp) AS cov,
               arg_min(yt, rn) AS yt0, arg_max(yt, rn) AS yt1,
               arg_min(yp, rn) AS yp0, arg_max(yp, rn) AS yp1,
               avg(CASE WHEN dt IS NULL THEN NULL
                        WHEN abs(dt - dp) <= 1.0
                        THEN 0.5 * (dt - dp) * (dt - dp)
                        ELSE abs(dt - dp) - 0.5 END) AS dhub
        FROM diffs GROUP BY user_id
        -- match the engine's len(v) < 3 guard: a series with only one
        -- prediction pair (2 events) emits no row on either side
        HAVING count(*) >= 2
    ),
    calc AS (
        SELECT user_id, n, hub, mae, ne, st, sp, cov, dhub,
               CASE WHEN sign(yt1 - yt0) = sign(yp1 - yp0)
                    THEN 1.0 ELSE 2.5 END AS w_dir,
               least(greatest(cov / (st * sp + 1e-08), -1.0), 1.0) AS corr,
               least(greatest(mae / (ne + 1e-08), 0.0), 1.0) AS ratio
        FROM agg
    )
    SELECT user_id, n,
           round(CAST(CAST(hub * w_dir + 0.1 * greatest(0.0, st - sp)
               AS REAL) AS DOUBLE), 6) AS trend_sigma,
           round(CAST(CAST(mae + 0.5 * (1.0 - corr) AS REAL) AS DOUBLE), 6)
               AS pearson_structural,
           round(CAST(CAST(hub + dhub
               + 0.1 * greatest(0.0, 1.0 - sp / (st + 1e-08)) AS REAL)
               AS DOUBLE), 6) AS combined_diff,
           round(CAST(CAST(hub / (CASE WHEN mae <= 1e-08 THEN 1000.0
                             WHEN mae <= ne THEN 1000.0 - 999.0 * ratio
                             ELSE 1.0 END) AS REAL) AS DOUBLE), 6) AS incentive
    FROM calc
    """,
)
def loss_family_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The morphological/composite loss family (models/losses.py;
    reference predictor_plugins/common/losses.py:134-211,354-407)
    evaluated per series for the persistence predictor (y_pred = value,
    y_true = next value) — the loss VALUES are closed-form aggregates, so
    the whole family gets a hard-gate row even though training under
    these losses is verified by pytest (tests/test_losses.py gradchecks +
    plug-into-every-core runs). Spark side runs the actual numpy loss
    functions per series via applyInPandas; one shuffle on the series
    key. soft-DTW is pytest-only (its DP recursion has no reasonable
    closed-form SQL)."""
    import pandas as pd

    from predictor_spark.models import losses as LO
    from predictor_spark.shiplib import ensure_workers_can_import

    ensure_workers_can_import(spark)
    ev = _t(spark, sf_dir, "events")

    schema = ("user_id long, n long, trend_sigma double, "
              "pearson_structural double, combined_diff double, "
              "incentive double")

    def per_series(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("ts").reset_index(drop=True)
        v = pdf["value"].to_numpy(dtype="float64")
        if len(v) < 3:
            return pd.DataFrame(columns=["user_id", "n", "trend_sigma",
                                         "pearson_structural",
                                         "combined_diff", "incentive"])
        yp, yt = v[:-1], v[1:]
        return pd.DataFrame([{
            "user_id": int(pdf["user_id"].iloc[0]),
            "n": len(yt),
            # float32-collapse, then round JVM-side with F.round:
            # Python's round() is half-EVEN while Spark/DuckDB round
            # half-AWAY, and float32 values land on exact decimal ties
            # (e.g. x.0078125) often enough to matter
            "trend_sigma": float(np.float32(LO.trend_sigma_loss(yt, yp)[0])),
            "pearson_structural": float(np.float32(
                LO.pearson_structural_loss(yt, yp)[0])),
            "combined_diff": float(np.float32(
                LO.combined_diff_loss(yt, yp)[0])),
            "incentive": float(np.float32(
                LO.incentive_composite_loss(yt, yp)[0])),
        }])

    n_part = spark.sparkContext.defaultParallelism
    out = (
        ev.select("user_id", "ts", "value")
        .repartition(n_part, "user_id")
        .groupBy("user_id")
        .applyInPandas(per_series, schema)
    )
    return out.select(
        "user_id", "n",
        *[F.round(c, 6).alias(c) for c in
          ("trend_sigma", "pearson_structural", "combined_diff", "incentive")],
    )


def _lstm_literal_params() -> dict:
    import numpy as np

    from predictor_spark.models.lstm import init_params

    return init_params(np.random.default_rng(17), 8, (1,),
                       d_model=4, n_heads=2, units=4)


def _register_lstm_companion() -> None:
    """BiLSTM+attention forward-pass hard-gate row: the recurrence is
    UNROLLED into expression layers (step t references step t-1's hidden
    columns), attention runs at every position, and tanh is emitted as
    1 - 2/(e^{2z}+1) because the DuckDB build ships no tanh(). Training
    stays pytest-verified (gradcheck incl. BPTT + distributed-vs-local
    differential)."""
    from predictor_spark.plans.model_exprs import lstm_forward_layers

    query("lstm_forward_pass",
          oracle=_expr_forward_oracle(lstm_forward_layers,
                                      _lstm_literal_params))(
        _expr_forward_query(lstm_forward_layers, _lstm_literal_params))


_register_lstm_companion()


def _mimo_literal_params() -> dict:
    import numpy as np

    from predictor_spark.models.mimo import init_params

    return init_params(np.random.default_rng(19), 8, (1, 3),
                       d_model=4, conv_taps=3, d_ff=8)


def _composite_literal_params() -> dict:
    import numpy as np

    from predictor_spark.models.composite import init_params

    return init_params(np.random.default_rng(23), 8, (1,),
                       branch_units=6, merged_units=8)


def _register_mimo_composite_companions() -> None:
    """MIMO + composite forward-pass hard-gate rows. The MIMO row emits
    BOTH horizons from the one shared encoder pass (joint decode is the
    MIMO contract, predictor_plugin_mimo.py); the composite row runs the
    three channel branches (trend MA / first-difference / residual,
    predictor_plugin_composite.py three-branch design) merged to a shared
    head."""
    from predictor_spark.plans.model_exprs import (apply_layers,
                                                   composite_forward_layers,
                                                   layers_to_oracle,
                                                   mimo_forward_layers)

    def mimo_run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from predictor_spark.operators import temporal

        ev = _t(spark, sf_dir, "events")
        wins = temporal.window_tensorize(ev, ["value"], 8,
                                         series_col="user_id", inclusive=True)
        df = wins.select(
            "event_id",
            *[F.element_at(F.element_at("window", i + 1), 1).alias(f"w{i}")
              for i in range(8)],
        )
        df = apply_layers(df, mimo_forward_layers(
            [f"w{i}" for i in range(8)], _mimo_literal_params(), (1, 3)))
        return df.select(
            "event_id",
            (F.round("y1", 6) + F.lit(0.0)).alias("y1"),
            (F.round("y3", 6) + F.lit(0.0)).alias("y3"),
        )

    mimo_oracle = layers_to_oracle(
        mimo_forward_layers([f"w[{i + 1}]" for i in range(8)],
                            _mimo_literal_params(), (1, 3)),
        "event_id, round(y1, 6) + 0.0 AS y1, round(y3, 6) + 0.0 AS y3",
    )
    query("mimo_forward_pass", oracle=mimo_oracle)(mimo_run)

    query("composite_forward_pass",
          oracle=_expr_forward_oracle(composite_forward_layers,
                                      _composite_literal_params))(
        _expr_forward_query(composite_forward_layers,
                            _composite_literal_params))


_register_mimo_composite_companions()
