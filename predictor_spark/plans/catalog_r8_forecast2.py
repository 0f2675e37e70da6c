"""Catalog part — classical forecasting completions (STAGED for r8).

Three published baselines that round out the engine's forecast
surface (persistence / AR / ARIMA / Holt-Winters / prophet-like /
ensemble already exist):

- ses_forecast_per_series    simple exponential smoothing (Brown
                             1956), alpha = 0.3, with the in-sample
                             one-step MAE
- theta_method_per_series    the Theta method (Assimakopoulos &
                             Nikolopoulos 2000) — M3 winner; the
                             average of the theta=0 (OLS trend) and
                             theta=2 (SES-smoothed) line
                             extrapolations (Hyndman & Billah 2003)
- drift_forecast_per_series  the drift method (Hyndman & Athanasopoulos,
                             FPP): last value + h times the mean
                             historical increment — closed form, the
                             honest straight-line baseline

Series grain: daily total CENTS per event type (exact integers, 30
bars) — the same bars the EWMA control chart and Bollinger rows read.

Determinism: OLS coefficients come from exact integer moment sums
(one double division each); the SES recursions replay on DuckDB as
recursive CTEs in the same float64 operation order (the Holt-Winters-
proven pattern); drift is one closed-form expression.

Scale: one events scan reduces to (series, day) bars map-side;
recursive folds are one applyInPandas task per series (N series = N
tasks, O(1) state); drift needs no fold at all — first/last/count
are one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.plans.catalog_r12_statefilter import _bars

_SES_A = 0.3    # SES smoothing
_THETA_A = 0.5  # SES smoothing inside the theta method

#: shared oracle prelude: per-series ordered daily-cents bars
_BARS = """
    base AS (
        SELECT event_type AS sid, CAST(ts AS DATE) AS day,
               sum(CAST(round(value * 100) AS BIGINT)) AS bar
        FROM events GROUP BY 1, 2
    ),
    series AS MATERIALIZED (
        SELECT sid, count(*) AS n, list(bar ORDER BY day) AS xs
        FROM base GROUP BY sid HAVING count(*) >= 3
    )
"""


@query(
    "ses_forecast_per_series",
    oracle=f"""
    WITH RECURSIVE {_BARS},
    rec AS (
        SELECT sid, n, xs, 1 AS i, CAST(xs[1] AS DOUBLE) AS l,
               CAST(0.0 AS DOUBLE) AS abs_err
        FROM series
        UNION ALL
        SELECT sid, n, xs, i + 1,
               {_SES_A} * xs[i + 1] + {1 - _SES_A} * l,
               abs_err + abs(xs[i + 1] - l)
        FROM rec WHERE i < n
    )
    SELECT sid AS event_type, CAST(n AS BIGINT) AS n,
           round(l / 100.0, 6) AS ses_level,
           round(abs_err / (n - 1) / 100.0, 6) AS one_step_mae
    FROM rec WHERE i = n ORDER BY event_type
    """,
)
def ses_forecast_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SES (alpha = 0.3) per series, seeded at the first bar; the flat
    h-step forecast IS the final level, reported in value units next
    to the in-sample one-step MAE (each l_{t-1} is the forecast of
    x_t — the error accumulates inside the same fold).

    Scale: one applyInPandas fold per series over the map-side bar
    reduction; O(1) state."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("ses_level", DoubleType()),
        StructField("one_step_mae", DoubleType()),
    ])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        x = pdf["bar"].to_numpy(dtype=np.int64)
        n = len(x)
        if n < 3:
            return pd.DataFrame(
                {"event_type": pd.Series(dtype=object),
                 "n": pd.Series(dtype=np.int64),
                 "ses_level": pd.Series(dtype=np.float64),
                 "one_step_mae": pd.Series(dtype=np.float64)})
        l, abs_err = float(x[0]), 0.0
        for k in range(1, n):
            abs_err += abs(float(x[k]) - l)
            l = _SES_A * float(x[k]) + (1 - _SES_A) * l
        return pd.DataFrame({
            "event_type": [pdf["sid"].iloc[0]], "n": [n],
            "ses_level": [round(l / 100.0, 6)],
            "one_step_mae": [round(abs_err / (n - 1) / 100.0, 6)]})

    return (_bars(spark, sf_dir).groupBy("sid")
            .applyInPandas(fold, schema).orderBy("event_type"))


@query(
    "theta_method_per_series",
    oracle=f"""
    WITH RECURSIVE {_BARS},
    ols AS (
        SELECT sid, n, xs,
               (CAST(n AS DOUBLE) * sty - st * sy)
                   / (CAST(n AS DOUBLE) * stt - st * st) AS b,
               (sy - (CAST(n AS DOUBLE) * sty - st * sy)
                     / (CAST(n AS DOUBLE) * stt - st * st) * st)
                   / n AS a
        FROM (
            SELECT sid, n, xs,
                   CAST(n * (n + 1) / 2 AS HUGEINT) AS st,
                   CAST(n * (n + 1) * (2 * n + 1) / 6 AS HUGEINT) AS stt,
                   list_sum(xs) AS sy,
                   list_sum(list_transform(range(1, CAST(n + 1 AS INTEGER)),
                                           t -> t * xs[CAST(t AS INTEGER)]))
                       AS sty
            FROM series
        )
    ),
    rec AS (
        SELECT sid, n, xs, a, b, 1 AS i,
               2.0 * xs[1] - (a + b * 1) AS l
        FROM ols
        UNION ALL
        SELECT sid, n, xs, a, b, i + 1,
               {_THETA_A} * (2.0 * xs[i + 1] - (a + b * (i + 1)))
                   + {1 - _THETA_A} * l
        FROM rec WHERE i < n
    )
    SELECT sid AS event_type, CAST(n AS BIGINT) AS n,
           round(b / 100.0, 6) AS trend_slope,
           round(l / 100.0, 6) AS theta2_level,
           round(0.5 * (l + a + b * (n + 1)) / 100.0, 6) AS fc1,
           round(0.5 * (l + a + b * (n + 2)) / 100.0, 6) AS fc2,
           round(0.5 * (l + a + b * (n + 3)) / 100.0, 6) AS fc3
    FROM rec WHERE i = n ORDER BY event_type
    """,
)
def theta_method_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta method: the theta=0 line is the OLS trend a + b·t (exact
    integer moments — t sums are closed-form n-polynomials); the
    theta=2 line 2x_t − (a + b·t) doubles the local curvature and is
    smoothed by SES (alpha = 0.5) seeded at its first point; the
    h-step forecast averages the two line extrapolations (the SES line
    forecasts flat, the trend line at a + b(n+h)).

    Scale: identical shape to SES — one fold per series after the bar
    reduction; the OLS moments ride the same fold's exact integers."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("trend_slope", DoubleType()),
        StructField("theta2_level", DoubleType()),
        StructField("fc1", DoubleType()),
        StructField("fc2", DoubleType()),
        StructField("fc3", DoubleType()),
    ])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        x = pdf["bar"].to_numpy(dtype=np.int64)
        n = len(x)
        if n < 3:
            return pd.DataFrame(
                {"event_type": pd.Series(dtype=object),
                 "n": pd.Series(dtype=np.int64),
                 **{c: pd.Series(dtype=np.float64)
                    for c in ("trend_slope", "theta2_level",
                              "fc1", "fc2", "fc3")}})
        st = n * (n + 1) // 2
        stt = n * (n + 1) * (2 * n + 1) // 6
        sy = int(x.sum())
        sty = int((np.arange(1, n + 1, dtype=np.int64) * x).sum())
        b = (float(n) * float(sty) - float(st) * float(sy)) \
            / (float(n) * float(stt) - float(st) * float(st))
        a = (float(sy) - b * float(st)) / float(n)
        l = 2.0 * float(x[0]) - (a + b * 1)
        for k in range(1, n):
            l = _THETA_A * (2.0 * float(x[k]) - (a + b * (k + 1))) \
                + (1 - _THETA_A) * l
        fc = [0.5 * (l + a + b * (n + h)) / 100.0 for h in (1, 2, 3)]
        return pd.DataFrame({
            "event_type": [pdf["sid"].iloc[0]], "n": [n],
            "trend_slope": [round(b / 100.0, 6)],
            "theta2_level": [round(l / 100.0, 6)],
            "fc1": [round(fc[0], 6)], "fc2": [round(fc[1], 6)],
            "fc3": [round(fc[2], 6)]})

    return (_bars(spark, sf_dir).groupBy("sid")
            .applyInPandas(fold, schema).orderBy("event_type"))


@query(
    "drift_forecast_per_series",
    oracle=f"""
    WITH {_BARS}
    SELECT event_type, n,
           round(slope / 100.0, 6) AS drift_per_day,
           round((xn + 1.0 * slope) / 100.0, 6) AS fc1,
           round((xn + 3.0 * slope) / 100.0, 6) AS fc3
    FROM (
        SELECT sid AS event_type, CAST(n AS BIGINT) AS n,
               CAST(xs[CAST(n AS INTEGER)] AS DOUBLE) AS xn,
               CAST(xs[CAST(n AS INTEGER)] - xs[1] AS DOUBLE) / (n - 1)
                   AS slope
        FROM series
    ) ORDER BY event_type
    """,
)
def drift_forecast_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift method: fc_h = x_n + h·(x_n − x_1)/(n−1) — the
    straight line through the first and last observation, the
    strongest trivial baseline after persistence (FPP §3.1).

    Scale: no fold at all — min/max-by-day aggregates per series; the
    whole forecast is closed-form over three exact integers."""
    bars = _bars(spark, sf_dir)
    agg = (bars.groupBy(F.col("sid").alias("event_type"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.min_by("bar", "day").alias("x1"),
                F.max_by("bar", "day").alias("xn"))
           .where(F.col("n") >= 3))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("xn") - d("x1")) / (F.col("n") - 1)
    return (agg.select(
        "event_type", F.col("n").cast("long").alias("n"),
        F.round(slope / 100.0, 6).alias("drift_per_day"),
        F.round((d("xn") + 1.0 * slope) / 100.0, 6).alias("fc1"),
        F.round((d("xn") + 3.0 * slope) / 100.0, 6).alias("fc3"))
        .orderBy("event_type"))
