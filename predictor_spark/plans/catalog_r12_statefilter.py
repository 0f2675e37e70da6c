"""Catalog part — Kalman local-level state filtering (STAGED for r9).

The engine's smoothing stack (EMA/rolling: operators/temporal.py; SES/
Holt-Winters/theta: catalog_forecast, catalog_r8_forecast2) gains the
probabilistic filter every monitoring pipeline eventually reaches for:

- kalman_level_daily        local-level Kalman filter (Harvey 1989 ch.2;
                            Kalman 1960) over the daily integer-cent
                            bars per event type: filtered level and
                            gain per day
- kalman_innovation_summary standardized one-step innovations
                            z_t = (y_t - m_{t-1}) / sqrt(P_pred + R) —
                            the filter-native anomaly readout (count of
                            |z| > 3, max |z|)

Model: x_t = x_{t-1} + w (var Q), y_t = x_t + v (var R); per step
  P_pred = P + Q;  K = P_pred / (P_pred + R)
  m' = m + K (y - m);  P' = (1 - K) P_pred
seeded m_1 = y_1, P_1 = R.  Q/R are fixed module constants — the rows
verify the RECURSION, not a tuned model.

Determinism: bars are exact integer cents; both engines run the
IDENTICAL floating-point recursion — numpy scalar float64 in one
applyInPandas fold per series vs a DuckDB recursive CTE with the same
expression shapes (the ses_forecast_per_series precedent,
catalog_r8_forecast2.py) — so every intermediate double is bit-equal
and only the final outputs are rounded (6 dp).

Scale: one events scan -> the daily map-side rollup; the recursion is
O(1) state per series inside one applyInPandas stage (N series = N
folds, one shuffle); days-per-series is bounded by the calendar, not
the SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import query, _t

_Q = 1.0e4  # process variance (cents^2 per day)
_R = 1.0e6  # observation variance (cents^2)

#: per-series ordered daily-cents bars (oracle prelude)
_BARS = """
    base AS (
        SELECT event_type AS sid, CAST(ts AS DATE) AS day,
               sum(CAST(round(value * 100) AS BIGINT)) AS bar
        FROM events GROUP BY 1, 2
    ),
    series AS MATERIALIZED (
        SELECT sid, count(*) AS n,
               list(bar ORDER BY day) AS xs,
               list(day ORDER BY day) AS ds
        FROM base GROUP BY sid HAVING count(*) >= 2
    )
"""

#: the shared recursion (one row per (sid, step)); z/k are NULL at the
#: seed step.  Expression shapes mirror the numpy fold EXACTLY.
_KF_REC = f"""
    rec AS (
        SELECT sid, n, xs, ds, 1 AS i,
               CAST(xs[1] AS DOUBLE) AS m, CAST({_R!r} AS DOUBLE) AS p,
               CAST(NULL AS DOUBLE) AS k, CAST(NULL AS DOUBLE) AS z
        FROM series
        UNION ALL
        SELECT sid, n, xs, ds, i + 1,
               m + ((p + {_Q!r}) / (p + {_Q!r} + {_R!r}))
                   * (xs[i + 1] - m),
               (1.0 - (p + {_Q!r}) / (p + {_Q!r} + {_R!r}))
                   * (p + {_Q!r}),
               (p + {_Q!r}) / (p + {_Q!r} + {_R!r}),
               (xs[i + 1] - m) / sqrt(p + {_Q!r} + {_R!r})
        FROM rec WHERE i < n
    )
"""


def _kf_fold_rows(pdf):
    """The numpy fold: yields (day, m, p, k, z) per step with the same
    float64 expression shapes as _KF_REC."""
    import math

    pdf = pdf.sort_values("day")
    x = pdf["bar"].to_numpy()
    days = pdf["day"].tolist()
    n = len(x)
    if n < 2:
        return
    m, p = float(x[0]), _R
    yield days[0], m, p, None, None
    for t in range(1, n):
        pp = p + _Q
        k = pp / (pp + _R)
        z = (float(x[t]) - m) / math.sqrt(pp + _R)
        m = m + k * (float(x[t]) - m)
        p = (1.0 - k) * pp
        yield days[t], m, p, k, z


def _bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sid, day, bar): exact integer daily cents per event type."""
    ev = _t(spark, sf_dir, "events")
    return (ev.select(F.col("event_type").alias("sid"),
                      F.col("ts").cast("date").alias("day"),
                      F.round(F.col("value") * 100).cast("long")
                      .alias("cents"))
            .groupBy("sid", "day").agg(F.sum("cents").alias("bar")))


@query(
    "kalman_level_daily",
    oracle=f"""
    WITH RECURSIVE {_BARS},
    {_KF_REC}
    SELECT sid AS event_type, strftime(ds[i], '%Y-%m-%d') AS ddate,
           round(m / 100.0, 6) AS level,
           round(k, 6) AS gain
    FROM rec ORDER BY event_type, ddate
    """,
)
def kalman_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered local level (value units) and Kalman gain per (type,
    day).  The gain is NULL at the seed step; it converges toward the
    steady-state value within a few steps — visible in the output, which
    is the point of reporting it per day."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("ddate", StringType()),
        StructField("level", DoubleType()),
        StructField("gain", DoubleType()),
    ])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = [(pdf["sid"].iloc[0], d.isoformat(), round(m / 100.0, 6),
                 None if k is None else round(k, 6))
                for d, m, p, k, z in _kf_fold_rows(pdf)]
        return pd.DataFrame(rows, columns=["event_type", "ddate",
                                           "level", "gain"])

    return (_bars(spark, sf_dir).groupBy("sid")
            .applyInPandas(fold, schema).orderBy("event_type", "ddate"))


@query(
    "kalman_innovation_summary",
    oracle=f"""
    WITH RECURSIVE {_BARS},
    {_KF_REC}
    SELECT sid AS event_type,
           CAST(count(z) AS BIGINT) AS n_innovations,
           CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies,
           round(max(abs(z)), 6) AS max_abs_z
    FROM rec WHERE z IS NOT NULL GROUP BY sid ORDER BY event_type
    """,
)
def kalman_innovation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type summary of the standardized one-step innovations — the
    filter's own anomaly channel (an innovation outside +-3 is a point
    the local-level model cannot explain).  Counts and the max are over
    bit-identical doubles on both engines; only max_abs_z is rounded."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_innovations", LongType()),
        StructField("n_anomalies", LongType()),
        StructField("max_abs_z", DoubleType()),
    ])

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        zs = [abs(z) for _, _, _, _, z in _kf_fold_rows(pdf)
              if z is not None]
        if not zs:
            return pd.DataFrame(
                {"event_type": pd.Series(dtype=object),
                 "n_innovations": pd.Series(dtype="int64"),
                 "n_anomalies": pd.Series(dtype="int64"),
                 "max_abs_z": pd.Series(dtype="float64")})
        return pd.DataFrame({
            "event_type": [pdf["sid"].iloc[0]],
            "n_innovations": [len(zs)],
            "n_anomalies": [sum(1 for z in zs if z > 3.0)],
            "max_abs_z": [round(max(zs), 6)]})

    return (_bars(spark, sf_dir).groupBy("sid")
            .applyInPandas(fold, schema).orderBy("event_type"))
