"""Catalog part 9 — ARIMA(p,d,q) order selection by AIC.

The GA family's registered row is a12_ga_fitness (the fitness scalar).
The GA loop over Spark-evaluated candidates runs in plans/model_search.py
(bench.py's ga_nbeats_search row) and is pinned by the pure-Python
differential oracle in tests/test_ga.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from predictor_spark.plans.catalog import query

_CUTOFF = "2024-01-22 00:00:00"


def _arima_sums_ctes(d: int) -> str:
    """DuckDB CTE chain producing the per-series rounded cross-product
    sums for differencing level d — the same spec plans/arima.py
    implements with DataFrame ops (rounded 6 dp sums pin both engines)."""
    y = "value" if d == 0 else "value - lag(value) OVER w"
    return f"""
    y{d} AS (
        SELECT user_id, ts, {y} AS y FROM events
        WHERE ts < TIMESTAMP '{_CUTOFF}'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    x{d} AS (
        SELECT user_id, ts, y - avg(y) OVER (PARTITION BY user_id) AS x
        FROM y{d} WHERE y IS NOT NULL
    ),
    l{d} AS (
        SELECT user_id, ts, x,
               lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
               lag(x, 3) OVER w AS x3
        FROM x{d} WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    ar{d} AS (
        SELECT user_id,
               round(sum(x*x), 6)  AS s0, round(sum(x*x1), 6) AS s1,
               round(sum(x*x2), 6) AS s2, round(sum(x*x3), 6) AS s3
        FROM l{d} GROUP BY user_id HAVING round(sum(x*x), 6) > 0
    ),
    cf{d} AS (
        SELECT user_id,
               (s1/s0)*(1 - (s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)))
                 - k3 * ((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0))) AS a1,
               ((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)))
                 - k3 * ((s1/s0)*(1 - (s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)))) AS a2,
               k3 AS a3
        FROM ar{d}, LATERAL (
            SELECT (s3/s0
                    - ((s1/s0)*(1 - (s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)))) * (s2/s0)
                    - ((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0))) * (s1/s0))
                   / ((1 - (s1/s0)*(s1/s0)) * (1 - ((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)))
                                                   * ((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0))))) AS k3
        )
    ),
    e{d} AS (
        SELECT l.user_id, l.ts, l.x, l.x1, l.x2,
               lag(l.x - cf.a1*l.x1 - cf.a2*l.x2 - cf.a3*l.x3, 1) OVER w AS e1,
               lag(l.x - cf.a1*l.x1 - cf.a2*l.x2 - cf.a3*l.x3, 2) OVER w AS e2
        FROM l{d} l JOIN cf{d} cf USING (user_id)
        WINDOW w AS (PARTITION BY l.user_id ORDER BY l.ts)
    ),
    sm{d} AS (
        SELECT user_id, count(*) AS n_d{d},
               round(sum(x*x), 6)   AS syy_d{d},  round(sum(x1*x), 6)  AS sx1y_d{d},
               round(sum(x2*x), 6)  AS sx2y_d{d}, round(sum(e1*x), 6)  AS se1y_d{d},
               round(sum(e2*x), 6)  AS se2y_d{d}, round(sum(x1*x1), 6) AS sx1x1_d{d},
               round(sum(x2*x2), 6) AS sx2x2_d{d}, round(sum(e1*e1), 6) AS se1e1_d{d},
               round(sum(e2*e2), 6) AS se2e2_d{d}, round(sum(x1*x2), 6) AS sx1x2_d{d},
               round(sum(e1*e2), 6) AS se1e2_d{d}, round(sum(x1*e1), 6) AS sx1e1_d{d}
        FROM e{d} WHERE e2 IS NOT NULL GROUP BY user_id
        HAVING count(*) >= 10 AND round(sum(x*x), 6) > 0
           AND round(sum(x1*x1), 6) > 0 AND round(sum(x2*x2), 6) > 0
           AND round(sum(e1*e1), 6) > 0 AND round(sum(e2*e2), 6) > 0
    )"""


def _arima_oracle() -> str:
    from predictor_spark.plans.arima import aic_select_exprs

    return (
        "WITH " + _arima_sums_ctes(0) + "," + _arima_sums_ctes(1) + f"""
    SELECT user_id, n_d0, n_d1, {', '.join(aic_select_exprs())}
    FROM sm0 JOIN sm1 USING (user_id)
    """)


@query("arima_order_select_aic", oracle=_arima_oracle())
def arima_order_select_aic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ARIMA(p,d,q) order selection by AIC over the 10-model grid
    (p+q <= 2, d in {0,1}) — differencing + MA terms via closed-form
    Hannan-Rissanen (plans/arima.py), upgrading the AR-only
    ar_order_select_aic. Train slice is a range-limited scan; the oracle
    replays the entire two-stage estimation in SQL from the same
    rounded-sum spec."""
    from predictor_spark.plans.arima import arima_order_select
    from predictor_spark.sources.tables import load_events_range

    ev = load_events_range(spark, sf_dir, hi=_CUTOFF)
    return arima_order_select(ev)
