"""Catalog part 9 — evolutionary search queries (GA over Spark-evaluated
candidates).

The GA loop (plans/ga.py) is driver-side genome bookkeeping; every
candidate evaluation is a Spark job over the cluster. Trajectories are
rows-only for the driver gate (a SQL oracle cannot replay a generational
GA); the machinery itself is pinned by the pure-Python differential
oracle in tests/test_ga.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import _t, query
from predictor_spark.plans.ga import ga_search
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded, local_df

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


# NOT @query-registered: the generational trajectory depends on numpy PCG64
# draws (selection/crossover/mutation), which no SQL oracle can replay, so a
# registry row could never be value-verified (VERDICT r2: de-register the
# unverifiable rows; the GA family's hard-gate row is a12_ga_fitness and the
# search loop itself is pure-Python-oracle pytest-verified in tests/test_ga.py).
def ga_fitness_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded GA (pop 6, 3 generations, cxTwoPoint + Gaussian mutate +
    tournament-3) minimizing held-out MAE of a shrunk-persistence
    forecaster: pred = (1-shrink)*series_train_mean + shrink*value at
    horizon `lag`. The genome is the reference's bounds-dict shape
    (default_optimizer.py:72-88) with one int and one float gene.

    The evaluation base (per-series train means + multi-lag targets) is
    computed ONCE and cached; each candidate is then a single aggregate
    job, so a generation of candidates fans out as concurrent tiny jobs —
    the 100 TB shape, where each candidate would be a full train/score
    program instead."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    base = (
        ev.select("user_id", "ts", "value")
        .withColumn("mu", F.avg(F.when(F.col("ts") < cutoff, F.col("value")))
                    .over(Window.partitionBy("user_id")))
        .withColumns({f"t{h}": F.lead("value", h).over(w) for h in (1, 2, 3)})
        .filter(F.col("ts") >= cutoff)
        .cache()
    )
    base.count()

    def evaluate(params: dict) -> float:
        lag, shrink = int(params["lag"]), float(params["shrink"])
        pred = (1.0 - shrink) * F.col("mu") + shrink * F.col("value")
        row = collect_bounded(base.filter(F.col(f"t{lag}").isNotNull()).agg(
            F.avg(F.abs(pred - F.col(f"t{lag}"))).alias("mae")
        ), ONE_ROW, "ga candidate mae")[0]
        return float(row["mae"])

    res = ga_search(
        {"lag": (1, 3), "shrink": (0.0, 1.0)}, evaluate,
        pop_size=6, n_generations=3, cxpb=0.5, mutpb=0.4, indpb=0.5,
        seed=7, max_parallel=6,
    )
    rows = [
        (h["generation"], round(h["best_fitness"], 4), round(h["mean_fitness"], 4),
         int(h["best_params"]["lag"]), round(h["best_params"]["shrink"], 6))
        for h in res.history
    ]
    return local_df(spark, 
        rows, "generation int, best_fitness double, mean_fitness double, "
              "best_lag int, best_shrink double",
    )


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
