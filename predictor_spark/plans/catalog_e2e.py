"""Catalog part 11 — the composed END-TO-END pipeline (VERDICT r2 next-8):
one registry row that chains the reference's full M0->M4 program through
the engine's actual operators, not ad-hoc reimplementations:

  S1  CSV-compat scan          sources/csv_compat.load_csv (NaN->0, DATE_TIME)
  W19/N1 train-stat z-score    operators/normalize.fit_zscore + normalize
  W5/M2  lead targets + AR(1)  plans/ar_model.ar1_fit_predict_split
  N3  denormalization          operators/normalize.denormalize
  A7  MC uncertainty           operators/metrics.mc_uncertainty
  S8  long-format metric rows  (Test <metric> <type> H1 labels)
  S10 OLAP star-schema upsert  sources/olap.StarSchemaWarehouse.load_results

and returns the fact_performance table read back FROM the warehouse, so
the driver's value check covers the entire composition including the
metric-label regex and the upsert path. The DuckDB oracle replays every
step in SQL.

The scan leg goes through a real CSV fixture (written once per sf_dir to
/tmp from the events table) because the reference's sources ARE csv files
— numeric coercion and date-column handling are part of what is being
composed. Doubles round-trip exactly (Java shortest-repr write ->
try_cast read); timestamps carry microseconds.
"""

from __future__ import annotations

import glob
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.operators.localrel import collect_bounded, local_df
from predictor_spark.plans.catalog import query

_CUTOFF = "2024-01-22 00:00:00"
#: the S10 warehouse is written per call under here and removed once its
#: facts are read back
WAREHOUSE_ROOT = "/tmp/predictor_spark_e2e_wh"
_TYPES = ("click", "view", "purchase", "signup", "error")


def _csv_fixture(spark: SparkSession, sf_dir: str) -> str:
    from predictor_spark.sources.tables import (
        fixture_dir, load_table, new_generation)

    d = fixture_dir(sf_dir, "events", "e2e_csv")
    if glob.glob(f"{d}/*.csv"):
        return d
    new_generation(d)
    ev = load_table(spark, sf_dir, "events")
    expr = None
    for i, t in enumerate(_TYPES):
        expr = F.when(F.col("event_type") == t, i) if expr is None \
            else expr.when(F.col("event_type") == t, i)
    (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("DATE_TIME"),
            "event_id", "user_id",
            expr.alias("etype_code"),
            "value",
        )
        .coalesce(1)
        .write.mode("overwrite").option("header", True).csv(d)
    )
    return d


_E2E_ORACLE = f"""
WITH ev AS (
    SELECT event_id, ts, user_id, event_type AS name, value FROM events
),
st AS (
    SELECT avg(value) AS mu,
           CASE WHEN abs(stddev_samp(value)) < 1e-8 THEN 1.0
                ELSE stddev_samp(value) END AS sd
    FROM ev WHERE ts < TIMESTAMP '{_CUTOFF}'
),
norm AS (
    SELECT event_id, ts, user_id, name, (value - mu) / sd AS v FROM ev, st
),
tr AS (
    SELECT user_id, v, lead(v) OVER (PARTITION BY user_id ORDER BY ts) AS t
    FROM norm WHERE ts < TIMESTAMP '{_CUTOFF}'
),
coef AS (
    SELECT user_id, regr_slope(t, v) AS a, regr_intercept(t, v) AS b
    FROM tr WHERE t IS NOT NULL GROUP BY user_id
),
ev2 AS (
    SELECT event_id, user_id, name, v,
           lead(v) OVER (PARTITION BY user_id ORDER BY ts) AS t
    FROM norm WHERE ts >= TIMESTAMP '{_CUTOFF}'
),
sc AS (
    SELECT e.event_id, e.name, (c.b + c.a * e.v) AS predn, e.t AS tn, e.v AS bn
    FROM ev2 e JOIN coef c USING (user_id)
    WHERE e.t IS NOT NULL AND c.a IS NOT NULL
),
den AS (
    SELECT event_id, name,
           predn * sd + mu AS pred, tn * sd + mu AS target,
           bn * sd + mu AS baseline
    FROM sc, st
),
mc AS (
    SELECT *,
           ((((0.0 + (pred + sin(event_id + 1))) + (pred + sin(event_id + 2)))
             + (pred + sin(event_id + 3))) + (pred + sin(event_id + 4))) / 4.0
               AS pm
    FROM den
),
mc2 AS (
    SELECT *,
           sqrt((((((pred + sin(event_id + 1)) - pm) * ((pred + sin(event_id + 1)) - pm)
                 + ((pred + sin(event_id + 2)) - pm) * ((pred + sin(event_id + 2)) - pm))
                 + ((pred + sin(event_id + 3)) - pm) * ((pred + sin(event_id + 3)) - pm))
                 + ((pred + sin(event_id + 4)) - pm) * ((pred + sin(event_id + 4)) - pm))
                / 3.0) AS unc
    FROM mc
),
long AS (
    SELECT name, 'MAE' AS m, abs(pred - target) AS x FROM mc2
    UNION ALL
    SELECT name, 'Naive MAE', abs(baseline - target) FROM mc2
    UNION ALL
    SELECT name, 'Uncertainty', abs(unc) FROM mc2
)
SELECT 'e2e' AS experiment_key, 'Test' AS split,
       m || ' ' || name AS metric, 1 AS horizon,
       round(avg(x), 6) + 0.0 AS avg_value,
       round(stddev_samp(x), 6) + 0.0 AS std_value,
       round(min(x), 6) + 0.0 AS min_value,
       round(max(x), 6) + 0.0 AS max_value
FROM long GROUP BY name, m
"""


@query("e2e_pipeline_metrics", oracle=_E2E_ORACLE)
def e2e_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M0->M4 composed through the engine's own operators; see module
    docstring. Returns fact_performance read back from the freshly
    upserted warehouse (experiment 'e2e', metric labels
    'Test <family> <event_type> H1' parsed by the S10 regex) as a local
    relation: the warehouse is written under a per-call dir, which is
    removed before the call returns."""
    from predictor_spark.operators.metrics import mc_uncertainty
    from predictor_spark.operators.normalize import (denormalize, fit_zscore,
                                                     normalize)
    from predictor_spark.plans.ar_model import ar1_fit_predict_split
    from predictor_spark.sources.csv_compat import load_csv
    from predictor_spark.sources.olap import StarSchemaWarehouse

    raw = load_csv(spark, _csv_fixture(spark, sf_dir))          # S1
    name = None
    for i, t in enumerate(_TYPES):
        name = F.when(F.col("etype_code") == i, t) if name is None \
            else name.when(F.col("etype_code") == i, t)
    ev = raw.select(
        "event_id",
        F.col("DATE_TIME").alias("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        name.alias("name"),
        "value",
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    stats = fit_zscore(ev.filter(F.col("ts") < cutoff), ["value"])   # W19
    norm = normalize(ev, stats)                                       # N1
    scored = ar1_fit_predict_split(                                   # W5+M2
        norm.filter(F.col("ts") < cutoff),
        norm.filter(F.col("ts") >= cutoff),
        horizon=1,
    )
    vstats = {c: stats["value"] for c in ("pred", "target_h1", "baseline")}
    den = denormalize(scored, vstats, list(vstats))                   # N3
    sampled = den.withColumns({
        f"s{k}": F.col("pred") + F.sin(F.col("event_id") + F.lit(float(k)))
        for k in (1, 2, 3, 4)
    })
    mom = mc_uncertainty(sampled, ["s1", "s2", "s3", "s4"])           # A7
    fam = F.array(
        F.struct(F.lit("MAE").alias("m"),
                 F.abs(F.col("pred") - F.col("target_h1")).alias("x")),
        F.struct(F.lit("Naive MAE").alias("m"),
                 F.abs(F.col("baseline") - F.col("target_h1")).alias("x")),
        F.struct(F.lit("Uncertainty").alias("m"),
                 F.abs(F.col("pred_std")).alias("x")),
    )
    long = mom.select("name", F.explode(fam).alias("f")) \
              .select("name", F.col("f.m").alias("m"), F.col("f.x").alias("x"))
    results = long.groupBy("name", "m").agg(
        F.avg("x").alias("Average"),
        F.stddev_samp("x").alias("Std Dev"),
        F.min("x").alias("Min"),
        F.max("x").alias("Max"),
    ).select(
        F.concat(F.lit("Test "), F.col("m"), F.lit(" "), F.col("name"),
                 F.lit(" H1")).alias("Metric"),
        "Average", "Std Dev", "Min", "Max",
    )

    root = f"{WAREHOUSE_ROOT}/{uuid.uuid4().hex[:12]}"
    try:
        wh = StarSchemaWarehouse(spark, root)                         # S10
        wh.load_results(results, project="predictor", phase="eval",
                        experiment="e2e")
        out = wh.query("""
            SELECT experiment_key, split, metric, horizon,
                   avg_value, std_value, min_value, max_value
            FROM fact_performance
        """).select(
            "experiment_key", "split", "metric", "horizon",
            *[(F.round(c, 6) + F.lit(0.0)).alias(c)
              for c in ("avg_value", "std_value", "min_value", "max_value")],
        )
        # from the schema: one fact row per metric family (MAE, Naive
        # MAE, Uncertainty) and event type
        rows = collect_bounded(out, 3 * len(_TYPES),
                               "e2e_pipeline_metrics facts")
    finally:
        # the facts are on the driver now: drop the views wh.query
        # registered over the warehouse, then the warehouse itself
        for view in ("dim_project", "dim_phase", "dim_experiment",
                     "fact_performance"):
            spark.catalog.dropTempView(view)
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark, rows, out.schema)
