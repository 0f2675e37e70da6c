"""Catalog part — parametric reliability fitting (STAGED for r10).

The lead-time family (catalog_r7_ops: exact percentiles, SLA rates,
trends) reads the empirical distribution; this row fits the PARAMETRIC
model a reliability engineer reports — the Weibull, by median-rank
regression (the probability-plot method every reliability handbook
opens with; Abernethy, "The New Weibull Handbook" ch. 2):

- weibull_mrr_fit  per order priority over the order->ship lead times
                   (days, strictly positive): Benard median ranks
                   F_i = (i - 0.3)/(n + 0.4), then OLS of
                   y = ln(-ln(1 - F_i)) on x = ln(t_i) gives the shape
                   k (slope) and scale lambda = exp(-intercept/k);
                   B10 life = lambda * (-ln 0.9)^(1/k) — the day by
                   which 10% of orders have shipped

Determinism: lead times are exact integer day differences; the rank i
is a row_number under the total (t, orderkey, linenumber) order, so
(x_i, y_i) derive from identical integers; each ln is quantized to
integer NANO-units per row (the nano idiom — a DECIMAL(38,9) first cut
drifted at 1e-9 because Spark and DuckDB round overflowing decimal
PRODUCTS differently) so every moment sum is an exact integer; the fit
is one closed-form double per group, rounded in-query (6 dp).

Scale: one orders|x|lineitem join co-partitioned on the order key (the
lead-time family's plan); the global per-priority rank comes from
operators/ranking.discrete_key_rank — a 2-pass broadcast-offset rank
keyed on the day-granular lead time (|priorities| x |distinct days|
task parallelism) that replaced the r11 rank window, whose
partitionBy(priority) capped the rank stage at 5 tasks at ANY cluster
size (PARALLELISM_AUDIT.md; measured sf1 10.97 s -> 8.12 s, and the
win grows with scale). The per-priority total n falls out of the same
counts table, removing the second single-task count window too. Then
map-side moment partials; n per group is SF-linear but the state is
O(groups) and the driver-side counts collect is bounded by
|priorities| x |distinct lead-time days| (~5 x 200 at any SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.operators.ranking import discrete_key_rank
from predictor_spark.plans.catalog import query, _t


@query(
    "weibull_mrr_fit",
    oracle="""
    WITH lt AS (
        SELECT o.o_orderpriority AS pri,
               datediff('day', o.o_orderdate, l.l_shipdate) AS t,
               l.l_orderkey AS ok, l.l_linenumber AS ln_
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE datediff('day', o.o_orderdate, l.l_shipdate) > 0
    ),
    ranked AS (
        SELECT pri, t,
               row_number() OVER (PARTITION BY pri
                                  ORDER BY t, ok, ln_) AS i,
               count(*) OVER (PARTITION BY pri) AS n
        FROM lt
    ),
    xy AS (
        SELECT pri, n,
               CAST(round(1e9 * ln(CAST(t AS DOUBLE))) AS BIGINT) AS x9,
               CAST(round(1e9 * ln(-ln(1.0 - (i - 0.3) / (n + 0.4))))
                    AS BIGINT) AS y9
        FROM ranked
    ),
    m AS (
        SELECT pri, max(n) AS n, count(*) AS cnt,
               sum(CAST(x9 AS HUGEINT)) AS sx,
               sum(CAST(y9 AS HUGEINT)) AS sy,
               sum(CAST(x9 AS HUGEINT) * x9) AS sxx,
               sum(CAST(x9 AS HUGEINT) * y9) AS sxy
        FROM xy GROUP BY pri HAVING count(*) >= 3
    ),
    fit AS (
        SELECT pri, n,
               (CAST(cnt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(cnt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   AS k,
               cnt, sx, sy
        FROM m
    ),
    ext AS (
        SELECT pri, n, k,
               exp(-((CAST(sy AS DOUBLE) / 1e9
                      - k * (CAST(sx AS DOUBLE) / 1e9)) / cnt) / k)
                   AS lam
        FROM fit
    )
    SELECT pri AS priority, CAST(n AS BIGINT) AS n_lines,
           round(k, 6) AS shape_k,
           round(lam, 6) AS scale_days,
           round(lam * pow(0.10536051565782628, 1.0 / k), 6) AS b10_days
    FROM ext ORDER BY priority
    """,
)
def weibull_mrr_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale per order priority by median-rank regression
    over order->ship lead times, plus the B10 life.  Shape k > 1 means
    shipping hazard RISES with order age (wear-out-like backlog
    clearing); k < 1 would mean infant-mortality-style front-loading."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate")
    # cache the lead-time frame: discrete_key_rank reads it twice (the
    # counts collect, then the offset join), and un-cached the
    # orders|x|lineitem join recomputed per pass — the documented r12
    # sf0.1 crossover where two passes cost more than the 5-task window
    # until data outweighs the second scan. Cached, the crossover is
    # gone (sf0.1 warm 3.13 -> 2.76 s, cold 9.25 -> 3.69 s); the frame
    # is 4 narrow columns and spills via MEMORY_AND_DISK at scale.
    lt = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.col("o_orderpriority").alias("pri"),
                  F.datediff("l_shipdate", "o_orderdate").alias("t"),
                  F.col("l_orderkey").alias("ok"),
                  F.col("l_linenumber").alias("ln_"))
          .filter(F.col("t") > 0).cache())
    # rank i = row_number over (t, ok, ln_) per priority and the
    # per-priority total n, via the 2-pass discrete-key offset rank
    # (see module docstring) — EXACTLY equal to the window form
    # (tests/test_r12_prototypes.py::test_discrete_key_rank_matches_window)
    ranked = discrete_key_rank(lt, ["pri"], "t", ["ok", "ln_"],
                               rank_name="i", total_name="n")
    x9 = F.round(F.lit(1e9) * F.log(F.col("t").cast("double")), 0) \
        .cast("long")
    y9 = F.round(F.lit(1e9) * F.log(-F.log(1.0 - (F.col("i") - 0.3)
                                           / (F.col("n") + 0.4))),
                 0).cast("long")
    xy = ranked.select("pri", "n", x9.alias("x9"), y9.alias("y9"))
    dx = F.col("x9").cast("decimal(38,0)")
    m = (xy.groupBy("pri")
         .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("cnt"),
              F.sum(dx).alias("sx"),
              F.sum(F.col("y9").cast("decimal(38,0)")).alias("sy"),
              F.sum(dx * F.col("x9")).alias("sxx"),
              F.sum(dx * F.col("y9")).alias("sxy"))
         .filter(F.col("cnt") >= 3))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    k = ((d("cnt") * d("sxy") - d("sx") * d("sy"))
         / (d("cnt") * d("sxx") - d("sx") * d("sx")))
    fit = m.select("pri", "n", k.alias("k"), "cnt", "sx", "sy")
    lam = F.exp(-((d("sy") / 1e9 - F.col("k") * (d("sx") / 1e9))
                  / F.col("cnt")) / F.col("k"))
    import math

    return (fit.select(
        F.col("pri").alias("priority"),
        F.col("n").cast("long").alias("n_lines"),
        F.round("k", 6).alias("shape_k"),
        F.round(lam, 6).alias("scale_days"),
        F.round(lam * F.pow(F.lit(-math.log(0.9)), 1.0 / F.col("k")), 6)
        .alias("b10_days"))
        .orderBy("priority"))
