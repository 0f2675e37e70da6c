"""Catalog part — OLS regression diagnostics (STAGED for r9).

The regression family (catalog_regression.py: normal-equation OLS,
elasticity, Durbin-Watson) gains the two post-fit diagnostics every
regression report runs next:

- breusch_pagan_test  Koenker's (1981) studentized Breusch-Pagan LM
                      test for heteroskedasticity: regress the squared
                      residuals of price-on-quantity OLS on the
                      regressor; LM = n * R^2_aux ~ chi^2(1) under
                      homoskedasticity
- cooks_distance_top  Cook's (1977) influence for the same simple OLS:
                      D_i = e_i^2 h_ii / (p s^2 (1 - h_ii)^2) with
                      leverage h_ii = 1/n + (x_i - xbar)^2 / Sxx — the
                      top-5 most influential line items

Determinism: x = integer quantity, y = integer cents, so the OLS
moments are exact integers and (a, b) are identical doubles; residuals
are quantized PER ROW to whole cents (round(y - a - b x)) before any
squared sum — e^2 <= ~1e12 and sum(e^4-scale aux moments) stay inside
DECIMAL(38)/HUGEINT at any realistic SF; every statistic is one
closed-form double over exact sums, rounded in-query.  Cook's D is
rounded (9 dp) before the top-k rank, ties broken on the
(orderkey, linenumber) natural key.

Scale: two map-side-combinable scans (moment pass, residual pass with
the <= few-row coefficient table broadcast back); Cook's top-5 ends in
TakeOrderedAndProject — per-partition top-k, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded, local_df

_TOPK = 5

#: oracle prelude: simple OLS of price cents on quantity + whole-cent
#: residuals with leverage ingredients
_OLS_SQL = """
    raw AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    mom AS (
        SELECT count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM raw
    ),
    ab AS (
        SELECT n, sx, sxx,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a
        FROM mom
    ),
    resid AS (
        SELECT r.l_orderkey, r.l_linenumber, r.x,
               CAST(round(r.y - ab.a - ab.b * r.x) AS BIGINT) AS e,
               ab.n, ab.sx, ab.sxx, ab.b, ab.a
        FROM raw r, ab
    )
"""


@query(
    "breusch_pagan_test",
    oracle=f"""
    WITH {_OLS_SQL},
    aux AS (
        SELECT max(n) AS n,
               sum(CAST(x AS HUGEINT)) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(e AS HUGEINT) * e) AS su,
               sum(CAST(e AS HUGEINT) * e * (CAST(e AS HUGEINT) * e))
                   AS suu,
               sum(CAST(x AS HUGEINT) * (CAST(e AS HUGEINT) * e)) AS sxu
        FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           round(pow(CAST(n AS DOUBLE) * sxu
                     - CAST(sx AS DOUBLE) * su, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * suu
                       - CAST(su AS DOUBLE) * su)), 6) AS r2_aux,
           round(CAST(n AS DOUBLE)
                 * pow(CAST(n AS DOUBLE) * sxu
                       - CAST(sx AS DOUBLE) * su, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * suu
                       - CAST(su AS DOUBLE) * su)), 4) AS bp_lm
    FROM aux
    """,
)
def breusch_pagan_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Koenker-studentized Breusch-Pagan: R^2 of the e^2-on-x auxiliary
    regression (= squared Pearson correlation for one regressor, all
    from exact integer sums over whole-cent residuals) and LM = n R^2,
    chi-square(1) under homoskedasticity.  (Empirically TPC-H's
    uniform unit prices leave only mild e^2-on-quantity correlation —
    LM ~ 1.8 at sf0.001 — the test's value is the exact machinery,
    verified against numpy.)"""
    li = _t(spark, sf_dir, "lineitem")
    raw = li.select(
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = raw.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(dec("x")).alias("sx"),
                  F.sum(dec("y")).alias("sy"),
                  F.sum(dec("x") * F.col("x")).alias("sxx"),
                  F.sum(dec("x") * F.col("y")).alias("sxy"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    b = ((d("n") * d("sxy") - d("sx") * d("sy"))
         / (d("n") * d("sxx") - d("sx") * d("sx")))
    ab = mom.select("n", "sx", "sxx", b.alias("b"),
                    ((d("sy") - b * d("sx")) / F.col("n")).alias("a"))
    resid = (raw.crossJoin(F.broadcast(ab))
             .select("x",
                     F.round(F.col("y") - F.col("a")
                             - F.col("b") * F.col("x"), 0).cast("long")
                     .alias("e"),
                     "n"))
    u = F.col("e").cast("decimal(38,0)") * F.col("e")
    aux = resid.agg(F.max("n").alias("n"),
                    F.sum(dec("x")).alias("sx"),
                    F.sum(dec("x") * F.col("x")).alias("sxx"),
                    F.sum(u).alias("su"),
                    F.sum(u * u).alias("suu"),
                    F.sum(dec("x") * u).alias("sxu"))
    num = F.pow(d("n") * d("sxu") - d("sx") * d("su"), 2)
    den = ((d("n") * d("sxx") - d("sx") * d("sx"))
           * (d("n") * d("suu") - d("su") * d("su")))
    return aux.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / den, 6).alias("r2_aux"),
        F.round(d("n") * num / den, 4).alias("bp_lm"))


@query(
    "cooks_distance_top",
    oracle=f"""
    WITH {_OLS_SQL},
    s AS (
        SELECT max(n) AS n, max(sx) AS sx, max(sxx) AS sxx,
               sum(CAST(e AS HUGEINT) * e) AS rss
        FROM resid
    ),
    scored AS (
        SELECT r.l_orderkey, r.l_linenumber, r.x, r.e,
               round(
                 (CAST(r.e AS DOUBLE) * r.e)
                 * (1.0 / s.n
                    + pow(r.x - CAST(s.sx AS DOUBLE) / s.n, 2)
                      / (CAST(s.sxx AS DOUBLE)
                         - CAST(s.sx AS DOUBLE) * s.sx / s.n))
                 / (2.0 * (CAST(s.rss AS DOUBLE) / (s.n - 2))
                    * pow(1.0 - (1.0 / s.n
                                 + pow(r.x - CAST(s.sx AS DOUBLE) / s.n, 2)
                                   / (CAST(s.sxx AS DOUBLE)
                                      - CAST(s.sx AS DOUBLE) * s.sx / s.n)),
                          2)), 9) AS cooks_d
        FROM resid r, s
    )
    SELECT l_orderkey, l_linenumber,
           CAST(x AS BIGINT) AS quantity,
           CAST(e AS BIGINT) AS resid_cents, cooks_d
    FROM scored
    ORDER BY cooks_d DESC, l_orderkey, l_linenumber
    LIMIT {_TOPK}
    """,
)
def cooks_distance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most influential line items by Cook's distance for the
    price-on-quantity OLS: D_i = e_i^2 h_ii / (p s^2 (1-h_ii)^2) with
    p = 2, s^2 = RSS/(n-2) and leverage from the exact x moments —
    every per-row term derives from whole-cent residuals and integer
    moments; D is rounded (9 dp) before the TakeOrderedAndProject
    top-k."""
    li = _t(spark, sf_dir, "lineitem")
    raw = li.select(
        "l_orderkey", "l_linenumber",
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # r14 (guide §1.2 — the three OLS passes are inherent given the
    # whole-cent residual rounding, but the pre-r14 broadcast CHAIN
    # re-evaluated the moment/RSS subtrees inside every consumer: 8
    # lineitem scans in one plan (plans/r14/cooks_distance_top_before
    # .txt).  Collect the exact integer moments once per pass and embed
    # them as one-row LOCAL relations; every float (a, b, leverage,
    # Cook's D) is still computed by the identical Spark expressions,
    # so the output is bit-identical with exactly 3 scans.
    mom_row = collect_bounded(
        raw.agg(F.count(F.lit(1)).alias("n"),
                F.sum(dec("x")).alias("sx"),
                F.sum(dec("y")).alias("sy"),
                F.sum(dec("x") * F.col("x")).alias("sxx"),
                F.sum(dec("x") * F.col("y")).alias("sxy")),
        ONE_ROW, "cooks_distance_top moments")[0]
    mom = local_df(spark, 
        [mom_row],
        "n long, sx decimal(38,0), sy decimal(38,0), "
        "sxx decimal(38,0), sxy decimal(38,0)")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    b = ((d("n") * d("sxy") - d("sx") * d("sy"))
         / (d("n") * d("sxx") - d("sx") * d("sx")))
    ab = mom.select("n", "sx", "sxx", b.alias("b"),
                    ((d("sy") - b * d("sx")) / F.col("n")).alias("a"))
    resid = (raw.crossJoin(F.broadcast(ab))
             .select("l_orderkey", "l_linenumber", "x", "n", "sx", "sxx",
                     F.round(F.col("y") - F.col("a")
                             - F.col("b") * F.col("x"), 0).cast("long")
                     .alias("e")))
    rss_row = resid.agg(
        F.max("n").alias("n"), F.max("sx").alias("sx"),
        F.max("sxx").alias("sxx"),
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("e"))
        .alias("rss"))
    rss_row = collect_bounded(rss_row, ONE_ROW, "cooks_distance_top rss")[0]
    rss = local_df(spark, 
        [rss_row],
        "n long, sx decimal(38,0), sxx decimal(38,0), rss decimal(38,0)")
    j = resid.drop("n", "sx", "sxx").crossJoin(F.broadcast(rss))
    sxx_c = d("sxx") - d("sx") * d("sx") / F.col("n")
    h = 1.0 / F.col("n") + F.pow(F.col("x") - d("sx") / F.col("n"), 2) / sxx_c
    s2 = d("rss") / (F.col("n") - 2)
    cooks = F.round((F.col("e").cast("double") * F.col("e")) * h
                    / (2.0 * s2 * F.pow(1.0 - h, 2)), 9)
    return (j.select("l_orderkey", "l_linenumber",
                     F.col("x").cast("long").alias("quantity"),
                     F.col("e").cast("long").alias("resid_cents"),
                     cooks.alias("cooks_d"))
            .orderBy(F.col("cooks_d").desc(), "l_orderkey", "l_linenumber")
            .limit(_TOPK))
