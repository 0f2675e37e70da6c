"""Query catalog — every implemented operator exposed as a (spark, sf_dir)
-> DataFrame callable plus, where ANSI-SQL-expressible, a DuckDB oracle.

This is the engine's correctness surface (SURVEY.md §2 inventory → driver's
CORRECTNESS gate). Conventions:

- every computed column is aliased IDENTICALLY in Spark and oracle SQL;
- float outputs are rounded in BOTH engines (window/per-row math to 6 dp;
  large-magnitude shuffled sums to 2 dp, averages to 4 dp) so partial-agg
  summation-order ulp noise cannot flip the value hash;
- ranking is always over the ROUNDED measure with an integer-key tiebreak,
  so both engines rank identical values;
- outputs carry integer/string keys (not raw timestamps) where possible.

Per-query scale notes are in each docstring: what shuffles, what broadcasts,
what the plan must look like at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators import temporal
from predictor_spark.operators.normalize import fit_zscore
from predictor_spark.plans.forecast_pipeline import persistence_forecast_metrics
from predictor_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query name {name!r}: {fn.__module__} would "
                f"overwrite the one in {QUERIES[name].__module__}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Relational core (joins / aggregations / top-k / rollup)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — scan + filter + 2-key groupBy with 8 aggregates.

    Scale: filter + the 7 referenced columns push down to the parquet scan
    (PushedFilters/ReadSchema); partial aggregation map-side means the
    shuffle carries |groups| rows per task, not data rows. At 100 TB this
    is scan-bound, exactly as it should be.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1999-01-01'
      AND l_shipdate  > DATE '1997-01-01'
    GROUP BY o_orderkey, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — selective dim filter, 3-way join, agg, global top-k.

    Scale: customer (filtered on segment) is the small side — broadcast it
    so the orders⋈customer join is shuffle-free; lineitem⋈orders shuffles
    on orderkey (co-partition candidate for bucketing). Top-k is
    TakeOrderedAndProject — no global sort materialization.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_nation_revenue",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '2000-01-01'
    GROUP BY n_name
    """,
)
def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — 6-way star join with dim-side filters.

    Scale: region/nation/supplier/customer are dimension tables —
    broadcast all of them; the only shuffle left is lineitem⋈orders on
    orderkey, then the tiny groupBy(n_name). Catalyst reorders the join
    graph; the broadcast hints pin the dims.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, revenue, rk FROM (
        SELECT p_brand, p_partkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               row_number() OVER (
                   PARTITION BY p_brand
                   ORDER BY round(sum(l_extendedprice * (1 - l_discount)), 2) DESC, p_partkey
               ) AS rk
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand, p_partkey
    ) WHERE rk <= 3
    """,
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group — groupBy + ranked window, rank over the ROUNDED
    measure with key tiebreak (deterministic across engines).

    Scale: part is a broadcast dim; the agg shuffles on (brand, partkey);
    the window re-shuffles on brand only — at 100 TB pre-aggregate first
    (done here) so the window input is |parts|, not |lineitem|.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return agg.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@query(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — Spark `rollup` == SQL GROUP BY ROLLUP.
    Scale: same single-shuffle partial-agg shape as Q1 (grouping sets are
    expanded map-side)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "semi_anti_join_customers",
    oracle="""
    SELECT 'with_orders' AS bucket, count(*) AS n_customers
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS bucket, count(*) AS n_customers
    FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as left_semi / left_anti joins.
    Scale: semi/anti avoid materializing the join product; with a
    broadcastable right side they are shuffle-free."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        semi.agg(F.count(F.lit(1)).alias("n_customers")).select(F.lit("with_orders").alias("bucket"), "n_customers")
        .unionAll(
            anti.agg(F.count(F.lit(1)).alias("n_customers")).select(F.lit("without_orders").alias("bucket"), "n_customers")
        )
    )


# ---------------------------------------------------------------------------
# Time-series operator family (events table; SURVEY §2.3)
# ---------------------------------------------------------------------------

@query(
    "w9_log_returns",
    oracle="""
    SELECT event_id, user_id,
           round(CASE WHEN prev IS NOT NULL AND prev > 0 AND value > 0
                      THEN ln(value / prev) ELSE 0.0 END, 6) AS value_logret
    FROM (
        SELECT event_id, user_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    )
    """,
)
def w9_log_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 — guarded log returns per user series (anti_naive_lock.py:157-179).
    Scale: one hash shuffle on user_id; the lag/log/guard are one
    WindowExec + codegen'd projection."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.log_returns(ev, ["value"], ts_col="ts", series_col="user_id")
    return out.select("event_id", "user_id", F.round("value_logret", 6).alias("value_logret"))


@query(
    "w10_first_diff",
    oracle="""
    SELECT event_id, user_id,
           round(coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts), 0.0), 6) AS value_diff
    FROM events
    """,
)
def w10_first_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 — first differences, first value 0 (anti_naive_lock.py:181-197)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.first_diff(ev, ["value"], ts_col="ts", series_col="user_id")
    return out.select("event_id", "user_id", F.round("value_diff", 6).alias("value_diff"))


@query(
    "w11_time_features",
    oracle="""
    SELECT event_id,
           round(sin(2 * pi() * hour(ts) / 24.0), 6) + 0.0      AS hod_sin,
           round(cos(2 * pi() * hour(ts) / 24.0), 6) + 0.0      AS hod_cos,
           round(sin(2 * pi() * dayofweek(ts) / 7.0), 6) + 0.0  AS dow_sin,
           round(cos(2 * pi() * dayofweek(ts) / 7.0), 6) + 0.0  AS dow_cos,
           round(sin(2 * pi() * dayofmonth(ts) / 31.0), 6) + 0.0 AS dom_sin,
           round(cos(2 * pi() * dayofmonth(ts) / 31.0), 6) + 0.0 AS dom_cos,
           round(sin(2 * pi() * month(ts) / 12.0), 6) + 0.0     AS moy_sin,
           round(cos(2 * pi() * month(ts) / 12.0), 6) + 0.0     AS moy_cos
    FROM events
    """,
)
def w11_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11/W20 — cyclic calendar encodings straight from the timestamp
    (the reference consumes these precomputed, FIXTURES F2). Pure
    projection: no shuffle at any scale.

    `+ 0.0` on both engines canonicalizes IEEE-754 signed zero: DuckDB's
    round(cos(...), 6) yields -0.0 at hour 6/18 while Spark yields +0.0,
    and the driver hashes them differently (round-1 w11 hash fail).
    """
    ev = _t(spark, sf_dir, "events")
    out = temporal.time_features(ev, ts_col="ts")
    cols = [f"{p}_{t}" for p in ("hod", "dow", "dom", "moy") for t in ("sin", "cos")]
    return out.select("event_id", *[(F.round(c, 6) + F.lit(0.0)).alias(c) for c in cols])


@query(
    "w5_lead_targets",
    oracle="""
    SELECT event_id, user_id, value, target_h1, target_h3, target_h6
    FROM (
        SELECT event_id, user_id, value,
               lead(value, 1) OVER w AS target_h1,
               lead(value, 3) OVER w AS target_h3,
               lead(value, 6) OVER w AS target_h6
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ) WHERE target_h6 IS NOT NULL
    """,
)
def w5_lead_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — multi-horizon lead targets with trim-to-max-horizon
    (default_target.py:36-86). All leads share one window spec -> a
    single sort/WindowExec (verified via explain)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.lead_targets(ev, "value", [1, 3, 6], ts_col="ts", series_col="user_id", trim=True)
    return out.select("event_id", "user_id", "value", "target_h1", "target_h3", "target_h6")


@query(
    "w6_return_targets",
    oracle="""
    SELECT event_id, user_id,
           round(target_h1, 6) AS target_h1,
           round(target_h3, 6) AS target_h3,
           round(target_h6, 6) AS target_h6
    FROM (
        SELECT event_id, user_id, value,
               lead(value, 1) OVER w - value AS target_h1,
               lead(value, 3) OVER w - value AS target_h3,
               lead(value, 6) OVER w - value AS target_h6,
               lead(value, 6) OVER w AS guard
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ) WHERE guard IS NOT NULL
    """,
)
def w6_return_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 — return-space targets x[t+h] - x[t] (phase2_6_preprocessor.py:820-826)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.lead_targets(ev, "value", [1, 3, 6], ts_col="ts", series_col="user_id",
                                trim=True, returns=True)
    return out.select("event_id", "user_id",
                      *[F.round(f"target_h{h}", 6).alias(f"target_h{h}") for h in (1, 3, 6)])


@query(
    "w20_rolling_stats",
    oracle="""
    SELECT event_id,
           round(r_mean, 6) AS rolling_mean_24,
           round(r_std, 6)  AS rolling_std_24
    FROM (
        SELECT event_id,
               avg(value)         OVER w AS r_mean,
               stddev_samp(value) OVER w AS r_std,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    ) WHERE rn >= 24
    """,
)
def w20_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20 — trailing 24-row rolling mean/std per user; only complete
    windows emitted (matches the reference's complete-window convention)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.rolling_stats(ev, "value", n=24, ts_col="ts", series_col="user_id")
    w = Window.partitionBy("user_id").orderBy("ts")
    out = out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") >= 24)
    return out.select(
        "event_id",
        F.round("rolling_mean_24", 6).alias("rolling_mean_24"),
        F.round("rolling_std_24", 6).alias("rolling_std_24"),
    )


@query(
    "w19_train_stat_norm",
    oracle="""
    WITH stats AS (
        SELECT avg(value) AS m, stddev_samp(value) AS s
        FROM events WHERE ts < TIMESTAMP '2024-01-22 00:00:00'
    )
    SELECT event_id, round((value - m) / (CASE WHEN abs(s) < 1e-8 THEN 1.0 ELSE s END), 6) AS value_norm
    FROM events, stats
    """,
)
def w19_train_stat_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19 — z-score with statistics fit on the TRAIN slice only
    (anti_naive_lock.py:200-245); train = ts < 2024-01-22 here. The fitted
    stats are two scalars collected to the driver (O(cols), not O(rows))
    and folded into codegen as literals."""
    ev = _t(spark, sf_dir, "events")
    train = ev.filter(F.col("ts") < F.lit("2024-01-22 00:00:00").cast("timestamp"))
    stats = fit_zscore(train, ["value"])
    m, s = stats["value"]["mean"], stats["value"]["std"]
    return ev.select(
        "event_id",
        F.round((F.col("value") - F.lit(m)) / F.lit(s), 6).alias("value_norm"),
    )


@query(
    "sessionize_counts",
    oracle="""
    SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, CAST(count(*) AS BIGINT) AS n_events
    FROM (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800.0
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    )
    GROUP BY user_id
    """,
)
def sessionize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) + per-user session/event counts.
    Scale: single shuffle on user_id shared by the window and the groupBy
    (Catalyst reuses the partitioning — no second exchange)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.sessionize(ev, ts_col="ts", series_col="user_id", gap_minutes=30.0)
    return out.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@query(
    "flagship_persistence_metrics",
    oracle="""
    WITH base AS (
        SELECT event_type, value,
               lead(value, 1) OVER w AS t1,
               lead(value, 3) OVER w AS t3,
               lead(value, 6) OVER w AS t6
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), trimmed AS (
        SELECT * FROM base WHERE t6 IS NOT NULL
    ), long AS (
        SELECT event_type, 1 AS horizon, t1 AS t, value AS p, value AS b FROM trimmed
        UNION ALL
        SELECT event_type, 3 AS horizon, t3 AS t, value AS p, value AS b FROM trimmed
        UNION ALL
        SELECT event_type, 6 AS horizon, t6 AS t, value AS p, value AS b FROM trimmed
    )
    SELECT event_type, horizon, count(*) AS n,
           round(avg(abs(p - t)), 6) AS mae,
           round(avg(abs(b - t)), 6) AS naive_mae,
           round(1 - sum((t - p) * (t - p)) / (count(*) * var_pop(t)), 6) AS r2
    FROM long
    GROUP BY event_type, horizon
    """,
)
def flagship_persistence_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M0 flagship — the reference's main query end-to-end with the naive
    persistence model (SURVEY §7 M0): log-return features, multi-horizon
    lead targets, baseline prediction, per-(event_type, horizon)
    MAE / naive-MAE / R² table. See plans/forecast_pipeline.py."""
    ev = _t(spark, sf_dir, "events")
    return persistence_forecast_metrics(
        ev, value_col="value", ts_col="ts", series_col="user_id",
        group_col="event_type", horizons=(1, 3, 6),
    )


@query(
    "a6_cross_stats",
    oracle="""
    SELECT event_type,
           round(avg(value), 6)         AS "Average",
           round(stddev_samp(value), 6) AS "Std Dev",
           round(min(value), 6)         AS "Min",
           round(max(value), 6)         AS "Max"
    FROM events
    GROUP BY event_type
    """,
)
def a6_cross_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — Average/Std Dev/Min/Max family (stl_metrics.py:164-201),
    grouped by event_type as the iteration key analog."""
    from predictor_spark.operators.metrics import cross_iteration_stats

    ev = _t(spark, sf_dir, "events")
    out = cross_iteration_stats(ev, "value", ["event_type"])
    return out.select(
        "event_type",
        *[F.round(c, 6).alias(c) for c in ("Average", "Std Dev", "Min", "Max")],
    )


@query(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (§2.8) — get_json_object on the props column +
    aggregate. Scale: JSON parsing is codegen'd JVM-side; no Python."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("bigint").alias("total_k"), F.count(F.lit(1)).alias("n"))
    )
