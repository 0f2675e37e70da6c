"""Catalog part — ordered conversion funnels (STAGED for r10).

The product-analytics funnel family every event warehouse runs
(the view → click → purchase ladder, strictly time-ordered per user):

- funnel_abandonment_profile  where non-converters stalled: the LAST
                              event type of viewers with no purchase
                              within 24h of their first view
- funnel_conversion_7d        windowed funnel: first view → first
                              subsequent purchase within 7 days
- funnel_latency_quantiles    exact p50/p90 view→purchase latency as
                              integer order statistics
- funnel_daily_cohorts        first-touch-day cohorts × ordered
                              view→purchase conversion

(The plain step-ladder counts live in funnel_conversion,
catalog_behavior.py:21 — this family extends it with the windowed,
latency, cohort, and drop-off readouts, no overlap.)

Semantics: a step counts only if it happens STRICTLY AFTER the user's
qualifying timestamp for the previous step (min-ts semantics, the
standard "ordered funnel" definition — e.g. window funnels in
ClickHouse/Snowplow docs). Reference analogue: the per-user temporal
qualification mirrors the signup→purchase framing of
survival_km_conversion (catalog_behavior.py) applied to a 3-step
ladder.

Determinism: step populations, cohort sizes and latencies are exact
integers (latency floors to whole seconds); every rate is one
int/int double division rounded in-query to 6 dp.

Scale: each step is a groupBy(user_id) min + an equi-join back on
user_id — the same hash partitioning reused stage to stage (AQE
coalesces; no broadcast needed because both sides are user-keyed).
Step k joins only the step-(k−1) SURVIVORS, so the work shrinks
monotonically down the funnel; nothing is ever collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the data: distinct whole-second view->purchase latencies,
# ~15,000 per SF (15 / 150 / 1,497 at sf0.001 / 0.01 / 0.1): hit past SF ~13
_LATENCY_SUPPORT = 200_000

@query(
    "funnel_abandonment_profile",
    oracle="""
    WITH mv AS (
        SELECT user_id, min(ts) AS mv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    stalled AS (
        SELECT mv.user_id FROM mv JOIN events e ON e.user_id = mv.user_id
        GROUP BY mv.user_id
        HAVING count(*) FILTER (WHERE e.event_type = 'purchase'
                                AND e.ts > mv.mv
                                AND epoch_us(e.ts) - epoch_us(mv.mv)
                                    <= 86400000000) = 0
    ),
    last_ev AS (
        SELECT e.user_id, e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts DESC, e.event_id DESC)
                   AS rn
        FROM events e JOIN stalled s ON e.user_id = s.user_id
    ),
    prof AS (
        SELECT event_type AS last_event_type, count(*) AS n_users
        FROM last_ev WHERE rn = 1 GROUP BY event_type
    )
    SELECT last_event_type, CAST(n_users AS BIGINT) AS n_users,
           round(CAST(n_users AS DOUBLE)
                 / sum(n_users) OVER (), 6) AS share
    FROM prof ORDER BY last_event_type
    """,
)
def funnel_abandonment_profile(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Where the funnel's non-converters stalled: for viewers with NO
    purchase within 24 hours of their first view, the distribution of
    their LAST event type (deterministic last on (ts, event_id) desc)
    — the drop-off diagnosis behind every funnel dashboard's
    "abandonment" panel.

    Scale: one user-keyed aggregation finds the stalled population,
    one co-partitioned rank window finds each user's last event, and
    the profile collapses to ≤|event types| rows."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id")
    mv = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("mv")))
    stalled = (mv.join(ev, "user_id")
               .groupBy("user_id")
               .agg(F.sum(F.when(
                   (F.col("event_type") == "purchase")
                   & (F.col("ts") > F.col("mv"))
                   & ((F.unix_micros("ts") - F.unix_micros("mv"))
                      <= F.lit(86400000000)), 1)
                          .otherwise(0)).alias("n_pur"))
               .where(F.col("n_pur") == 0)
               .select("user_id"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last_ev = (ev.join(stalled, "user_id")
               .withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1))
    prof = (last_ev.groupBy(F.col("event_type").alias("last_event_type"))
            .agg(F.count(F.lit(1)).alias("n_users")))
    tot = Window.partitionBy(F.lit(1))
    return (prof.select(
        "last_event_type", F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("n_users").cast("double")
                / F.sum("n_users").over(tot), 6).alias("share"))
        .orderBy("last_event_type"))


@query(
    "funnel_conversion_7d",
    oracle="""
    WITH mv AS (
        SELECT user_id, min(ts) AS mv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
        SELECT mv.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > mv.mv
                        THEN e.ts END) AS mp, mv.mv
        FROM mv JOIN events e ON e.user_id = mv.user_id
        GROUP BY mv.user_id, mv.mv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_viewers,
           CAST(count(*) FILTER (WHERE mp IS NOT NULL
                AND epoch_us(mp) - epoch_us(mv) <= 604800000000)
               AS BIGINT) AS n_converted_7d,
           round(CAST(count(*) FILTER (WHERE mp IS NOT NULL
                AND epoch_us(mp) - epoch_us(mv) <= 604800000000)
               AS DOUBLE) / count(*), 6) AS conv_rate_7d
    FROM conv
    """,
)
def funnel_conversion_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel: of the users who viewed, how many purchased
    within 7 days of their FIRST view (the fixed-conversion-window
    semantics ad-attribution reporting uses).

    Scale: one user-keyed min, one co-partitioned join back to events,
    one conditional-min aggregation — the window test is a pure
    integer-microsecond comparison inside the final 1-row aggregate."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("mv")))
    conv = (mv.join(ev, "user_id")
            .groupBy("user_id", "mv")
            .agg(F.min(F.when((F.col("event_type") == "purchase")
                              & (F.col("ts") > F.col("mv")), F.col("ts")))
                 .alias("mp")))
    in7 = (F.col("mp").isNotNull()
           & ((F.unix_micros("mp") - F.unix_micros("mv"))
              <= F.lit(604800000000)))
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_viewers"),
        F.sum(F.when(in7, 1).otherwise(0)).cast("long")
        .alias("n_converted_7d"),
        F.round(F.sum(F.when(in7, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)), 6).alias("conv_rate_7d"))


@query(
    "funnel_latency_quantiles",
    oracle="""
    WITH mv AS (
        SELECT user_id, min(ts) AS mv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    lat AS (
        SELECT mv.user_id,
               CAST(floor((epoch_us(min(e.ts)) - epoch_us(mv.mv)) / 1e6)
                   AS BIGINT) AS lat_s
        FROM mv JOIN events e ON e.user_id = mv.user_id
        WHERE e.event_type = 'purchase' AND e.ts > mv.mv
        GROUP BY mv.user_id, mv.mv
    ),
    ranked AS (
        SELECT lat_s,
               row_number() OVER (ORDER BY lat_s, user_id) AS rn,
               count(*) OVER () AS n
        FROM lat
    )
    SELECT max(n) AS n_converters,
           max(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) AS p50_latency_s,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_s END)
               AS p90_latency_s
    FROM ranked
    """,
)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and p90 of first-view → first-purchase latency
    (whole seconds) over all converters, as integer order statistics:
    rank ceil(q·n) on (latency, user_id) — no float ever picks the row
    (the newsvendor_order_quantile discipline).

    Scale (r13 swap from plans/proto_r13.py; sf1 warm is a wash —
    0.73 → 0.82 s same-session A/B — the win is the SHAPE): the
    |converters|-row rank window is removed ENTIRELY — the row only
    reads the order statistic at two positions (p50, p90), and ties on
    lat_s share the value, so the smallest lat_s whose support span
    covers position k IS the ranked row's value (the user_id tie-break
    of the oracle's rank order is immaterial: every row at a given
    rank position inside a value group carries the same lat_s).  ONE
    distributed pass reduces the stream to the |distinct whole-second
    latencies| histogram (bounded by the latency range, not by N); the
    two order statistics are then read off the COLLECTED histogram
    driver-side — the bounded-collect idiom, which also keeps the plan
    free of unpartitioned windows.  Exact by construction (pinned by
    tests/test_r13_prototypes.py), so the oracle's rank formulation is
    unchanged."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mv = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("mv")))
    lat = (ev.where(F.col("event_type") == "purchase")
           .join(mv, "user_id")
           .where(F.col("ts") > F.col("mv"))
           .groupBy("user_id", "mv")
           .agg(F.min("ts").alias("mp"))
           .select("user_id",
                   F.floor((F.unix_micros("mp") - F.unix_micros("mv"))
                           / F.lit(1e6)).cast("long").alias("lat_s")))
    sup_rows = collect_bounded(
        lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("c")),
        _LATENCY_SUPPORT,
        "funnel_latency_quantiles latency support (widen the latency "
        "bucket, e.g. whole minutes, or use a distributed rank form)")
    sup = sorted((r["lat_s"], r["c"]) for r in sup_rows)
    n = sum(c for _, c in sup)
    k50, k90 = (n + 1) // 2, (9 * n + 9) // 10
    p50 = p90 = None
    hi = 0
    for lat_s, c in sup:
        lo, hi = hi + 1, hi + c
        if lo <= k50 <= hi:
            p50 = lat_s
        if lo <= k90 <= hi:
            p90 = lat_s
    # empty-input mirror: the window form's agg over an empty frame
    # returns one all-NULL row, so n_converters is NULL there (not 0)
    return local_df(spark, 
        [(n if sup else None, p50, p90)],
        "n_converters long, p50_latency_s long, p90_latency_s long")


@query(
    "funnel_daily_cohorts",
    oracle="""
    WITH first_touch AS (
        SELECT user_id, strftime(CAST(min(ts) AS DATE), '%Y-%m-%d')
                   AS cohort_day,
               min(CASE WHEN event_type = 'view' THEN ts END) AS mv
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT f.user_id, f.cohort_day,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > f.mv
                        THEN e.ts END) IS NOT NULL AS converted
        FROM first_touch f JOIN events e ON e.user_id = f.user_id
        WHERE f.mv IS NOT NULL
        GROUP BY f.user_id, f.cohort_day
    )
    SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_viewers,
           CAST(count(*) FILTER (WHERE converted) AS BIGINT) AS n_converted,
           round(CAST(count(*) FILTER (WHERE converted) AS DOUBLE)
                 / count(*), 6) AS conv_rate
    FROM conv GROUP BY cohort_day ORDER BY cohort_day
    """,
)
def funnel_daily_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch-day cohorts × view→purchase conversion: users are
    bucketed by the DATE of their first event ever, and convert if any
    purchase follows their first view — the cohort funnel a growth
    dashboard trends day over day.

    Scale: first-touch and first-view fold into ONE user-keyed
    aggregation (conditional min), one co-partitioned join back, then
    a ≤|days| cohort rollup."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ft = (ev.groupBy("user_id")
          .agg(F.date_format(F.min("ts"), "yyyy-MM-dd").alias("cohort_day"),
               F.min(F.when(F.col("event_type") == "view", F.col("ts")))
               .alias("mv"))
          .where(F.col("mv").isNotNull()))
    conv = (ft.join(ev, "user_id")
            .groupBy("user_id", "cohort_day")
            .agg(F.min(F.when((F.col("event_type") == "purchase")
                              & (F.col("ts") > F.col("mv")), F.col("ts")))
                 .isNotNull().alias("converted")))
    return (conv.groupBy("cohort_day")
            .agg(F.count(F.lit(1)).cast("long").alias("n_viewers"),
                 F.sum(F.when(F.col("converted"), 1).otherwise(0))
                 .cast("long").alias("n_converted"),
                 F.round(F.sum(F.when(F.col("converted"), 1).otherwise(0))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("conv_rate"))
            .orderBy("cohort_day"))
