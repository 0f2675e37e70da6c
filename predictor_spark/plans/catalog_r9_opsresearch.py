"""Catalog part — operations-research classics (STAGED for r9).

Three closed-form OR models over the engine's own reductions (daily
demand cells, 30-minute user sessions) — the capacity / stocking
answers an operations team derives from the same warehouse:

- newsvendor_order_quantile  the newsvendor optimal order-up-to level
                             (Arrow, Harris & Marschak 1951): the
                             critical-ratio quantile of daily demand,
                             as an EXACT order statistic per brand
- erlang_b_blocking          Erlang-B blocking probability (Erlang
                             1917) at K = 8 servers for the session
                             workload — the unrolled 8-step recursion
- kingman_wait_estimate      Kingman's VUT heavy-traffic wait formula
                             (Kingman 1961): W_q ≈ (ρ/(1−ρ)) ·
                             ((ca² + cs²)/2) · τ over session
                             inter-arrival and duration moments

Sessions: the engine's 30-minute-gap user sessionization (the
sessionize_counts convention, tie-safe on (ts, event_id)); arrivals
are session starts, service times are session durations (exact ms).

Determinism: the newsvendor index is pure integer arithmetic
((8n+9) div 10 = ceil(0.8n) exactly — no double ever touches the
rank); queueing moments are exact integer ms sums; the Erlang
recursion and VUT formula are fixed expression trees over them.
Kingman's server count derives from the load (ceil(1.25·a) of the
same double on both engines) so utilization stays subcritical at
every SF instead of breaking past ρ = 1 as volume grows.

Scale: sessions and demand cells are one window/groupBy pass each;
every model consumes a handful of exact aggregate numbers — the OR
layer costs nothing over the reductions the warehouse already runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded

# from the query: 63 range bounds split session starts into <= 64 buckets
_GAP_BUCKETS = 64

_CR_NUM, _CR_DEN = 8, 10   # critical ratio 0.8 = cu/(cu+co), cu=4 co=1
_K_ERLANG = 8              # Erlang-B server count

#: oracle prelude: per-session (start_ms, dur_ms) + global span, exact ints
_SESSIONS = """
    marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
                            > 1800000
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id
                                 ORDER BY ts, event_id)
    ),
    sess AS MATERIALIZED (
        SELECT user_id, session_id,
               min(epoch_ms(ts)) AS start_ms,
               max(epoch_ms(ts)) - min(epoch_ms(ts)) AS dur_ms
        FROM (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)
                       AS session_id
            FROM marked
        ) GROUP BY user_id, session_id
    ),
    span AS (
        SELECT max(epoch_ms(ts)) - min(epoch_ms(ts)) AS span_ms
        FROM events
    )
"""


def _sessions(spark: SparkSession, sf_dir: str):
    """Spark twin of the oracle's `sess`/`span`."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.expr("unix_millis(ts)")
    marked = ev.select(
        "user_id", "ts", "event_id", ms.alias("ms"),
        F.when(F.lag(ms).over(w).isNull()
               | ((ms - F.lag(ms).over(w)) > 1800000), 1)
        .otherwise(0).alias("is_new"))
    sid = F.sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    sess = (marked.withColumn("session_id", sid)
            .groupBy("user_id", "session_id")
            .agg(F.min("ms").alias("start_ms"),
                 (F.max("ms") - F.min("ms")).alias("dur_ms")))
    span = ev.agg((F.max(ms) - F.min(ms)).alias("span_ms"))
    return sess, span


@query(
    "newsvendor_order_quantile",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT p_brand AS brand, CAST(l_shipdate AS DATE) AS day,
               CAST(sum(l_quantity) AS BIGINT) AS dq
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT brand, dq,
               row_number() OVER (PARTITION BY brand
                                  ORDER BY dq, day) AS rn,
               count(*) OVER (PARTITION BY brand) AS n
        FROM daily
    )
    SELECT brand, CAST(n AS BIGINT) AS n_days,
           CAST(0.8 AS DOUBLE) AS critical_ratio,
           CAST(dq AS BIGINT) AS order_up_to
    FROM ranked
    WHERE rn = ({_CR_NUM} * n + {_CR_DEN - 1}) // {_CR_DEN}
    ORDER BY brand
    """,
)
def newsvendor_order_quantile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The newsvendor order-up-to level per brand: the empirical
    0.8-quantile (critical ratio cu/(cu+co) with cu=4, co=1) of daily
    demand, taken as the EXACT ceil(0.8·n)-th order statistic — the
    rank is pure integer arithmetic ((8n+9) div 10), so no float ever
    decides which day wins.

    Scale: the demand-cell rollup + one rank window per brand."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
             .groupBy(F.col("p_brand").alias("brand"),
                      F.col("l_shipdate").cast("date").alias("day"))
             .agg(F.sum(F.col("l_quantity").cast("long")).alias("dq")))
    w = Window.partitionBy("brand").orderBy("dq", "day")
    wn = Window.partitionBy("brand")
    ranked = daily.select(
        "brand", "dq",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return (ranked
            .where(F.col("rn") == F.expr(
                f"({_CR_NUM} * n + {_CR_DEN - 1}) div {_CR_DEN}"))
            .select("brand", F.col("n").cast("long").alias("n_days"),
                    F.lit(0.8).alias("critical_ratio"),
                    F.col("dq").cast("long").alias("order_up_to"))
            .orderBy("brand"))


def _erlang_b_sql(a: str, k: int) -> str:
    """Unrolled Erlang-B recursion B_j = a·B_{j-1} / (j + a·B_{j-1}),
    B_0 = 1 — the same expression tree the Spark side builds."""
    expr = "1.0"
    for j in range(1, k + 1):
        expr = f"(({a}) * {expr} / ({j} + ({a}) * {expr}))"
    return expr


def _erlang_b_col(a, k: int):
    expr = F.lit(1.0)
    for j in range(1, k + 1):
        expr = a * expr / (F.lit(float(j)) + a * expr)
    return expr


#: offered load a = lambda · E[S] = (n·E[S]) / span  (exact-int ratio)
_LOAD = "(CAST(sum_dur AS DOUBLE) / span_ms)"


@query(
    "erlang_b_blocking",
    oracle=f"""
    WITH {_SESSIONS},
    agg AS (
        SELECT count(*) AS n, sum(dur_ms) AS sum_dur FROM sess
    )
    SELECT CAST(n AS BIGINT) AS n_sessions,
           round({_LOAD}, 6) AS offered_load,
           CAST({_K_ERLANG} AS BIGINT) AS k_servers,
           round({_erlang_b_sql(_LOAD, _K_ERLANG)}, 6) AS blocking_prob
    FROM agg, span
    """,
)
def erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-B blocking at K = 8 servers for the session workload:
    offered load a = λ·E[S] collapses to total session-ms over the
    observation span (exact integer ratio), then the classic B_K
    recursion unrolls to one fixed expression — the probability an
    arriving session finds all 8 servers busy in the loss model.

    Scale: two exact aggregate numbers feed a constant-depth formula."""
    sess, span = _sessions(spark, sf_dir)
    agg = sess.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dur_ms").alias("sum_dur"))
    load = F.col("sum_dur").cast("double") / F.col("span_ms")
    return (agg.crossJoin(F.broadcast(span))
            .select(F.col("n").cast("long").alias("n_sessions"),
                    F.round(load, 6).alias("offered_load"),
                    F.lit(_K_ERLANG).cast("long").alias("k_servers"),
                    F.round(_erlang_b_col(load, _K_ERLANG), 6)
                    .alias("blocking_prob")))


@query(
    "kingman_wait_estimate",
    oracle=f"""
    WITH {_SESSIONS},
    gaps AS (
        SELECT start_ms - lag(start_ms) OVER (ORDER BY start_ms,
                                              user_id, session_id) AS g
        FROM sess
    ),
    mom AS (
        SELECT count(*) AS ng,
               sum(g) AS sg, sum(CAST(g AS HUGEINT) * g) AS sg2
        FROM gaps WHERE g IS NOT NULL
    ),
    smom AS (
        SELECT count(*) AS ns, sum(dur_ms) AS ss,
               sum(CAST(dur_ms AS HUGEINT) * dur_ms) AS ss2
        FROM sess
    ),
    base AS (
        SELECT ng, ns,
               (CAST(sg2 AS DOUBLE) * ng / (CAST(sg AS DOUBLE) * sg) - 1)
                   AS ca2,
               (CAST(ss2 AS DOUBLE) * ns / (CAST(ss AS DOUBLE) * ss) - 1)
                   AS cs2,
               CAST(ss AS DOUBLE) / span_ms AS a,
               CAST(ss AS DOUBLE) / ns / 60000.0 AS tau_min
        FROM mom, smom, span
    )
    SELECT CAST(ns AS BIGINT) AS n_sessions,
           round(ca2, 6) AS ca_squared,
           round(cs2, 6) AS cs_squared,
           CAST(ceil(1.25 * a) AS BIGINT) AS m_servers,
           round(a / ceil(1.25 * a), 6) AS utilization,
           round((a / ceil(1.25 * a)) / (1 - a / ceil(1.25 * a))
                 * ((ca2 + cs2) / 2) * tau_min, 6) AS kingman_wq_min
    FROM base
    """,
)
def kingman_wait_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kingman's VUT equation for the session queue: W_q ≈
    (ρ/(1−ρ)) · ((ca² + cs²)/2) · τ, with squared coefficients of
    variation from exact integer moment sums (population form
    E[X²]·n/ΣX² − 1), mean service τ in minutes, and the server count
    m = ceil(1.25·a) derived from the load itself so ρ = a/m stays
    subcritical at every SF (a grows linearly with volume; a fixed m
    would cross ρ = 1 and the formula would stop meaning anything).

    Scale (r14 swap from plans/proto_r13.py): adjacent arrival gaps
    come from a fixed-bounds two_phase_row_number over session starts
    plus an rn = rn+1 self-join — a co-partitioned shuffle on rn
    instead of the pre-r14 |sessions|-row unpartitioned lag window
    (ONE task over a frame that is ≈ |events|: the 30-minute gap rule
    makes nearly every event its own session, 954,650 sessions at sf1,
    so the single-task sort was the first held row to blow up — its
    ~10^7-row trigger sat at ≈ SF 10, not sf 1000 as first believed).
    EXACT: the rank order (start_ms, user_id, session_id) is the same
    total order the lag window used, and any fixed boundary set is
    rank-correct, so every adjacent pair — and therefore every gap —
    is identical; equality-pinned at sf0.01/0.1/1 against the
    archived lag-window form by tests/test_r13_prototypes.py.  The
    session and ranked frames are CACHED, each being consumed twice
    (un-cached, the sessionization window recomputes per consumer —
    5.3 s at sf1 vs 4.2 cached); local cost vs the lag form is
    2.2–3.0 -> ~4.2 s at sf1, accepted because the single-task
    |sessions| sort is disqualifying at 100 TB."""
    import decimal

    sess, _span_unused = _sessions(spark, sf_dir)
    sess = sess.cache()
    # r15 (guide §1.2/§2.4): ONE aggregate collects everything the
    # formula needs besides the gap moments — the bucket bounds
    # (min/max session start), the service moments (count, sum dur,
    # sum dur^2), and the observation span.  All exact integers.  The
    # span is derived from the session frame itself: every event
    # belongs to exactly one session, so min event ms == min(start_ms)
    # and max event ms == max(start_ms + dur_ms) (dur = last - first
    # within the session) — identical integer to the r14 form's
    # separate events-scan aggregate, which this removes along with
    # one driver round-trip (3 sequential jobs -> 2).
    head = sess.agg(
        F.min("start_ms").alias("lo"), F.max("start_ms").alias("hi"),
        F.count(F.lit(1)).alias("ns"), F.sum("dur_ms").alias("ss"),
        F.sum(F.col("dur_ms").cast("decimal(38,0)")
              * F.col("dur_ms")).alias("ss2"),
        (F.max(F.col("start_ms") + F.col("dur_ms"))
         - F.min("start_ms")).alias("span_ms"))
    head = collect_bounded(head, ONE_ROW, "kingman_wait_estimate span")[0]
    lo, hi = head["lo"], head["hi"]
    step = max(1, ((hi - lo) // 64) if hi is not None else 1)
    bounds = ([float(lo + i * step) for i in range(1, 64)]
              if hi is not None else [0.0])
    # r14 (guide §2.4): adjacent-gap MOMENTS, not the gaps, are what the
    # formula needs — so the r14-build's two_phase_row_number + rn=rn+1
    # self-join (rank shuffle, cache pin, |sessions|-row co-partitioned
    # join) is overkill.  Bucket session starts by the same fixed range
    # bounds, lag WITHIN each bucket (64-way-parallel window, the same
    # monotone split two_phase used, so ties stay inside one bucket),
    # pre-aggregate exact integer gap moments per bucket, and merge the
    # <= 64 bucket rows driver-side together with the 63 bucket-BOUNDARY
    # gaps (exact long subtraction on the per-bucket first/last keys in
    # the identical (start_ms, user_id, session_id) total order).  Every
    # adjacent pair contributes exactly once, so ng/sg/sg2 are the same
    # integers as the self-join form, and the reported floats come from
    # the same Spark expressions over a local relation.
    barr = F.array(*[F.lit(b) for b in bounds])
    bkt = F.aggregate(
        barr, F.lit(0),
        lambda acc, b: acc + F.when(F.col("start_ms") > b, 1).otherwise(0))
    wb = Window.partitionBy("bkt").orderBy(
        "start_ms", "user_id", "session_id")
    per_bucket = (sess.select("start_ms", "user_id", "session_id",
                              bkt.alias("bkt"))
                  .withColumn("g", F.col("start_ms")
                              - F.lag("start_ms").over(wb))
                  .groupBy("bkt")
                  .agg(F.count("g").alias("ng"),
                       F.sum("g").alias("sg"),
                       F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
                       .alias("sg2"),
                       F.min(F.struct("start_ms", "user_id", "session_id"))
                       .alias("first"),
                       F.max(F.struct("start_ms", "user_id", "session_id"))
                       .alias("last")))
    per_bucket = collect_bounded(per_bucket, _GAP_BUCKETS,
                                 "kingman_wait_estimate gap buckets")
    per_bucket.sort(key=lambda r: r["bkt"])
    ng_t, sg_t, sg2_t = 0, 0, 0
    prev_last = None
    for r in per_bucket:
        ng_t += r["ng"]
        sg_t += int(r["sg"]) if r["sg"] is not None else 0
        sg2_t += int(r["sg2"]) if r["sg2"] is not None else 0
        if prev_last is not None:
            bg = r["first"]["start_ms"] - prev_last["start_ms"]
            ng_t += 1
            sg_t += bg
            sg2_t += bg * bg
        prev_last = r["last"]
    sess.unpersist()
    # all inputs to the formula are exact integers now: one single-
    # slice 1-row local relation replaces the r14 mom x broadcast(smom)
    # x broadcast(span) chain (two broadcast exchanges plus three
    # 32-slice python-RDD scans per materialization — see
    # operators/localrel).  The reported floats come from the same
    # Spark expressions as before.
    from predictor_spark.operators.localrel import local_df

    mom_row = ((ng_t, sg_t, decimal.Decimal(sg2_t)) if ng_t > 0
               else (0, None, None))
    mom = local_df(
        spark,
        [(*mom_row, head["ns"], head["ss"],
          decimal.Decimal(int(head["ss2"])) if head["ss2"] is not None
          else None, head["span_ms"])],
        "ng long, sg long, sg2 decimal(38,0), "
        "ns long, ss long, ss2 decimal(38,0), span_ms long")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ca2 = d("sg2") * F.col("ng") / (d("sg") * F.col("sg")) - 1
    cs2 = d("ss2") * F.col("ns") / (d("ss") * F.col("ss")) - 1
    a = d("ss") / F.col("span_ms")
    tau = d("ss") / F.col("ns") / 60000.0
    m = F.ceil(1.25 * a)
    rho = a / m
    return (mom
            .select(
                F.col("ns").cast("long").alias("n_sessions"),
                F.round(ca2, 6).alias("ca_squared"),
                F.round(cs2, 6).alias("cs_squared"),
                m.cast("long").alias("m_servers"),
                F.round(rho, 6).alias("utilization"),
                F.round(rho / (1 - rho) * ((ca2 + cs2) / 2) * tau, 6)
                .alias("kingman_wq_min")))
