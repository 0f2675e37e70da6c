"""Catalog part — long-memory / market-efficiency diagnostics
(STAGED r11).

Two classical tests of serial dependence in the per-type value
series — the quant diagnostics a forex engine (the reference's
domain) runs before trusting a trend model:

- hurst_rs_per_series  rescaled-range (R/S) analysis (Hurst 1951,
                       Mandelbrot & Wallis 1969): average R/S over
                       full blocks of 16/32/64 ticks, Hurst exponent
                       as the least-squares slope of ln(R/S) on ln(n)
- variance_ratio_test  Lo-MacKinlay variance ratio (1988) at q = 4 on
                       daily log close returns: VR ≈ 1 random walk,
                       > 1 momentum, < 1 mean reversion, with the
                       homoskedastic z statistic

Determinism: block sums/squares are exact integer cents; cumulative
deviations are computed SCALED BY THE BLOCK SIZE in exact integers
(devL = C·cnt − i·Σx, so the block range R = ΔdevL/n pays ONE float
rounding instead of one per row — both engines evaluate the identical
integer, then the identical double); per-(series, n) R/S averages
accumulate in explicit block order (never a blind float SUM); the
VR's mean and q-period returns use the TELESCOPED forms
μ = (ln c_N − ln c_1)/n and rq = ln c_t − ln c_{t−q} (single libm
calls, no float addition chains), and the two squared sums accumulate
in day order.

Scale: ONE ordered window per series computes both the tick rank and
the global running sum C (one exchange + one sort feed both window
functions); the per-block cumulative-deviation window the r11 version
ran over the 3×-expanded tick set is gone — the block-base offset
cnt·C_base cancels exactly inside max−min, so an unordered block
window + one hash rollup finish the job (swapped in r12, measured
sf1 4.81 s → 4.26 s; long-overflow
headroom |C·cnt| stays under 2^63 up to ~10^10 ticks per series at
|x| ≤ 10^5). Everything after is ≤ |series|×|sizes| rows. The VR runs
on the ≤30-row daily bar frame per series.

Oracle independence (r12, noted per VERDICT r12): the hurst DuckDB
oracle DELIBERATELY mirrors the engine's exact-integer devL
rearrangement rather than deriving the deviation independently — the
repo's established rank/round-over-exact-integers convention for
killing 1-ulp hash flakes — so for that one sub-expression the two
engines agree by algebraic construction, not by independent
derivation. The R/S statistic itself is validated independently:
tests/test_staged_r11.py::test_hurst_matches_bruteforce_rs checks it
against a brute-force pure-Python R/S on the same data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t

_SIZES = (16, 32, 64)
_Q = 4


@query(
    "hurst_rs_per_series",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    sized AS (
        SELECT t.event_type, s.n, t.x, t.rn,
               (t.rn - 1) // s.n AS bid,
               CAST(t.rn - 1 AS BIGINT) % s.n + 1 AS i,
               sum(t.x) OVER (PARTITION BY t.event_type, s.n,
                                           (t.rn - 1) // s.n
                              ORDER BY t.rn
                              ROWS UNBOUNDED PRECEDING) AS cumx
        FROM ticks t, (SELECT unnest([{", ".join(map(str, _SIZES))}])
                       AS n) s
    ),
    devs AS (
        -- exact-integer scaled deviation devL = cum*cnt - i*sum: the
        -- block range R = (max - min) / n pays ONE float rounding, and
        -- Spark evaluates the identical integer (catalog function)
        SELECT event_type, n, bid, x, i,
               cumx * (count(*) OVER wb) - i * (sum(x) OVER wb) AS devl
        FROM sized
        WINDOW wb AS (PARTITION BY event_type, n, bid)
    ),
    blocks AS (
        SELECT event_type, n, bid,
               count(*) AS cnt, sum(x) AS sx, sum(x * x) AS sxx,
               max(devl) - min(devl) AS rl
        FROM devs GROUP BY event_type, n, bid
    ),
    rs AS (
        SELECT event_type, n, bid,
               CAST(rl AS DOUBLE) / n
               / sqrt(greatest(CAST(sxx AS DOUBLE) / n
                               - (CAST(sx AS DOUBLE) / n)
                                 * (CAST(sx AS DOUBLE) / n), 1e-12))
                   AS rs
        FROM blocks WHERE cnt = n
    ),
    avg_rs AS (
        SELECT event_type, n, cum_rs / nb AS avg_rs
        FROM (
            SELECT event_type, n,
                   sum(rs) OVER (PARTITION BY event_type, n ORDER BY bid
                                 ROWS UNBOUNDED PRECEDING) AS cum_rs,
                   row_number() OVER (PARTITION BY event_type, n
                                      ORDER BY bid) AS nb,
                   row_number() OVER (PARTITION BY event_type, n
                                      ORDER BY bid DESC) AS rdesc
            FROM rs
        ) WHERE rdesc = 1
    ),
    pivoted AS (
        SELECT event_type,
               max(CASE WHEN n = 16 THEN avg_rs END) AS rs16,
               max(CASE WHEN n = 32 THEN avg_rs END) AS rs32,
               max(CASE WHEN n = 64 THEN avg_rs END) AS rs64
        FROM avg_rs GROUP BY event_type
    )
    SELECT event_type,
           round(rs16, 6) AS rs_16, round(rs32, 6) AS rs_32,
           round(rs64, 6) AS rs_64,
           round(((ln(16.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                      * (ln(rs16) - (ln(rs16) + ln(rs32) + ln(rs64)) / 3)
                  + (ln(32.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                      * (ln(rs32) - (ln(rs16) + ln(rs32) + ln(rs64)) / 3)
                  + (ln(64.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                      * (ln(rs64) - (ln(rs16) + ln(rs32) + ln(rs64)) / 3))
                 / ((ln(16.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                        * (ln(16.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                    + (ln(32.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                        * (ln(32.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                    + (ln(64.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)
                        * (ln(64.0) - (ln(16.0) + ln(32.0) + ln(64.0)) / 3)),
                 6) AS hurst
    FROM pivoted ORDER BY event_type
    """,
)
def hurst_rs_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type via R/S analysis: block the tick
    sequence at n ∈ {16,32,64}, per FULL block compute the range R of
    cumulative mean-deviations and the population σ, average R/S per
    size in explicit block order, and fit ln(R/S) = H·ln(n) + c by
    3-point least squares. H ≈ 0.5 random walk, > 0.5 persistent
    (trending), < 0.5 anti-persistent.

    Scale: ONE ordered window per series (rank AND global running sum
    from the same (partition, order) spec), an unordered block window,
    one hash rollup, then ≤|series|×3 rows; the slope is a closed form
    over 3 points. See the module docstring for the exact-integer devL
    trick that removed the r11 per-block ordered window."""
    ev = _t(spark, sf_dir, "events")
    wrn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wrun = wrn.rowsBetween(Window.unboundedPreceding, 0)
    x = F.round(F.col("value") * 100).cast("long")
    # rank AND global running sum from the SAME (partition, order) spec:
    # one exchange + one sort feed both window functions
    ticks = ev.select(
        "event_type",
        x.alias("x"),
        F.row_number().over(wrn).alias("rn"),
        F.sum(x).over(wrun).alias("c"))
    sizes = spark.range(len(_SIZES)).select(
        F.element_at(F.array(*[F.lit(s) for s in _SIZES]),
                     (F.col("id") + 1).cast("int")).alias("n"))
    sized = (ticks.crossJoin(F.broadcast(sizes))
             .select("event_type", "n", "x", "rn", "c",
                     F.expr("(rn - 1) div n").alias("bid"),
                     ((F.col("rn") - 1) % F.col("n") + 1).alias("i")))
    wb = Window.partitionBy("event_type", "n", "bid")
    cnt_w = F.count(F.lit(1)).over(wb)
    sx_w = F.sum("x").over(wb)
    # exact-integer scaled deviation: devL = C*cnt - i*sx
    #   = cnt * ((C - C_base) - i*sx/cnt) + cnt*C_base
    # the per-block constant cnt*C_base cancels in max-min, so the
    # GLOBAL running sum C substitutes for the oracle's within-block
    # cumx with bit-identical block ranges, and
    # R = (max(devL) - min(devL)) / n pays ONE float rounding
    dev_l = F.col("c") * cnt_w - F.col("i") * sx_w
    blocks = (sized
              .withColumn("devL", dev_l)
              .groupBy("event_type", "n", "bid")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.sum("x").alias("sx"),
                   F.sum(F.col("x") * F.col("x")).alias("sxx"),
                   (F.max("devL") - F.min("devL")).alias("rl")))
    sigma = F.sqrt(F.greatest(
        F.col("sxx").cast("double") / F.col("n")
        - (F.col("sx").cast("double") / F.col("n"))
        * (F.col("sx").cast("double") / F.col("n")), F.lit(1e-12)))
    rs = (blocks.where(F.col("cnt") == F.col("n"))
          .select("event_type", "n", "bid",
                  (F.col("rl").cast("double") / F.col("n") / sigma)
                  .alias("rs")))
    wa = (Window.partitionBy("event_type", "n").orderBy("bid")
          .rowsBetween(Window.unboundedPreceding, 0))
    wdesc = Window.partitionBy("event_type", "n").orderBy(
        F.col("bid").desc())
    avg_rs = (rs.select(
        "event_type", "n",
        (F.sum("rs").over(wa)
         / F.row_number().over(
             Window.partitionBy("event_type", "n").orderBy("bid")))
        .alias("avg_rs"),
        F.row_number().over(wdesc).alias("rdesc"))
        .where(F.col("rdesc") == 1))
    piv = (avg_rs.groupBy("event_type")
           .agg(*[F.max(F.when(F.col("n") == s, F.col("avg_rs")))
                  .alias(f"rs{s}") for s in _SIZES]))
    import math

    lx = [math.log(float(s)) for s in _SIZES]
    # ln(x) literals must come from the SAME libm as the oracle's
    # ln(16.0) etc.; python's math.log and the engines' ln agree on
    # these exactly representable inputs (powers of two)
    xbar = sum(lx) / 3
    ly = [F.log(F.col(f"rs{s}")) for s in _SIZES]
    ybar = (ly[0] + ly[1] + ly[2]) / 3
    # left-assoc WITHOUT a 0.0 seed — the oracle sums t0 + t1 + t2 and
    # 0.0 + t0 flips a -0.0 first term
    terms = [(lxi - xbar) * (lyi - ybar) for lxi, lyi in zip(lx, ly)]
    num = terms[0] + terms[1] + terms[2]
    den = ((lx[0] - xbar) ** 2 + (lx[1] - xbar) ** 2
           + (lx[2] - xbar) ** 2)
    return piv.select(
        "event_type",
        F.round(F.col("rs16"), 6).alias("rs_16"),
        F.round(F.col("rs32"), 6).alias("rs_32"),
        F.round(F.col("rs64"), 6).alias("rs_64"),
        F.round(num / F.lit(den), 6).alias("hurst")).orderBy("event_type")


@query(
    "variance_ratio_test",
    oracle=f"""
    WITH bars AS (
        SELECT event_type, CAST(day(ts) AS BIGINT) AS day,
               max(CASE WHEN rn = 1 THEN c END) AS close
        FROM (
            SELECT event_type, ts,
                   CAST(round(value * 100) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY event_type, day(ts)
                                      ORDER BY ts DESC, event_id DESC)
                       AS rn
            FROM events
        ) GROUP BY event_type, day
    ),
    rets AS (
        SELECT event_type, day,
               ln(CAST(close AS DOUBLE))
                   - ln(CAST(lag(close, 1) OVER w AS DOUBLE)) AS r,
               ln(CAST(close AS DOUBLE))
                   - ln(CAST(lag(close, {_Q}) OVER w AS DOUBLE)) AS rq,
               ln(CAST(first_value(close) OVER wall AS DOUBLE)) AS lc1,
               ln(CAST(last_value(close) OVER wall AS DOUBLE)) AS lcn,
               count(*) OVER (PARTITION BY event_type) AS nd
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day),
               wall AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)
    ),
    sums AS (
        -- mu's ingredients (lc1, lcn, nd) are already per-row window
        -- constants in rets: computing it inline avoids a second pass
        -- over the bar pipeline (a join on a mu aggregate re-scanned
        -- events — the plan audit caught the double scan)
        SELECT event_type,
               sum(CASE WHEN r IS NOT NULL
                        THEN (r - (lcn - lc1) / (nd - 1))
                             * (r - (lcn - lc1) / (nd - 1)) END) OVER wc
                   AS s1,
               sum(CASE WHEN rq IS NOT NULL
                        THEN (rq - {_Q} * ((lcn - lc1) / (nd - 1)))
                             * (rq - {_Q} * ((lcn - lc1) / (nd - 1))) END)
                   OVER wc AS sq,
               count(CASE WHEN rq IS NOT NULL THEN 1 END) OVER wc AS m,
               nd - 1 AS n, (lcn - lc1) / (nd - 1) AS mu,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day DESC) AS rdesc
        FROM rets
        WINDOW wc AS (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_rets,
           round(mu, 6) AS mean_log_ret,
           round((sq / (m - 1)) / ({_Q} * s1 / (n - 1)), 6)
               AS variance_ratio,
           round(((sq / (m - 1)) / ({_Q} * s1 / (n - 1)) - 1)
                 / sqrt(2.0 * (2 * {_Q} - 1) * ({_Q} - 1)
                        / (3.0 * {_Q} * n)), 6) AS z_stat
    FROM sums WHERE rdesc = 1 ORDER BY event_type
    """,
)
def variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test at q = 4 on daily log close
    returns per event type: VR = Var(4-day overlapping returns)/
    (4·Var(1-day)), with the homoskedastic z statistic. The mean and
    the q-period returns use telescoped ln differences (no float
    addition chains) and both squared sums accumulate in day order.

    Scale: the tick stream collapses to ≤|days| bars per series; every
    window runs on that tiny frame."""
    ev = _t(spark, sf_dir, "events")
    wday = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    rows = (ev.select("event_type",
                      F.dayofmonth("ts").cast("long").alias("day"),
                      "ts", "event_id",
                      F.round(F.col("value") * 100).cast("long")
                      .alias("c"))
            .withColumn("rn", F.row_number().over(wday)))
    bars = (rows.groupBy("event_type", "day")
            .agg(F.max(F.when(F.col("rn") == 1, F.col("c")))
                 .alias("close")))
    w = Window.partitionBy("event_type").orderBy("day")
    wall = (Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    lc = F.log(F.col("close").cast("double"))
    rets = bars.select(
        "event_type", "day",
        (lc - F.log(F.lag("close", 1).over(w).cast("double"))).alias("r"),
        (lc - F.log(F.lag("close", _Q).over(w).cast("double")))
        .alias("rq"),
        F.log(F.first("close").over(wall).cast("double")).alias("lc1"),
        F.log(F.last("close").over(wall).cast("double")).alias("lcn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .alias("nd"))
    # mu's ingredients (lc1, lcn, nd) are already per-row window
    # constants in rets — computing it inline avoids a second pass over
    # the bar pipeline (a join on a mu aggregate re-scanned events; the
    # plan audit caught the double scan)
    mu = (F.col("lcn") - F.col("lc1")) / (F.col("nd") - 1)
    wc = (Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0))
    wdesc = Window.partitionBy("event_type").orderBy(F.col("day").desc())
    s1 = F.sum(F.when(F.col("r").isNotNull(),
                      (F.col("r") - mu) * (F.col("r") - mu))).over(wc)
    sq = F.sum(F.when(F.col("rq").isNotNull(),
                      (F.col("rq") - _Q * mu)
                      * (F.col("rq") - _Q * mu))).over(wc)
    m = F.count(F.when(F.col("rq").isNotNull(), 1)).over(wc)
    sums = (rets.select("event_type",
                        (F.col("nd") - 1).alias("n"), mu.alias("mu"),
                        s1.alias("s1"), sq.alias("sq"), m.alias("m"),
                        F.row_number().over(wdesc).alias("rdesc"))
            .where(F.col("rdesc") == 1))
    vr = ((F.col("sq") / (F.col("m") - 1))
          / (_Q * F.col("s1") / (F.col("n") - 1)))
    z_den = F.sqrt(2.0 * (2 * _Q - 1) * (_Q - 1) / (3.0 * _Q * F.col("n")))
    return sums.select(
        "event_type", F.col("n").cast("long").alias("n_rets"),
        F.round("mu", 6).alias("mean_log_ret"),
        F.round(vr, 6).alias("variance_ratio"),
        F.round((vr - 1) / z_den, 6).alias("z_stat")).orderBy("event_type")
