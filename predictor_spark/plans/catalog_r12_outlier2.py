"""Catalog part — robust outlier tests, set 2 (STAGED for r9).

Extends the anomaly stack (anomaly_rolling_zscore, outlier_iqr_flags,
ewma_control_chart, kalman_innovation_summary) with the two classical
identification tests it still lacked:

- modified_zscore_outliers  Iglewicz & Hoaglin (1993) modified z-score
                            M_i = 0.6745 (x - median) / MAD per event
                            type's daily cents bars — the robust
                            replacement for mean/sd z-scores (50%
                            breakdown point vs 0%)
- generalized_esd_stats     Rosner's (1983) generalized ESD, the first
                            3 rounds UNROLLED: each round reports the
                            most extreme remaining day and its test
                            statistic R_i = max|x - mean| / sd, then
                            removes it — the masking-proof form of
                            Grubbs' test (the statistics are reported;
                            the t-quantile decision thresholds live in
                            the caller's lookup table, as in Rosner's
                            own presentation)

Determinism: bars are exact integer cents.  median/MAD use exact
interpolated order statistics (Spark `percentile`, DuckDB
`quantile_cont` — both return the average of the two central values,
exactly representable for integer/half-integer inputs); every reported
double is quantized in-query (6 dp) before any threshold comparison so
a 1-ulp engine difference can never flip a count.  ESD moments are
exact integer sums; each round's argmax ties break on the earliest day.

Scale: one events scan -> the shared (type, date) rollup (~150 rows at
any SF); the ESD unroll is 3 grouped aggregates + 3 broadcast joins
over that tiny frame — static plan, no driver-side loop state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the data: (event_type, day) bars, 150 at sf0.001, 0.01 and 0.1
# (5 types x 30 days); SF does not grow it
_MAX_BARS = 200_000

_MZ_THRESH = 3.5   # Iglewicz & Hoaglin's recommended cutoff
_ESD_ROUNDS = 3

#: shared oracle prelude: (type, date) integer-cent daily bars
_BARS_SQL = """
    bars AS MATERIALIZED (
        SELECT event_type, CAST(ts AS DATE) AS ddate,
               sum(CAST(round(value * 100) AS BIGINT)) AS c
        FROM events GROUP BY 1, 2
    )
"""


def _bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type",
                       F.col("ts").cast("date").alias("ddate"))
            .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                 .alias("c")))


@query(
    "modified_zscore_outliers",
    oracle=f"""
    WITH {_BARS_SQL},
    med AS (
        SELECT event_type, quantile_cont(c, 0.5) AS med
        FROM bars GROUP BY event_type
    ),
    mad AS (
        SELECT b.event_type,
               quantile_cont(abs(b.c - m.med), 0.5) AS mad, m.med
        FROM bars b JOIN med m USING (event_type)
        GROUP BY b.event_type, m.med
    ),
    mz AS (
        SELECT b.event_type,
               round(0.6745 * (b.c - m.med) / m.mad, 6) AS mi
        FROM bars b JOIN mad m USING (event_type)
        WHERE m.mad > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN abs(mi) > {_MZ_THRESH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(max(abs(mi)), 6) AS max_abs_mz
    FROM mz GROUP BY event_type
    """,
)
def modified_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified z-score outlier summary per event type: count of days
    with |M_i| > 3.5 and the max |M_i|, M_i = 0.6745 (x - median)/MAD
    over the daily cents bars.  M_i is rounded to 6 dp BEFORE the
    threshold compare on both engines.

    bars is cached (r14, guide §2.4): the ~|types|x|days| bounded bar
    frame feeds med, mad AND the mz score pass — un-cached each re-ran
    the full events rollup (3 corpus scans; plan census), cached it is
    one."""
    bars = _bars(spark, sf_dir).cache()
    med = bars.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5)").alias("med"))
    mad = (bars.join(F.broadcast(med), "event_type")
           .groupBy("event_type", "med")
           .agg(F.expr("percentile(abs(c - med), 0.5)").alias("mad")))
    mi = F.round(F.lit(0.6745) * (F.col("c") - F.col("med"))
                 / F.col("mad"), 6)
    mz = (bars.join(F.broadcast(mad), "event_type")
          .filter(F.col("mad") > 0)
          .select("event_type", mi.alias("mi")))
    return (mz.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.sum(F.when(F.abs("mi") > _MZ_THRESH, 1).otherwise(0))
                 .cast("long").alias("n_outliers"),
                 F.round(F.max(F.abs("mi")), 6).alias("max_abs_mz")))


def _esd_oracle() -> str:
    """Unrolled CTE chain: round i computes exact moments over bars
    minus the i-1 previously removed days, then picks the max-deviation
    day (earliest-day tie-break) with its R statistic."""
    ctes = [_BARS_SQL.strip()]
    prev_excl = ""
    picks = []
    for i in range(1, _ESD_ROUNDS + 1):
        ctes.append(f"""
    s{i} AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(c AS HUGEINT)) AS s1,
               sum(CAST(c AS HUGEINT) * c) AS s2
        FROM bars {prev_excl}
        GROUP BY event_type HAVING count(*) >= 3
    ),
    p{i} AS (
        SELECT event_type, ddate, c, r_stat FROM (
            SELECT b.event_type, b.ddate, b.c,
                   round(abs(b.c - CAST(st.s1 AS DOUBLE) / st.n)
                         / sqrt((CAST(st.n AS DOUBLE) * st.s2
                                 - CAST(st.s1 AS DOUBLE) * st.s1)
                                / (CAST(st.n AS DOUBLE) * (st.n - 1))),
                         6) AS r_stat,
                   row_number() OVER (
                       PARTITION BY b.event_type
                       ORDER BY abs(b.c - CAST(st.s1 AS DOUBLE) / st.n)
                                DESC, b.ddate) AS rn
            FROM (SELECT * FROM bars {prev_excl}) b
            JOIN s{i} st USING (event_type)
        ) WHERE rn = 1
    )""")
        picks.append(
            f"SELECT event_type, {i} AS round,"
            f" strftime(ddate, '%Y-%m-%d') AS ddate,"
            f" round(c / 100.0, 6) AS value, r_stat FROM p{i}")
        prev_excl = "WHERE " + " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM p{j} x WHERE "
            f"x.event_type = bars.event_type AND x.ddate = bars.ddate)"
            for j in range(1, i + 1))
    return ("WITH " + ",".join(ctes) + "\n"
            + " UNION ALL ".join(picks)
            + "\nORDER BY event_type, round")


@query("generalized_esd_stats", oracle=_esd_oracle())
def generalized_esd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner 1983), 3 unrolled rounds per event type:
    round i reports the most extreme remaining day (earliest-day
    tie-break on equal deviations) and R_i = max|x - mean|/sd (sample
    sd from exact integer moments), then excludes it from round i+1.
    The R_i sequence is what the test's lambda_i thresholds are
    compared against; reporting the statistics keeps the row decision-
    free and SQL-exact."""
    # r14 optimization: the 3 unrolled rounds were 3 grouped aggregates +
    # 3 broadcast joins + 3 rank windows + growing anti-join chains over
    # the bars frame — 123 Exchange nodes in one physical plan
    # (plans/r14/generalized_esd_stats_before.txt).  bars is bounded BY
    # DESIGN (|event types| x |days| — the module docstring's "~150 rows
    # at any SF"), so the sequential Rosner recursion runs DRIVER-SIDE
    # on the collected exact-integer bars (guarded; the qini/funnel
    # bounded-collect idiom), replicating Spark's arithmetic exactly:
    # mean = double(s1)/n and dev = double(c) - mean are the same IEEE
    # ops in CPython as in the JVM, int->double conversions are
    # correctly rounded in both, and the argmax tie-break (dev DESC,
    # ddate ASC) compares identical doubles.  The reported floats
    # (value, r_stat) are STILL computed by the same Spark expressions,
    # over a local relation carrying the exact integers (c, n, s1, s2),
    # so float semantics are bit-identical to the pre-r14 plan.  The
    # only distributed work left is the one events scan -> bars rollup.
    import decimal

    bar_rows = collect_bounded(
        _bars(spark, sf_dir), _MAX_BARS,
        "generalized_esd_stats (event_type, day) bars (aggregate to a "
        "coarser grain or restore the distributed unrolled form)")
    by_type: dict[str, list] = {}
    for r in bar_rows:
        by_type.setdefault(r["event_type"], []).append(
            (r["ddate"], int(r["c"])))
    picked_rows = []  # (event_type, round, ddate, c, n, s1, s2)
    for et in by_type:
        days = by_type[et]
        removed: set = set()
        for i in range(1, _ESD_ROUNDS + 1):
            cur = [(dd, c) for dd, c in days if dd not in removed]
            n = len(cur)
            if n < 3:
                continue
            s1 = sum(c for _, c in cur)          # exact ints
            s2 = sum(c * c for _, c in cur)
            mean = float(s1) / n                 # = cast(s1 as double)/n
            # argmax |c - mean|, ties -> earliest day (same total order
            # as the rank window: dev DESC, ddate ASC)
            best = max(cur, key=lambda dc: (abs(float(dc[1]) - mean),),
                       default=None)
            best_dev = abs(float(best[1]) - mean)
            cands = [dc for dc in cur
                     if abs(float(dc[1]) - mean) == best_dev]
            dd, c = min(cands, key=lambda dc: dc[0])
            removed.add(dd)
            picked_rows.append(
                (et, i, dd, c, n,
                 decimal.Decimal(s1), decimal.Decimal(s2)))
    local = local_df(spark, 
        picked_rows,
        "event_type string, round int, ddate date, c long, n long, "
        "s1 decimal(38,0), s2 decimal(38,0)")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("s1") / F.col("n")
    sd = F.sqrt((d("n") * d("s2") - d("s1") * d("s1"))
                / (d("n") * (F.col("n") - 1)))
    dev = F.abs(F.col("c") - mean)
    return (local.select(
        "event_type", "round",
        F.date_format("ddate", "yyyy-MM-dd").alias("ddate"),
        F.round(F.col("c") / 100.0, 6).alias("value"),
        F.round(dev / sd, 6).alias("r_stat"))
        .orderBy("event_type", "round"))
