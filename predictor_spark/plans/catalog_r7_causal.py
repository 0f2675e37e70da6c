"""Catalog part — causal-inference readouts (STAGED for r7).

Completes the experimentation stack (catalog_experiment: CUPED;
catalog_stats2: Welch/Mann-Whitney/SRM) with the observational-causal
and targeting-effectiveness estimators an analytics platform runs when
it can NOT randomize per query:

- diff_in_diff_readout   2x2 difference-in-differences (Card & Krueger
                         1994 design): per-user purchase value, pre vs
                         post x treat vs control, one closed-form DiD
- cem_att_purchase       coarsened exact matching (Iacus, King & Porro
                         2012): stratify on the pre-period activity
                         band, ATT = treat-share-weighted sum of
                         within-stratum outcome differences over
                         common-support strata
- uplift_by_decile       per-decile treated/control response rates and
                         their difference (uplift), users ranked by a
                         deterministic targeting score
- qini_curve_points      cumulative incremental conversions by decile
                         (Radcliffe 2007's Qini curve points)

Conventions shared with the registered experiment family: arms by
user_id parity (the deterministic hash-bucket assignment), period
split at 2024-01-16, response label = post-period purchases >= 7 (the
threshold catalog_eval proved splits non-degenerately at every SF),
targeting score = pre-period view+click count with user_id tie-break.

Determinism: outcomes are exact integer cents / counts; every mean or
ratio is ONE double division over exact integer sums, rounded
in-query; CEM's ATT is a weighted sum of per-stratum differences
computed from integers in one expression.

Scale: every query is one events scan reduced by groupBy(user) — the
canonical per-user reduction any uplift pipeline pays — then windows/
aggregates over the user-grain frame; strata and decile tables are
<= 10 rows.  Nothing joins at row grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the schema: ntile(10) yields at most 10 decile groups
_N_DECILES = 10

_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

#: per-user causal base (oracle CTE): arm, pre-activity score,
#: pre/post purchase cents, post response label
_USER_BASE = f"""
    base AS (
        SELECT user_id, CAST(user_id % 2 AS INTEGER) AS treat,
               sum(CASE WHEN ts < {_SPLIT}
                        AND event_type IN ('view', 'click')
                   THEN 1 ELSE 0 END) AS pre_activity,
               sum(CASE WHEN ts < {_SPLIT} AND event_type = 'purchase'
                   THEN CAST(round(value * 100) AS BIGINT)
                   ELSE 0 END) AS pre_cents,
               sum(CASE WHEN ts >= {_SPLIT} AND event_type = 'purchase'
                   THEN CAST(round(value * 100) AS BIGINT)
                   ELSE 0 END) AS post_cents,
               CASE WHEN sum(CASE WHEN ts >= {_SPLIT}
                                  AND event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 7
                    THEN 1 ELSE 0 END AS label
        FROM events GROUP BY user_id
    )"""


def _user_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user frame: parity arm, pre-period view+click score,
    pre/post purchase cents, post response label — one groupBy(user)
    over one events scan."""
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    pre = F.col("ts") < split
    cents = F.round(F.col("value") * 100, 0).cast("long")
    purch = F.col("event_type") == "purchase"
    return (_t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.sum(F.when(pre & F.col("event_type")
                              .isin("view", "click"), 1).otherwise(0))
                 .alias("pre_activity"),
                 F.sum(F.when(pre & purch, cents).otherwise(0))
                 .alias("pre_cents"),
                 F.sum(F.when(~pre & purch, cents).otherwise(0))
                 .alias("post_cents"),
                 (F.sum(F.when(~pre & purch, 1).otherwise(0)) >= 7)
                 .cast("int").alias("label"))
            .select((F.col("user_id") % 2).cast("int").alias("treat"),
                    "user_id", "pre_activity", "pre_cents", "post_cents",
                    "label"))


@query(
    "diff_in_diff_readout",
    oracle=f"""
    WITH {_USER_BASE},
    cells AS (
        SELECT count(CASE WHEN treat = 1 THEN 1 END) AS n_treat,
               count(CASE WHEN treat = 0 THEN 1 END) AS n_control,
               sum(CASE WHEN treat = 1 THEN pre_cents END) AS tp,
               sum(CASE WHEN treat = 1 THEN post_cents END) AS tq,
               sum(CASE WHEN treat = 0 THEN pre_cents END) AS cp,
               sum(CASE WHEN treat = 0 THEN post_cents END) AS cq
        FROM base
    )
    SELECT CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_control AS BIGINT) AS n_control,
           round(CAST(tp AS DOUBLE) / n_treat / 100, 4) AS treat_pre,
           round(CAST(tq AS DOUBLE) / n_treat / 100, 4) AS treat_post,
           round(CAST(cp AS DOUBLE) / n_control / 100, 4) AS control_pre,
           round(CAST(cq AS DOUBLE) / n_control / 100, 4) AS control_post,
           round((CAST(tq AS DOUBLE) / n_treat - CAST(tp AS DOUBLE) / n_treat
                  - (CAST(cq AS DOUBLE) / n_control
                     - CAST(cp AS DOUBLE) / n_control)) / 100, 4) AS did
    FROM cells
    """,
)
def diff_in_diff_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences on per-user purchase value: the
    treatment effect net of both the group baseline gap and the common
    time trend, DiD = (T_post - T_pre) - (C_post - C_pre).

    Scale: the four cell sums and two arm counts are ONE global
    aggregate over the user frame (map-side partials, a 1-row result);
    no pivot, no join."""
    base = _user_base(spark, sf_dir)
    t = F.col("treat") == 1
    cells = base.agg(
        F.sum(t.cast("int")).alias("n_treat"),
        F.sum((~t).cast("int")).alias("n_control"),
        F.sum(F.when(t, F.col("pre_cents")).otherwise(0)).alias("tp"),
        F.sum(F.when(t, F.col("post_cents")).otherwise(0)).alias("tq"),
        F.sum(F.when(~t, F.col("pre_cents")).otherwise(0)).alias("cp"),
        F.sum(F.when(~t, F.col("post_cents")).otherwise(0)).alias("cq"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return cells.select(
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_control").cast("long").alias("n_control"),
        F.round(d("tp") / F.col("n_treat") / 100, 4).alias("treat_pre"),
        F.round(d("tq") / F.col("n_treat") / 100, 4).alias("treat_post"),
        F.round(d("cp") / F.col("n_control") / 100, 4).alias("control_pre"),
        F.round(d("cq") / F.col("n_control") / 100, 4).alias("control_post"),
        F.round((d("tq") / F.col("n_treat") - d("tp") / F.col("n_treat")
                 - (d("cq") / F.col("n_control")
                    - d("cp") / F.col("n_control"))) / 100, 4).alias("did"))


_STRATUM = """CASE WHEN pre_activity <= 10 THEN '00-10'
                   WHEN pre_activity <= 13 THEN '11-13'
                   WHEN pre_activity <= 16 THEN '14-16'
                   ELSE '17+' END"""


@query(
    "cem_att_purchase",
    oracle=f"""
    WITH {_USER_BASE},
    strata AS MATERIALIZED (
        SELECT {_STRATUM} AS stratum,
               count(CASE WHEN treat = 1 THEN 1 END) AS n_treat,
               count(CASE WHEN treat = 0 THEN 1 END) AS n_control,
               sum(CASE WHEN treat = 1 THEN post_cents ELSE 0 END) AS st,
               sum(CASE WHEN treat = 0 THEN post_cents ELSE 0 END) AS sc
        FROM base GROUP BY 1
    ),
    detail AS (
        SELECT stratum, CAST(n_treat AS BIGINT) AS n_treat,
               CAST(n_control AS BIGINT) AS n_control,
               round(CAST(st AS DOUBLE) / n_treat / 100, 4) AS mean_treat,
               round(CAST(sc AS DOUBLE) / n_control / 100, 4) AS mean_control,
               round((CAST(st AS DOUBLE) / n_treat
                      - CAST(sc AS DOUBLE) / n_control) / 100, 4) AS diff
        FROM strata WHERE n_treat > 0 AND n_control > 0
    ),
    att AS (
        SELECT 'ATT' AS stratum,
               CAST(sum(n_treat) AS BIGINT) AS n_treat,
               CAST(sum(n_control) AS BIGINT) AS n_control,
               CAST(NULL AS DOUBLE) AS mean_treat,
               CAST(NULL AS DOUBLE) AS mean_control,
               round(sum((CAST(st AS DOUBLE) / n_treat
                          - CAST(sc AS DOUBLE) / n_control) * n_treat)
                     / sum(n_treat) / 100, 4) AS diff
        FROM strata WHERE n_treat > 0 AND n_control > 0
    )
    SELECT * FROM detail UNION ALL SELECT * FROM att
    """,
)
def cem_att_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened exact matching ATT (Iacus-King-Porro 2012): users
    matched on a pre-activity band, ATT = sum_s (n_treat_s / N_treat) *
    (mean_treat_s - mean_control_s) over common-support strata, with
    the per-stratum detail rows and one 'ATT' summary row.

    Scale: one user-frame groupBy into a <=4-row stratum table (cached
    — detail and summary read it without re-running the reduction);
    common-support filtering and the weighted sum are arithmetic on
    that tiny frame."""
    base = _user_base(spark, sf_dir)
    t = F.col("treat") == 1
    stratum = (F.when(F.col("pre_activity") <= 10, "00-10")
               .when(F.col("pre_activity") <= 13, "11-13")
               .when(F.col("pre_activity") <= 16, "14-16")
               .otherwise("17+"))
    strata = (base.groupBy(stratum.alias("stratum"))
              .agg(F.sum(t.cast("int")).alias("n_treat"),
                   F.sum((~t).cast("int")).alias("n_control"),
                   F.sum(F.when(t, F.col("post_cents")).otherwise(0))
                   .alias("st"),
                   F.sum(F.when(~t, F.col("post_cents")).otherwise(0))
                   .alias("sc"))
              .filter((F.col("n_treat") > 0) & (F.col("n_control") > 0))
              .cache())
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mt, mc = d("st") / F.col("n_treat"), d("sc") / F.col("n_control")
    detail = strata.select(
        "stratum", F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_control").cast("long").alias("n_control"),
        F.round(mt / 100, 4).alias("mean_treat"),
        F.round(mc / 100, 4).alias("mean_control"),
        F.round((mt - mc) / 100, 4).alias("diff"))
    att = strata.agg(
        F.sum("n_treat").alias("nt"), F.sum("n_control").alias("nc"),
        F.sum((mt - mc) * F.col("n_treat")).alias("wsum"))
    att_row = att.select(
        F.lit("ATT").alias("stratum"),
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_control"),
        F.lit(None).cast("double").alias("mean_treat"),
        F.lit(None).cast("double").alias("mean_control"),
        F.round(F.col("wsum") / F.col("nt") / 100, 4).alias("diff"))
    return detail.unionAll(att_row)


#: deciles by targeting score (oracle CTE suffix) — reused by both
#: uplift queries; requires _USER_BASE in scope
_DECILES = """
    d AS (
        SELECT treat, label,
               ntile(10) OVER (ORDER BY pre_activity DESC, user_id)
                   AS decile
        FROM base
    ),
    agg AS MATERIALIZED (
        SELECT decile,
               count(CASE WHEN treat = 1 THEN 1 END) AS nt,
               count(CASE WHEN treat = 0 THEN 1 END) AS nc,
               sum(CASE WHEN treat = 1 THEN label ELSE 0 END) AS pt,
               sum(CASE WHEN treat = 0 THEN label ELSE 0 END) AS pc
        FROM d GROUP BY decile
    )"""


def _decile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile (treated, control) x (count, responders): users
    ranked by targeting score into 10 buckets, arms counted within
    each — the shared reduction behind uplift and Qini.  Returns a
    LOCAL relation of exact integers (decile, nt, nc, pt, pc).

    Scale (r15; the r14 form was exact_ntile + a row-level decile
    groupBy over every user).  Both consumers only ever AGGREGATE the
    decile assignment, so the row-level tile label is never needed for
    keys that sit entirely inside one tile: ONE groupBy(score) pass
    folds the four arm sums into the same bounded support histogram
    exact_ntile collected anyway (max_keys-guarded via ntile_spans,
    identical NULL/NaN fail-fast), the span/tile arithmetic runs
    driver-side on exact integers, and only the <= 9 boundary-
    straddling score groups get a row-level pass (same
    (score desc, user_id) order, same _tile_of closed form — fully
    parallel per-key windows).  vs the r14 form this removes the
    corpus-wide interior broadcast join + union + row-level decile
    groupBy (the 32-core fixed cost VERDICT r14 #1 flagged: qini
    0.40x); vs the pre-r14 window ntile the one-task corpus sort
    stays gone.  Equal by construction: interior groups contribute
    their whole arm sums to their single tile; straddler rows get
    the identical rank -> _tile_of assignment exact_ntile's edge
    path computed (all-integer arithmetic end to end, so the merge
    order cannot change any value).  Equality re-pinned against the
    archived window form by tests/test_r13_prototypes.py; oracle-
    verified sf0.001/0.01/0.1."""
    from predictor_spark.operators.ranking import MAX_KEYS, _tile_of, ntile_spans

    base = _user_base(spark, sf_dir).cache()
    t = F.col("treat") == 1
    arm_aggs = [
        F.sum(t.cast("int")).alias("nt"),
        F.sum((~t).cast("int")).alias("nc"),
        F.sum(F.when(t, F.col("label")).otherwise(0)).alias("pt"),
        F.sum(F.when(~t, F.col("label")).otherwise(0)).alias("pc"),
    ]
    # descending ntile order == ascending order of the negated score
    # (the exact_ntile convention; pre_activity is a non-null count)
    per_key = (base.select((-F.col("pre_activity")).alias("__k"),
                           "treat", "label")
               .groupBy("__k")
               .agg(F.count(F.lit(1)).alias("c"), *arm_aggs))
    per_key = collect_bounded(per_key, MAX_KEYS, "_decile_agg support")
    interior, strad, tbase, trem, _tot = ntile_spans(
        [(r["__k"], r["c"]) for r in per_key], 10,
        op_name="_decile_agg")
    by_key = {r["__k"]: r for r in per_key}
    buckets: dict[int, list[int]] = {}

    def _add(tile: int, nt: int, nc: int, pt: int, pc: int) -> None:
        b = buckets.setdefault(int(tile), [0, 0, 0, 0])
        b[0] += int(nt)
        b[1] += int(nc)
        b[2] += int(pt)
        b[3] += int(pc)

    for k, tile in interior:
        r = by_key[k]
        _add(tile, r["nt"], r["nc"], r["pt"], r["pc"])
    if strad:
        lo_map = F.create_map(
            *[F.lit(x) for kv in strad for x in kv])
        wrow = Window.partitionBy("__k").orderBy("user_id")
        edge = (base.select((-F.col("pre_activity")).alias("__k"),
                            "treat", "label", "user_id")
                .where(F.col("__k").isin([k for k, _ in strad]))
                .withColumn("__rn", F.row_number().over(wrow))
                .withColumn("tile",
                            _tile_of(lo_map[F.col("__k")] - 1
                                     + F.col("__rn"),
                                     F.lit(tbase).cast("long"),
                                     F.lit(trem).cast("long")))
                .groupBy("tile").agg(*arm_aggs))
        edge = collect_bounded(edge, _N_DECILES, "_decile_agg straddling tiles")
        for r in edge:
            _add(r["tile"], r["nt"], r["nc"], r["pt"], r["pc"])
    base.unpersist()
    rows = [(d, *buckets[d]) for d in sorted(buckets)]
    return local_df(spark, 
        rows, "decile bigint, nt bigint, nc bigint, pt bigint, pc bigint")


@query(
    "uplift_by_decile",
    oracle=f"""
    WITH {_USER_BASE},{_DECILES}
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
           CASE WHEN nt > 0
                THEN round(CAST(pt AS DOUBLE) / nt, 4) END AS rate_treat,
           CASE WHEN nc > 0
                THEN round(CAST(pc AS DOUBLE) / nc, 4) END AS rate_control,
           CASE WHEN nt > 0 AND nc > 0
                THEN round(CAST(pt AS DOUBLE) / nt
                           - CAST(pc AS DOUBLE) / nc, 4) END AS uplift
    FROM agg
    """,
)
def uplift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile uplift table: treated vs control response rate and
    their difference within each targeting-score decile — the
    incrementality readout behind every uplift model evaluation.

    Scale: ntile needs a total order over the USER-grain frame (the
    same bounded sort lift_gain_deciles pays); arms never join — both
    rates come out of one decile groupBy."""
    agg = _decile_agg(spark, sf_dir)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rt = F.when(F.col("nt") > 0, F.round(d("pt") / F.col("nt"), 4))
    rc = F.when(F.col("nc") > 0, F.round(d("pc") / F.col("nc"), 4))
    up = F.when((F.col("nt") > 0) & (F.col("nc") > 0),
                F.round(d("pt") / F.col("nt") - d("pc") / F.col("nc"), 4))
    return agg.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_control"),
        rt.alias("rate_treat"), rc.alias("rate_control"),
        up.alias("uplift"))


@query(
    "qini_curve_points",
    oracle=f"""
    WITH {_USER_BASE},{_DECILES}
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(sum(nt) OVER w AS BIGINT) AS cum_treat,
           CAST(sum(nc) OVER w AS BIGINT) AS cum_control,
           CASE WHEN sum(nc) OVER w > 0
                THEN round(CAST(sum(pt) OVER w AS DOUBLE)
                           - CAST(sum(pc) OVER w AS DOUBLE)
                             * sum(nt) OVER w / (sum(nc) OVER w), 4)
           END AS qini
    FROM agg
    WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """,
)
def qini_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve points (Radcliffe 2007): cumulative incremental
    responders at each targeting depth, q(k) = P_t(k) - P_c(k) *
    N_t(k)/N_c(k) — the area under these points is the Qini
    coefficient.

    Scale: all heavy work is the shared user reduction + decile
    groupBy.  The running sums over the <=10-row decile table run
    DRIVER-SIDE on the collected frame (r14; the r13 funnel / lift
    bounded-collect idiom — an unpartitioned window here, however
    small, re-logs "No Partition Defined" per AQE replan).  Only the
    exact integer prefix sums move to the driver; the division and
    rounding stay Spark expressions so float semantics are unchanged.
    The four arm sums are non-null by construction (count-like sums
    with otherwise(0) over non-empty decile groups)."""
    agg = _decile_agg(spark, sf_dir)
    cum_rows, ct, cc, cpt, cpc = [], 0, 0, 0, 0
    for r in sorted(collect_bounded(agg, _N_DECILES, "qini deciles"),
                    key=lambda r: r["decile"]):
        ct += int(r["nt"])
        cc += int(r["nc"])
        cpt += int(r["pt"])
        cpc += int(r["pc"])
        cum_rows.append((int(r["decile"]), ct, cc, cpt, cpc))
    cum_df = local_df(spark, 
        cum_rows,
        "decile bigint, ct bigint, cc bigint, cpt bigint, cpc bigint")
    return cum_df.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("ct").cast("long").alias("cum_treat"),
        F.col("cc").cast("long").alias("cum_control"),
        F.when(F.col("cc") > 0,
               F.round(F.col("cpt").cast("double")
                       - F.col("cpc").cast("double")
                       * F.col("ct") / F.col("cc"),
                       4)).alias("qini"))
