"""Catalog part — offline model-evaluation metrics.

After a training pipeline produces scores, the platform grades them.
These five rows are the standard offline-eval battery, run over a
deterministic "model": score a user by their EARLY-period purchase
share (purchases / events before Jan 16), label them by whether they
purchase HEAVILY (>= 7 times) in the LATE period — a real backtest
shape (features strictly
before the label window, the same leakage guard as the forecast rows,
reference app_mvp.md "Evaluation" / plugin metric surface
predictor_plugins/common/metrics.py):

- confusion_matrix_threshold  tp/fp/fn/tn + precision/recall/F1 at a
                              grid of decision thresholds
- roc_auc_rank                AUC via the Mann-Whitney rank identity
                              with midrank tie handling
- calibration_reliability_bins  10-bin reliability table (mean score
                              vs empirical positive rate)
- lift_gain_deciles           decile lift/gain table (cumulative
                              recall by score decile)
- precision_recall_at_k       top-k popularity recommender graded on
                              a held-out order window

Determinism: the score is floor(1e6 * purchases / events) — ONE double
division then floor, bit-identical across engines — so every rank,
threshold compare, bin and decile boundary is integer-exact; only the
final display ratios divide, then round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import collect_bounded, local_df

# from the schema: ntile(10) yields at most 10 decile groups
_N_DECILES = 10

_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"

# score/label base: one pass over events -> per-user (score_int, label)
_EVAL_BASE = f"""
    base AS (
        SELECT user_id,
               CAST(floor(1000000.0
                    * sum(CASE WHEN ts < {_SPLIT}
                               AND event_type = 'purchase'
                          THEN 1 ELSE 0 END)
                    / sum(CASE WHEN ts < {_SPLIT} THEN 1 ELSE 0 END))
                    AS BIGINT) AS score_int,
               CASE WHEN sum(CASE WHEN ts >= {_SPLIT}
                                  AND event_type = 'purchase'
                             THEN 1 ELSE 0 END) >= 7
                    THEN 1 ELSE 0 END AS label
        FROM events
        GROUP BY user_id
        HAVING sum(CASE WHEN ts < {_SPLIT} THEN 1 ELSE 0 END) > 0
    )"""


def _eval_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (score_int, label): early-period purchase share as the
    score, late-period purchase as the label.  One groupBy(user) —
    the canonical backtest reduction (features < split <= label)."""
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    early = F.when(F.col("ts") < split, 1).otherwise(0)
    early_purch = F.when(
        (F.col("ts") < split) & (F.col("event_type") == "purchase"), 1
    ).otherwise(0)
    late_purch = F.when(
        (F.col("ts") >= split) & (F.col("event_type") == "purchase"), 1
    ).otherwise(0)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum(early).alias("n_early"),
             F.sum(early_purch).alias("n_early_purch"),
             (F.sum(late_purch) >= 7).cast("int").alias("label"))
        .filter(F.col("n_early") > 0)
        .select(
            "user_id",
            F.floor(1000000.0 * F.col("n_early_purch") / F.col("n_early"))
            .cast("long").alias("score_int"),
            F.col("label").cast("int").alias("label"))
    )


@query(
    "confusion_matrix_threshold",
    oracle=f"""
    WITH {_EVAL_BASE}
    SELECT t.threshold,
           CAST(sum(CASE WHEN score_int >= t.ti AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN score_int >= t.ti AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN score_int <  t.ti AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN score_int <  t.ti AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           round(CASE WHEN sum(CASE WHEN score_int >= t.ti THEN 1 ELSE 0 END) = 0 THEN NULL
                 ELSE CAST(sum(CASE WHEN score_int >= t.ti AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / sum(CASE WHEN score_int >= t.ti THEN 1 ELSE 0 END) END, 6) AS precision,
           round(CASE WHEN sum(label) = 0 THEN NULL
                 ELSE CAST(sum(CASE WHEN score_int >= t.ti AND label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / sum(label) END, 6) AS recall
    FROM base, (VALUES (0.1, 100000), (0.2, 200000), (0.3, 300000))
         t(threshold, ti)
    GROUP BY t.threshold
    """,
)
def confusion_matrix_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts + precision/recall at a 3-point threshold grid.

    Scale: the per-user base is one groupBy(user); the 3-row threshold
    grid is a broadcast crossJoin (scan the base ONCE for all
    thresholds, not once per threshold); counts are map-side partial
    aggregates.  All compares happen on the integer score."""
    base = _eval_base(spark, sf_dir)
    thresholds = local_df(spark, 
        [(0.1, 100000), (0.2, 200000), (0.3, 300000)],
        "threshold double, ti long")
    hit = (F.col("score_int") >= F.col("ti")).cast("int")
    pos = F.col("label")
    return (
        base.crossJoin(F.broadcast(thresholds))
        .groupBy("threshold")
        .agg(F.sum(hit * pos).alias("tp_"),
             F.sum(hit * (1 - pos)).alias("fp_"),
             F.sum((1 - hit) * pos).alias("fn_"),
             F.sum((1 - hit) * (1 - pos)).alias("tn_"))
        .select(
            "threshold",
            F.col("tp_").cast("long").alias("tp"),
            F.col("fp_").cast("long").alias("fp"),
            F.col("fn_").cast("long").alias("fn"),
            F.col("tn_").cast("long").alias("tn"),
            F.round(F.when(F.col("tp_") + F.col("fp_") > 0,
                           F.col("tp_") / (F.col("tp_") + F.col("fp_"))),
                    6).alias("precision"),
            F.round(F.when(F.col("tp_") + F.col("fn_") > 0,
                           F.col("tp_") / (F.col("tp_") + F.col("fn_"))),
                    6).alias("recall"))
    )


@query(
    "roc_auc_rank",
    oracle=f"""
    WITH {_EVAL_BASE},
    grp AS (
        SELECT score_int, count(*) AS c, sum(label) AS pos
        FROM base GROUP BY score_int
    ),
    mid AS (
        SELECT pos, c,
               (2 * (sum(c) OVER (ORDER BY score_int) - c) + c + 1) / 2.0
                   AS midrank
        FROM grp
    ),
    tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(c - pos) AS BIGINT) AS n_neg,
               sum(pos * midrank) AS rank_sum
        FROM mid
    )
    SELECT n_pos, n_neg,
           round((rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc
    FROM tot
    """,
)
def roc_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC via the Mann-Whitney rank identity: AUC = (R+ - n+(n+ +1)/2)
    / (n+ n-), with midranks for ties — the exact probability a random
    positive outranks a random negative.

    Scale: ranks come from GROUPED scores (one groupBy(score) then a
    window over |distinct scores| rows), never a per-row global sort —
    midrank = cumulative count + (c+1)/2 per tie group.  The final
    reduction is a 1-row aggregate; midranks are exact .5 rationals."""
    base = _eval_base(spark, sf_dir)
    grp = (base.groupBy("score_int")
           .agg(F.count(F.lit(1)).alias("c"), F.sum("label").alias("pos")))
    cum = F.sum("c").over(
        Window.orderBy("score_int")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    mid = grp.select(
        "pos", "c",
        ((2 * (cum - F.col("c")) + F.col("c") + 1) / 2.0).alias("midrank"))
    return (
        mid.agg(F.sum("pos").cast("long").alias("n_pos"),
                F.sum(F.col("c") - F.col("pos")).cast("long").alias("n_neg"),
                F.sum(F.col("pos") * F.col("midrank")).alias("rank_sum"))
        .select(
            "n_pos", "n_neg",
            F.round((F.col("rank_sum")
                     - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
                    / (F.col("n_pos") * F.col("n_neg").cast("double")),
                    6).alias("auc"))
    )


@query(
    "calibration_reliability_bins",
    oracle=f"""
    WITH {_EVAL_BASE}
    SELECT CAST(least(score_int // 100000, 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(score_int) AS DOUBLE) / count(*) / 1000000, 6)
               AS mean_score,
           round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate
    FROM base
    GROUP BY CAST(least(score_int // 100000, 9) AS BIGINT)
    """,
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table: decile-of-score bins, mean predicted score vs
    empirical positive rate — the calibration curve's backing frame
    (a well-calibrated model has mean_score ~ pos_rate per bin).

    Scale: one map-side bin assignment on the integer score + one
    groupBy(bin) (<=10 groups); mean_score divides an exact integer
    SUM once, so partial-agg order cannot move the hash."""
    base = _eval_base(spark, sf_dir)
    bin_c = F.least(F.floor(F.col("score_int") / 100000), F.lit(9)) \
        .cast("long").alias("bin")
    return (
        base.groupBy(bin_c)
        .agg(F.count(F.lit(1)).alias("n_"),
             F.sum("score_int").alias("s_"),
             F.sum("label").alias("p_"))
        .select("bin",
                F.col("n_").cast("long").alias("n_users"),
                F.round(F.col("s_").cast("double") / F.col("n_") / 1000000,
                        6).alias("mean_score"),
                F.round(F.col("p_").cast("double") / F.col("n_"), 6)
                .alias("pos_rate"))
    )


@query(
    "lift_gain_deciles",
    oracle=f"""
    WITH {_EVAL_BASE},
    d AS (
        SELECT label,
               ntile(10) OVER (ORDER BY score_int DESC, user_id) AS decile
        FROM base
    ),
    agg AS (
        SELECT decile, count(*) AS n, sum(label) AS pos FROM d GROUP BY decile
    ),
    tot AS (SELECT sum(n) AS nt, sum(pos) AS pt FROM agg)
    SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n_users,
           CAST(pos AS BIGINT) AS n_pos,
           round(CAST(pos AS DOUBLE) / n / (CAST(pt AS DOUBLE) / nt), 6)
               AS lift,
           round(CAST(sum(pos) OVER (ORDER BY decile) AS DOUBLE) / pt, 6)
               AS cum_gain
    FROM agg, tot
    """,
)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gain table: rank users by score, split into 10 equal
    buckets, report per-decile lift over the base rate and cumulative
    recall (gain) — the targeting-efficiency readout every campaign /
    screening model ships with.

    Scale (r14 swap from plans/proto_r13.py): the decile assignment
    needs a total order (score desc, user_id tie-break makes it
    deterministic), but NOT a single-task ntile window over the whole
    per-user frame — operators/ranking.exact_ntile computes it from
    value-support spans + closed-form bucket arithmetic
    (collect_spans=True: the bounded support histogram is collected
    driver-side, max_keys-guarded), with row-level ranks only inside
    the <=9 boundary-straddling score groups, partitioned by score.
    The decile column — and therefore every output value — is equal
    by construction to the ntile form (equality-pinned at
    sf0.01/0.1/1 against the archived window form by
    tests/test_r13_prototypes.py).  The 10-row decile cumulative sum
    runs DRIVER-SIDE on the collected agg frame (the r13 funnel/heaps
    bounded-collect idiom) — an unpartitioned window here, however
    small, re-logs "No Partition Defined" per AQE replan.  Local cost
    vs the pre-r14 single-task ntile: sf1 ~1.0 -> ~2.1 s, accepted
    because the one-task sort over the ranked frame is the wrong
    shape at 100x (pre-swap form archived in proto_r13; held-trigger
    history in PARALLELISM_AUDIT.md).  Counts per decile are exact
    ints; the two divisions happen once per output row."""
    from predictor_spark.operators.ranking import exact_ntile

    # the per-user frame is consumed three times by exact_ntile
    # (support collect + interior join + straddler ranks) — un-cached,
    # each consumer re-runs the whole events->user reduction (r13
    # rule: cache bounded multi-consumer intermediates; |users| is
    # dimension-bounded, orders of magnitude below the event stream)
    base = _eval_base(spark, sf_dir).cache()
    dec = exact_ntile(base, "score_int", ["user_id"], 10,
                      tile_name="decile", descending=True,
                      collect_spans=True)
    # r14: the <=10-row decile aggregate was cached, collected for the
    # cumulative sum AND re-read distributed for the totals + output
    # (a cache pin, a totals aggregate, and two broadcast joins).  It
    # is already bounded and collected once — so totals and prefix sums
    # are exact integer arithmetic on the collected rows, and the final
    # 10-row frame is a local relation carrying the exact integers with
    # the SAME Spark float expressions (lift/cum_gain identical).
    agg_rows = sorted(collect_bounded(
        dec.select("label", "decile")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")),
        _N_DECILES, "lift deciles"), key=lambda r: r["decile"])
    nt = sum(int(r["n"]) for r in agg_rows)
    pt_vals = [int(r["pos"]) for r in agg_rows if r["pos"] is not None]
    pt = sum(pt_vals) if pt_vals else None
    # mirrors window-sum null semantics: nulls skipped, prefix stays
    # null until the first non-null
    acc, out_rows = None, []
    for r in agg_rows:
        if r["pos"] is not None:
            acc = (acc or 0) + int(r["pos"])
        out_rows.append((int(r["decile"]),
                         int(r["n"]),
                         None if r["pos"] is None else int(r["pos"]),
                         acc, nt, pt))
    local = local_df(spark, 
        out_rows, "decile long, n long, pos long, cum_pos long, "
                  "nt long, pt long")
    return (
        local
        .select(F.col("decile").cast("long").alias("decile"),
                F.col("n").cast("long").alias("n_users"),
                F.col("pos").cast("long").alias("n_pos"),
                F.round((F.col("pos").cast("double") / F.col("n"))
                        / (F.col("pt").cast("double") / F.col("nt")), 6)
                .alias("lift"),
                F.round(F.col("cum_pos").cast("double") / F.col("pt"), 6)
                .alias("cum_gain"))
    )


@query(
    "precision_recall_at_k",
    oracle="""
    WITH train AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE o.o_orderdate < DATE '1999-01-01'
    ),
    test AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE o.o_orderdate >= DATE '1999-01-01'
    ),
    topk AS (
        SELECT p_brand FROM (
            SELECT p_brand, count(DISTINCT o_custkey) AS pop
            FROM train GROUP BY p_brand
            ORDER BY pop DESC, p_brand LIMIT 5
        )
    ),
    per_user AS (
        SELECT t.o_custkey,
               count(*) AS n_rel,
               sum(CASE WHEN tk.p_brand IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hit
        FROM test t LEFT JOIN topk tk ON t.p_brand = tk.p_brand
        GROUP BY t.o_custkey
    )
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(n_hit) AS DOUBLE) / (count(*) * 5), 6)
               AS precision_at_k,
           round(avg(CAST(n_hit AS DOUBLE) / n_rel), 6) AS recall_at_k
    FROM per_user
    """,
)
def precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k popularity recommender graded on held-out orders:
    recommend the 5 brands with the most distinct TRAIN-period buyers
    to every customer, score precision@5 / recall@5 against the brands
    each customer actually buys in the TEST period — the offline-eval
    loop of every recommender bring-up (and the baseline a learned
    model must beat).

    Scale: train/test are date-pruned fact joins with the 25-row part
    dim broadcast; the top-5 list is a broadcast; per-user grading is
    one groupBy(customer).  recall averages per-user exact rationals
    (n_hit/n_rel with n_rel <= 25) — bounded denominators keep the
    rounded mean stable."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey",
                                           "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    split = F.lit("1999-01-01").cast("date")
    bought = (o.join(li, o.o_orderkey == li.l_orderkey)
              .join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .select("o_custkey", "p_brand", "o_orderdate")
              # train (-> topk) and test (-> per_user) both read this
              # fact join; uncached each re-runs it
              .cache())
    train = (bought.filter(F.col("o_orderdate") < split)
             .select("o_custkey", "p_brand").distinct())
    test = (bought.filter(F.col("o_orderdate") >= split)
            .select("o_custkey", "p_brand").distinct())
    topk = (train.groupBy("p_brand")
            .agg(F.count_distinct("o_custkey").alias("pop"))
            .orderBy(F.col("pop").desc(), "p_brand").limit(5)
            .select("p_brand"))
    per_user = (
        test.join(F.broadcast(topk.withColumn("hit", F.lit(1))),
                  "p_brand", "left")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_rel"),
             F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit")))
    return (
        per_user.agg(
            F.count(F.lit(1)).alias("n_"),
            F.sum("n_hit").alias("hits_"),
            F.avg(F.col("n_hit").cast("double") / F.col("n_rel")).alias("rec_"))
        .select(F.lit(5).cast("long").alias("k"),
                F.col("n_").cast("long").alias("n_users"),
                F.round(F.col("hits_").cast("double") / (F.col("n_") * 5), 6)
                .alias("precision_at_k"),
                F.round(F.col("rec_"), 6).alias("recall_at_k"))
    )
