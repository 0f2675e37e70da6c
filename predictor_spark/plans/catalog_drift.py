"""Catalog part — distribution-drift monitoring + feature selection.

A 100 TB training pipeline retrains on a moving window; these are the
standard gates that decide WHETHER to retrain and WHICH features carry
signal (the reference's cross-iteration stats in data_processor.py
play this role for its per-run loop):

- ks_test_value_drift     two-sample Kolmogorov-Smirnov statistic
                          between an early and a late time slice
- psi_value_stability     Population Stability Index over decile bins
                          (the credit-scoring drift standard)
- mutual_info_value_type  mutual information between the value decile
                          and the event type (feature relevance)

All three reduce the fact stream to tiny sufficient statistics (CDF
merge points, bin counts, a 10×|types| contingency table) in one scan —
the monitoring queries a production pipeline can afford to run per
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators.ranking import MAX_KEYS, _tile_of, ntile_spans
from predictor_spark.plans.catalog import query, _t
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded, local_df

_SPLIT = "DATE '2024-01-16'"


@query(
    "ks_test_value_drift",
    oracle=f"""
    WITH a AS (SELECT value FROM events WHERE ts < {_SPLIT}),
    b AS (SELECT value FROM events WHERE ts >= {_SPLIT}),
    na AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM a),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b),
    pts AS (
        SELECT value, CAST(count(*) FILTER (WHERE src = 0) AS BIGINT) AS ca,
               CAST(count(*) FILTER (WHERE src = 1) AS BIGINT) AS cb
        FROM (SELECT value, 0 AS src FROM a
              UNION ALL SELECT value, 1 AS src FROM b)
        GROUP BY value
    ),
    cdf AS (
        SELECT sum(ca) OVER (ORDER BY value) / na.n AS fa,
               sum(cb) OVER (ORDER BY value) / nb.n AS fb
        FROM pts, na, nb
    )
    SELECT round(max(abs(fa - fb)), 6) AS ks_stat,
           CAST(na.n AS BIGINT) AS n_early, CAST(nb.n AS BIGINT) AS n_late
    FROM cdf, na, nb GROUP BY na.n, nb.n
    """,
)
def ks_test_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the value
    distributions of the early (< Jan 16) and late event slices:
    sup |F_early − F_late| over the pooled support.

    Scale: the sup runs over DISTINCT pooled values (one groupBy reduces
    the stream to its support with per-side counts; both empirical CDFs
    are running sums over that reduced frame).  The single-partition
    global ordering is over |distinct values| — already aggregate-sized;
    for a truly dense support, pre-bin to a quantile grid first (as
    psi_value_stability does).  Counts divide as exact integers, so the
    CDF values are engine-identical.
    """
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    tagged = ev.select(
        "value", F.when(F.col("ts") < split, 0).otherwise(1).alias("src"))
    pts = tagged.groupBy("value").agg(
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("cb"))
    tot = pts.agg(F.sum("ca").cast("double").alias("na"),
                  F.sum("cb").cast("double").alias("nb"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cdf = (pts.crossJoin(F.broadcast(tot))
           .select((F.sum("ca").over(w) / F.col("na")).alias("fa"),
                   (F.sum("cb").over(w) / F.col("nb")).alias("fb"),
                   "na", "nb"))
    return cdf.groupBy("na", "nb").agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat")
    ).select("ks_stat", F.col("na").cast("bigint").alias("n_early"),
             F.col("nb").cast("bigint").alias("n_late"))


@query(
    "psi_value_stability",
    oracle=f"""
    WITH edges AS (
        SELECT quantile_disc(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e
        FROM events WHERE ts < {_SPLIT}
    ),
    binned AS (
        SELECT CASE WHEN ts < {_SPLIT} THEN 0 ELSE 1 END AS src,
               1 + len(list_filter(e, x -> x < value)) AS bin
        FROM events, edges
    ),
    cnts AS (
        SELECT bin,
               CAST(count(*) FILTER (WHERE src = 0) AS BIGINT) AS ca,
               CAST(count(*) FILTER (WHERE src = 1) AS BIGINT) AS cb
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
                   CAST(sum(cb) AS DOUBLE) AS nb FROM cnts)
    SELECT bin, ca AS n_expected, cb AS n_actual,
           round((cb / nb - ca / na)
                 * ln(greatest(cb / nb, 1e-6) / greatest(ca / na, 1e-6)),
                 6) + 0.0 AS psi_term
    FROM cnts, tot
    """,
)
def psi_value_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per decile bin: expected = early slice
    (which also defines the decile edges), actual = late slice; term =
    (p_a − p_e)·ln(p_a/p_e) with 1e-6 floors.  Σterms > 0.2 is the
    classic retrain trigger.

    Scale: decile edges come from one discrete-quantile aggregate of the
    early slice (collapsed to a 9-value broadcast literal — exact
    quantiles over the aggregated support, matching the oracle's
    quantile_disc); binning is then a map-side comparison against the
    broadcast edges and the count table is 10 rows.  Proportions are
    exact-integer ratios, so terms are engine-identical before rounding.
    """
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    # discrete (type-7-free) quantiles over the early slice: smallest
    # value with cume_dist >= q — identical to DuckDB quantile_disc
    early = ev.filter(F.col("ts") < split)
    qs = [i / 10.0 for i in range(1, 10)]
    sup = early.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    n1 = sup.agg(F.sum("c").alias("n"))
    cum = (sup.crossJoin(F.broadcast(n1))
           .select("value", (F.sum("c").over(wv) / F.col("n")).alias("cd")))
    # all 9 edges in ONE aggregate (conditional mins), one job — not a
    # collect per quantile
    edge_row = collect_bounded(cum.agg(*[
        F.min(F.when(F.col("cd") >= q, F.col("value"))).alias(f"e{i}")
        for i, q in enumerate(qs)]), ONE_ROW, "psi_value_stability edges")[0]
    edges = [edge_row[f"e{i}"] for i in range(len(qs))]
    bin_expr = (1 + sum((F.lit(e) < F.col("value")).cast("int")
                        for e in edges)).alias("bin")
    binned = ev.select(
        F.when(F.col("ts") < split, 0).otherwise(1).alias("src"), bin_expr)
    cnts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("cb"))
    tot = cnts.agg(F.sum("ca").cast("double").alias("na"),
                   F.sum("cb").cast("double").alias("nb"))
    pa, pb = F.col("ca") / F.col("na"), F.col("cb") / F.col("nb")
    term = ((pb - pa) * F.log(F.greatest(pb, F.lit(1e-6))
                              / F.greatest(pa, F.lit(1e-6))))
    return (cnts.crossJoin(F.broadcast(tot))
            .select("bin", F.col("ca").alias("n_expected"),
                    F.col("cb").alias("n_actual"),
                    (F.round(term, 6) + F.lit(0.0)).alias("psi_term")))


@query(
    "mutual_info_value_type",
    oracle="""
    WITH deciles AS (
        SELECT event_type,
               ntile(10) OVER (ORDER BY value, event_id) AS dec
        FROM events
    ),
    joint AS (
        SELECT event_type, dec, CAST(count(*) AS BIGINT) AS c
        FROM deciles GROUP BY event_type, dec
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM joint),
    mxated AS (
        SELECT event_type, dec, c,
               sum(c) OVER (PARTITION BY event_type) AS cx,
               sum(c) OVER (PARTITION BY dec) AS cy
        FROM joint
    )
    SELECT round(sum((c / n) * ln((c * n) / (CAST(cx AS DOUBLE) * cy))), 6)
               AS mutual_info_nats
    FROM mxated, tot
    """,
)
def mutual_info_value_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between the value decile and the event
    type — the model-free feature-relevance score a selection pass ranks
    features by: I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))).

    Scale (r13 swap from plans/proto_r13.py, sf1 warm same-session A/B
    3.90 → 2.88 s vs the window form):
    deciles keep ntile(10)-over-(value, event_id) SEMANTICS exactly but
    never sort the stream — the histogram-refinement idiom
    (catalog_r18_ebayes.py precedent) assigns them from the value-support
    histogram: the support's global rank spans [lo, hi] are computed
    DRIVER-SIDE from the collected (value, count) histogram
    (operators/ranking.ntile_spans — the bounded-collect idiom,
    max_keys-guarded; ~17.8k rows at sf1, price-range-bounded at any
    SF), which also removes the unpartitioned support-window's
    `No Partition Defined` log noise; ntile's closed-form bucket
    function (operators/ranking._tile_of / _tile_of_py — shared with
    exact_ntile so the arithmetic cannot drift) maps spans to deciles
    in pure integer math;
    groups entirely inside one decile contribute via a (value, type)
    count histogram with NO row-level work; only the ≤9 boundary-
    straddling groups get row-level ranks, via a window PARTITIONED BY
    value — fine-grained keys, fully parallel.  The joint counts are
    equal to ntile's BY CONSTRUCTION (same bucket function, same global
    positions; pinned by tests/test_r13_prototypes.py), so the oracle's
    ntile formulation is unchanged.  The contingency table is 10×|types|
    rows and every probability is an exact-integer ratio; MI sums 50
    terms — order noise is ~1e-15 against a 1e-6 rounding quantum.

    Skew caveat: a straddling VALUE GROUP is ranked in one task (the
    window partitions by value), so a single value covering a large
    share of the stream would concentrate that share into one task.
    Here value is a cents-quantized price with ~17.8k-value support at
    sf1 (largest group ~N/10^4), so the bound is comfortable; if a
    future dataset has a dominant tie value, rank the straddling rows
    with operators/ranking.two_phase_row_number(part_cols=["value"])
    instead — same output, quantile-bucketed parallelism inside the
    group.

    Degenerate input (ADVICE r13): a NULL (or NaN) in events.value now
    raises ValueError at plan-build time via ntile_spans' key guards —
    a behavior change vs the pre-swap window form, which ordered nulls
    first and computed a result. Fail-fast is deliberate: both engines'
    null orderings were never pinned for this row, so a silent result
    on null-bearing input could diverge from the oracle.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value",
                                            "event_id")
    # 1. value-support histogram, collected and turned into global rank
    #    spans DRIVER-SIDE (operators/ranking.ntile_spans — the
    #    bounded-collect idiom): the support is |distinct quantized
    #    values| rows (~17.8k at sf1, price-range-bounded at any SF,
    #    max_keys-guarded), and computing the prefix sums here instead
    #    of in an unpartitioned support window removes the plan's last
    #    `No Partition Defined` WindowExec
    sup_rows = [(r["value"], r["c"]) for r in collect_bounded(
        ev.groupBy("value").agg(F.count(F.lit(1)).alias("c")),
        MAX_KEYS, "mutual_info_value_type support")]
    int_rows, strad_rows, base, rem, _n = ntile_spans(
        sup_rows, 10, op_name="mutual_info_value_type")

    # 2. interior groups: whole span inside one decile — histogram-only
    per_vt = ev.groupBy("value", "event_type").agg(
        F.count(F.lit(1)).alias("c"))
    interior = local_df(spark, int_rows, "value double, dec long")
    joint_int = (per_vt.join(F.broadcast(interior), "value")
                 .groupBy("event_type", "dec")
                 .agg(F.sum("c").alias("c")))

    # 3. straddling groups (≤9): row-level ranks WITHIN each value
    #    group (fine-grained window keys), global pos = lo - 1 + rank
    strad = local_df(spark, strad_rows, "value double, lo long")
    wrow = Window.partitionBy("value").orderBy("event_id")
    rows = (ev.join(F.broadcast(strad), "value")
            .withColumn("rn", F.row_number().over(wrow))
            .withColumn("pos", F.col("lo") - 1 + F.col("rn"))
            .withColumn("dec", _tile_of(F.col("pos"),
                                        F.lit(base).cast("long"),
                                        F.lit(rem).cast("long"))))
    joint_str = rows.groupBy("event_type", "dec").agg(
        F.count(F.lit(1)).alias("c"))

    # ≤ 10×|types| rows, read twice (marginals + total) — cache so the
    # whole contingency build runs once
    joint = (joint_int.unionByName(joint_str)
             .groupBy("event_type", "dec").agg(F.sum("c").alias("c"))
             .cache())

    n1 = joint.agg(F.sum("c").cast("double").alias("n"))
    wx = Window.partitionBy("event_type")
    wy = Window.partitionBy("dec")
    m = (joint
         .withColumn("cx", F.sum("c").over(wx))
         .withColumn("cy", F.sum("c").over(wy))
         .crossJoin(F.broadcast(n1)))
    term = ((F.col("c") / F.col("n"))
            * F.log((F.col("c") * F.col("n"))
                    / (F.col("cx").cast("double") * F.col("cy"))))
    return m.agg(F.round(F.sum(term), 6).alias("mutual_info_nats"))


def _qdisc(df: DataFrame, group: str, col: str, probs: list[float],
           aliases: list[str]) -> DataFrame:
    """Per-group discrete quantiles (DuckDB quantile_disc semantics: the
    smallest data value whose cumulative share >= q) via one support
    aggregation + a cumulative window — engine-exact because the result
    IS a data value, never an interpolation."""
    sup = df.groupBy(group, col).agg(F.count(F.lit(1)).alias("__c"))
    w = (Window.partitionBy(group).orderBy(col)
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy(group)
    cd = (F.sum("__c").over(w) / F.sum("__c").over(tot)).alias("__cd")
    cum = sup.select(group, col, cd)
    aggs = [F.min(F.when(F.col("__cd") >= q, F.col(col))).alias(a)
            for q, a in zip(probs, aliases)]
    return cum.groupBy(group).agg(*aggs)


@query(
    "outlier_iqr_flags",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_disc(value, 0.25) AS q1,
               quantile_disc(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type, q1, q3,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(count(*) FILTER (WHERE value < q1 - 1.5 * (q3 - q1)
                                    OR value > q3 + 1.5 * (q3 - q1))
                AS BIGINT) AS n_outliers
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q1, q3
    """,
)
def outlier_iqr_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier screen per event type: values beyond
    [q1 − 1.5·IQR, q3 + 1.5·IQR] counted against the group size — the
    univariate outlier gate a feature-quality pass runs per column.

    Scale: quantiles via the discrete (data-value) definition over the
    aggregated support — one groupBy + one per-group window, never a
    global sort; the flag pass is a broadcast join of the |groups|-row
    fence table back onto the scan.  Fences are arithmetic on exact data
    values, so both engines compare identical doubles.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    q = _qdisc(ev, "event_type", "value", [0.25, 0.75], ["q1", "q3"])
    iqr = F.col("q3") - F.col("q1")
    out = ((F.col("value") < F.col("q1") - 1.5 * iqr)
           | (F.col("value") > F.col("q3") + 1.5 * iqr))
    return (ev.join(F.broadcast(q), "event_type")
            .groupBy("event_type", "q1", "q3")
            .agg(F.count(F.lit(1)).alias("n_values"),
                 F.sum(out.cast("long")).alias("n_outliers")))


@query(
    "robust_zscore_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_disc(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, med,
               quantile_disc(abs(value - med), 0.5) AS mad
        FROM events e JOIN med USING (event_type)
        GROUP BY e.event_type, med
    )
    SELECT e.event_type, med, mad,
           CAST(count(*) FILTER (WHERE abs(value - med)
                                       > 3.5 * 1.4826 * mad)
                AS BIGINT) AS n_flagged
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, med, mad
    """,
)
def robust_zscore_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score screen (Iglewicz-Hoaglin): |x − median| >
    3.5·1.4826·MAD per event type — the outlier gate that, unlike the
    IQR fence, stays calibrated under heavy contamination because both
    location and scale are 50 % breakdown estimators.

    Scale: two discrete-quantile passes (median of values, median of
    absolute deviations), each the support-aggregate + per-group window
    shape; the deviation pass joins the broadcast |groups|-row median
    table.  Both estimators return exact data values.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    # med is |event_types| rows but sits inside BOTH dev consumers (the
    # MAD pass and the flag pass) — un-cached its whole support-window
    # median pass re-ran under each (4 events scans; r14 plan census,
    # guide §2.4). Cached, the row is the 3-pass textbook minimum for
    # exact median -> MAD -> flag.
    med = _qdisc(ev, "event_type", "value", [0.5], ["med"]).cache()
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = _qdisc(dev, "event_type", "adev", [0.5], ["mad"])
    flagged = F.col("adev") > 3.5 * 1.4826 * F.col("mad")
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type", "med", "mad")
            .agg(F.sum(flagged.cast("long")).alias("n_flagged")))


@query(
    "benford_first_digit",
    oracle="""
    SELECT digit,
           CAST(count(*) AS BIGINT) AS n_values,
           round(count(*) / (SELECT CAST(count(*) AS DOUBLE)
                             FROM events WHERE value > 0), 6) AS obs_freq,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_freq
    FROM (
        SELECT CAST(floor(value / power(10.0, floor(log10(value))))
                    AS BIGINT) AS digit
        FROM events WHERE value > 0
    )
    GROUP BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution against Benford's law
    (Newcomb 1881 / Benford 1938) — the classic fabricated-data /
    ingestion-corruption screen for positive numeric columns.  (The
    synthetic uniform-ish values are EXPECTED to deviate; the row
    reports observed vs expected, it does not assert conformance.)

    Scale: the digit is a map-side expression (log10/floor of each
    value — exact at decade boundaries because log10 of an exact power
    of ten is exact in IEEE), the aggregate is ≤9 groups, and the total
    rides in as a 1-row broadcast.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    digit = F.floor(F.col("value")
                    / F.pow(F.lit(10.0), F.floor(F.log10("value"))))
    tot = ev.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (ev.select(digit.cast("bigint").alias("digit"))
            .groupBy("digit")
            .agg(F.count(F.lit(1)).alias("n_values"))
            .crossJoin(F.broadcast(tot))
            .select("digit", "n_values",
                    F.round(F.col("n_values") / F.col("n"), 6)
                    .alias("obs_freq"),
                    F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
                    .alias("benford_freq")))
