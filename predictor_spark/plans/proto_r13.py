"""Round-13 perf prototypes + swapped-out reference plans — NOT
registered, NOT imported by any catalog module.

r13 status: the three scheduled swaps LANDED in their live rows, in
their final driver-side-prefix-sum form (zero unpartitioned windows;
sf1 warm vs the window forms kept below: mutual_info 3.90 → 1.86 s,
funnel 0.73 → 0.77 s, heaps ~2.0 → 1.92 s) — see the live docstrings
in catalog_drift / catalog_r10_funnel / catalog_textstats.  This
module keeps the PRE-SWAP window-form plans (`*_window` below)
verbatim, so the equality pins in tests/test_r13_prototypes.py
compare two genuinely different physical plans — the same evidence
standard the r12 hybrid_rrf pin set — instead of a plan against
itself.

r14 update: the held class is EMPTY — the decile trio
(lift_gain_deciles, the shared causal _decile_agg) and
kingman_wait_estimate swapped to their prototype forms in their live
rows.  The `*_v2` prototypes moved INTO the catalogs; this module now
keeps the PRE-SWAP window-form plans for those rows too
(`lift_gain_deciles_window`, `causal_decile_agg_window`,
`kingman_wait_estimate_window`) so the r13 equality pins keep
comparing two genuinely different physical plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.plans.catalog import _t
from predictor_spark.operators.localrel import local_df


def mutual_info_value_type_window(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The PRE-r13 registered plan, verbatim: ntile(10) over a
    (value, event_id) global order — the ENTIRE event stream through
    one sort task (PARALLELISM_AUDIT.md Class C #1 before the swap).
    Kept as the equality-pin reference for the live histogram-
    refinement plan in catalog_drift.py."""
    ev = _t(spark, sf_dir, "events")
    dec = ev.select(
        "event_type",
        F.ntile(10).over(Window.orderBy("value", "event_id")).alias("dec"))
    joint = dec.groupBy("event_type", "dec").agg(
        F.count(F.lit(1)).alias("c"))
    tot = joint.agg(F.sum("c").cast("double").alias("n"))
    wx = Window.partitionBy("event_type")
    wy = Window.partitionBy("dec")
    m = (joint
         .withColumn("cx", F.sum("c").over(wx))
         .withColumn("cy", F.sum("c").over(wy))
         .crossJoin(F.broadcast(tot)))
    term = ((F.col("c") / F.col("n"))
            * F.log((F.col("c") * F.col("n"))
                    / (F.col("cx").cast("double") * F.col("cy"))))
    return m.agg(F.round(F.sum(term), 6).alias("mutual_info_nats"))


def funnel_latency_quantiles_window(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The PRE-r13 registered plan, verbatim: row_number over the full
    |converters| frame in one task.  Equality-pin reference for the
    live support-span order-statistics plan in catalog_r10_funnel.py."""
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
    w = Window.orderBy("lat_s", "user_id")
    ranked = lat.select(
        "lat_s", F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))).alias("n"))
    return ranked.agg(
        F.max("n").cast("long").alias("n_converters"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("lat_s"))).alias("p50_latency_s"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"),
                     F.col("lat_s"))).alias("p90_latency_s"))


def heaps_vocab_growth_window(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The PRE-r13 registered plan, verbatim: row_number over the full
    |docs| frame in one task (plus the cached tokenized frame).
    Equality-pin reference for the live bucket-refinement plan in
    catalog_textstats.py."""
    from predictor_spark.operators.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    r = F.row_number().over(Window.orderBy("doc_id"))
    ranked = docs.select("doc_id", tokens_col("text").alias("t")) \
        .withColumn("r", r).cache()
    nd = ranked.agg(F.max("r").alias("nd"))
    first_seen = (ranked.select("r", F.explode("t").alias("term"))
                  .groupBy("term").agg(F.min("r").alias("first_r")))
    tokcum = ranked.select("r", F.size("t").alias("ntok"))
    cp = (local_df(spark, [(0.1,), (0.25,), (0.5,), (1.0,)],
                                "frac double")
          .crossJoin(F.broadcast(nd))
          .select("frac", F.ceil(F.col("frac") * F.col("nd"))
                  .cast("long").alias("k_docs")))
    toks_at = (cp.join(tokcum, tokcum.r <= cp.k_docs)
               .groupBy("frac", "k_docs")
               .agg(F.sum("ntok").cast("long").alias("n_tokens")))
    vocab_at = (cp.join(first_seen, first_seen.first_r <= cp.k_docs)
                .groupBy("frac", "k_docs")
                .agg(F.count(F.lit(1)).cast("long").alias("vocab")))
    return toks_at.join(F.broadcast(vocab_at), ["frac", "k_docs"]) \
        .select("frac", "k_docs", "n_tokens", "vocab")


def lift_gain_deciles_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 registered lift_gain_deciles plan, verbatim: ntile
    over an UNPARTITIONED window (one task sorts the whole per-user
    score frame) + a 10-row window cumsum.  Kept as the genuine-
    different-plan pin partner for the exact_ntile live row (swapped
    r14)."""
    from predictor_spark.plans.catalog_eval import _eval_base

    base = _eval_base(spark, sf_dir)
    dec = F.ntile(10).over(
        Window.orderBy(F.col("score_int").desc(), "user_id"))
    agg = (base.select("label", dec.alias("decile"))
           .groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos"))
           .cache())
    tot = agg.agg(F.sum("n").alias("nt"), F.sum("pos").alias("pt"))
    cum = F.sum("pos").over(
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", cum)
        .select(F.col("decile").cast("long").alias("decile"),
                F.col("n").cast("long").alias("n_users"),
                F.col("pos").cast("long").alias("n_pos"),
                F.round((F.col("pos").cast("double") / F.col("n"))
                        / (F.col("pt").cast("double") / F.col("nt")), 6)
                .alias("lift"),
                F.round(F.col("cum_pos").cast("double") / F.col("pt"), 6)
                .alias("cum_gain"))
    )


def causal_decile_agg_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 catalog_r7_causal._decile_agg plan, verbatim:
    unpartitioned ntile over the per-user frame.  Pin partner for the
    exact_ntile live helper (swapped r14); pinning THIS frame pins
    both dependent rows (uplift_by_decile, qini_curve_points)."""
    from predictor_spark.plans.catalog_r7_causal import _user_base

    base = _user_base(spark, sf_dir)
    dec = F.ntile(10).over(
        Window.orderBy(F.col("pre_activity").desc(), F.col("user_id")))
    t = F.col("treat") == 1
    return (base.select("treat", "label", dec.alias("decile"))
            .groupBy("decile")
            .agg(F.sum(t.cast("int")).alias("nt"),
                 F.sum((~t).cast("int")).alias("nc"),
                 F.sum(F.when(t, F.col("label")).otherwise(0)).alias("pt"),
                 F.sum(F.when(~t, F.col("label")).otherwise(0)).alias("pc")))


def kingman_wait_estimate_window(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The pre-r14 registered kingman_wait_estimate plan, verbatim:
    adjacent arrival gaps via lag() over an UNPARTITIONED window — one
    task sorts all |sessions| start times (and |sessions| is
    ~|events|: 954,650 at sf1).  Kept as the genuine-different-plan
    pin partner for the two-phase-rank live row (swapped r14)."""
    from predictor_spark.plans.catalog_r9_opsresearch import _sessions

    sess, span = _sessions(spark, sf_dir)
    wg = Window.orderBy("start_ms", "user_id", "session_id")
    gaps = (sess.select((F.col("start_ms")
                         - F.lag("start_ms").over(wg)).alias("g"))
            .where(F.col("g").isNotNull()))
    mom = gaps.agg(F.count(F.lit(1)).alias("ng"),
                   F.sum("g").alias("sg"),
                   F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
                   .alias("sg2"))
    smom = sess.agg(F.count(F.lit(1)).alias("ns"),
                    F.sum("dur_ms").alias("ss"),
                    F.sum(F.col("dur_ms").cast("decimal(38,0)")
                          * F.col("dur_ms")).alias("ss2"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ca2 = d("sg2") * F.col("ng") / (d("sg") * F.col("sg")) - 1
    cs2 = d("ss2") * F.col("ns") / (d("ss") * F.col("ss")) - 1
    a = d("ss") / F.col("span_ms")
    tau = d("ss") / F.col("ns") / 60000.0
    m = F.ceil(1.25 * a)
    rho = a / m
    return (mom.crossJoin(F.broadcast(smom)).crossJoin(F.broadcast(span))
            .select(
                F.col("ns").cast("long").alias("n_sessions"),
                F.round(ca2, 6).alias("ca_squared"),
                F.round(cs2, 6).alias("cs_squared"),
                m.cast("long").alias("m_servers"),
                F.round(rho, 6).alias("utilization"),
                F.round(rho / (1 - rho) * ((ca2 + cs2) / 2) * tau, 6)
                .alias("kingman_wq_min")))
