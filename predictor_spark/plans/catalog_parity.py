"""Catalog part 7 — remaining SURVEY §2 parity rows and similarity-scale
paths: W3 single-step windows, W12 anti-naive-lock dispatch, W16 alignment
trim, W7/W8 STL lead-targets + recomposition, N2-N4 normalization family,
A12 GA fitness, S10 star-schema upsert semantics, embedding near-dup and
IVF ANN (BASELINE.json north-star ops).

Same conventions as catalog.py: identical aliases both sides, in-query
rounding, integer/string keys, scale notes per docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators import normalize as norm, similarity, temporal
from predictor_spark.operators.transforms import anti_naive_lock, infer_roles
from predictor_spark.plans.catalog import query, _t

_CUTOFF = "2024-01-22 00:00:00"


# ---------------------------------------------------------------------------
# W3 — univariate single-step window (data_processor.py:44-76)
# ---------------------------------------------------------------------------

@query(
    "w3_single_step_window",
    oracle="""
    SELECT event_id,
           round(w[1], 6) + 0.0 AS w0, round(w[2], 6) + 0.0 AS w1,
           round(w[3], 6) + 0.0 AS w2, round(w[4], 6) + 0.0 AS w3,
           round(target, 6) + 0.0 AS target
    FROM (
        SELECT event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w,
               lead(value, 2) OVER (PARTITION BY user_id ORDER BY ts) AS target,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ) WHERE rn >= 4 AND target IS NOT NULL
    """,
)
def w3_single_step_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — univariate window data[i:i+w] with single-step target
    data[i+w+h-1], date = last input step (app/data_processor.py:44-76;
    duplicate default_preprocessor.py:66-95). Composes W1 tensorization
    with one lead: both share the per-series window spec, so Catalyst
    plans ONE sort + WindowExec for tensor, lead and row-number together —
    the per-row Python loop of the reference becomes a single pass.
    Flattened to scalar columns for the driver's hasher (see w1).
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # the target lead rides in tensorize's OWN window batch (extra_cols)
    # so tensor + lead + row-number plan as ONE WindowExec; a withColumn
    # after the call would sit above the completeness filter and cost a
    # second sort (caught by the fixed explain_audit window counter)
    out = temporal.window_tensorize(
        ev, ["value"], 4, series_col="user_id", inclusive=True,
        extra_cols={"target": F.lead("value", 2).over(w)},
    )
    out = out.filter(F.col("target").isNotNull())
    return out.select(
        "event_id",
        *[(F.round(F.element_at(F.element_at("window", i + 1), 1), 6) + F.lit(0.0)).alias(f"w{i}")
          for i in range(4)],
        (F.round("target", 6) + F.lit(0.0)).alias("target"),
    )


# ---------------------------------------------------------------------------
# W12 — anti-naive-lock per-column dispatch (anti_naive_lock.py:53-130)
# ---------------------------------------------------------------------------

@query(
    "w12_anti_naive_lock",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, ts,
               value            AS close,
               value + 10.0     AS price_x,
               value            AS trend_x,
               CAST(hour(ts) AS DOUBLE) AS hod
        FROM events
    )
    SELECT event_id,
           round(close, 6) + 0.0 AS close,
           round(CASE WHEN lag(price_x) OVER w > 0 AND price_x > 0
                      THEN ln(price_x / lag(price_x) OVER w) ELSE 0.0 END, 6) + 0.0 AS price_x,
           round(coalesce(trend_x - lag(trend_x) OVER w, 0.0), 6) + 0.0 AS trend_x,
           round(sin(2 * pi() * hod / 24.0), 6) + 0.0 AS hod_sin,
           round(cos(2 * pi() * hod / 24.0), 6) + 0.0 AS hod_cos
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def w12_anti_naive_lock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 — the anti-naive-lock dispatcher: per-column transform chosen by
    name category (anti_naive_lock.py:53-130) — target preserved, price-like
    -> guarded log-returns, trend-like -> first difference, cyclic -> sin/cos.
    All windowed transforms share one spec -> one sort, one WindowExec;
    the cyclic encodes are pure map-side codegen."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "ts",
        F.col("value").alias("close"),
        (F.col("value") + F.lit(10.0)).alias("price_x"),
        F.col("value").alias("trend_x"),
        F.hour("ts").cast("double").alias("hod"),
    )
    roles = infer_roles(["close", "price_x", "trend_x", "hod"], target_col="close")
    out = anti_naive_lock(base, roles, series_col="user_id")
    # + 0.0 canonicalizes IEEE-754 signed zero on both engines (see w11)
    return out.select(
        "event_id",
        *[(F.round(c, 6) + F.lit(0.0)).alias(c)
          for c in ("close", "price_x", "trend_x", "hod_sin", "hod_cos")],
    )


# ---------------------------------------------------------------------------
# W16 — alignment / trim as key-joins (stl_io.py:29-36; SURVEY §7 J1)
# ---------------------------------------------------------------------------

@query(
    "w16_align_trim",
    oracle="""
    WITH preds AS (
        SELECT event_id, user_id, ts, value AS pred FROM events WHERE event_id % 7 != 0
    ),
    tgts AS (
        SELECT event_id, lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target
        FROM events QUALIFY target IS NOT NULL
    )
    SELECT count(*) AS n_aligned,
           round(avg(abs(pred - target)), 6) AS mae
    FROM preds JOIN tgts USING (event_id)
    """,
)
def w16_align_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16/J1 — the reference aligns predictions/targets/dates positionally
    by truncating to min length (stl_metrics.py:50-63, stl_io.py:29-36);
    the engine makes alignment EXPLICIT: an inner equi-join on the row key,
    robust to either side having dropped rows. Here preds are missing every
    7th row and targets lose each series tail — the join intersects both.
    Scale: an equi-join on a unique integer key; sort-merge or (small side)
    broadcast, no positional assumption to break on repartition."""
    ev = _t(spark, sf_dir, "events")
    preds = ev.filter(F.col("event_id") % 7 != 0).select("event_id", F.col("value").alias("pred"))
    w = Window.partitionBy("user_id").orderBy("ts")
    tgts = (
        ev.withColumn("target", F.lead("value", 1).over(w))
        .filter(F.col("target").isNotNull())
        .select("event_id", "target")
    )
    j = preds.join(tgts, "event_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_aligned"),
        F.round(F.avg(F.abs(F.col("pred") - F.col("target"))), 6).alias("mae"),
    )


# ---------------------------------------------------------------------------
# W7/W8 — STL lead-targets + recomposition (stl_target.py:37-98,
# stl_decomposition_pipeline.py:202-219)
# ---------------------------------------------------------------------------

_DECOMP_CTE = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, sum(value) AS v
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT hour, v,
               avg(v) OVER (ORDER BY hour ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend,
               row_number() OVER (ORDER BY hour) AS rn,
               count(*) OVER () AS n
        FROM hourly
    ),
    full_tr AS (SELECT * FROM tr WHERE rn >= 13 AND rn <= n - 12),
    seas AS (
        SELECT hour(hour) AS phase, avg(v - trend) AS seasonal
        FROM full_tr GROUP BY 1
    ),
    comp AS (
        -- components rounded to 6dp FIRST: the engine side leads the shared
        -- (already-rounded) decomposition output, so the oracle must too
        SELECT f.hour, round(f.trend, 6) AS trend, round(s.seasonal, 6) AS seasonal,
               round(f.v - f.trend - s.seasonal, 6) AS resid
        FROM full_tr f JOIN seas s ON hour(f.hour) = s.phase
    )
"""


@query(
    "w7_stl_lead_targets",
    oracle=_DECOMP_CTE + """
    SELECT hour,
           round(t1, 6) AS trend_h1, round(s1, 6) AS seasonal_h1, round(r1, 6) AS resid_h1,
           round(t1 + s1 + r1, 6) AS total_h1,
           round(sqrt((0.05*t1)^2 + (0.05*s1)^2 + (0.05*r1)^2), 6) AS unc_h1
    FROM (
        SELECT hour,
               lead(trend, 1)    OVER w AS t1,
               lead(seasonal, 1) OVER w AS s1,
               lead(resid, 1)    OVER w AS r1
        FROM comp WINDOW w AS (ORDER BY hour)
    ) WHERE t1 IS NOT NULL
    """,
)
def w7_stl_lead_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 + W8 — per-horizon lead of each decomposition component
    (stl_target.py:54-78) and the recomposition contract: prediction =
    trend + seasonal + resid, uncertainty = sqrt(sum u_c^2)
    (stl_decomposition_pipeline.py:202-219; per-component u_c stands in as
    5% of the component so the oracle can replay it). The three component
    leads share one window spec — one WindowExec, no extra shuffle beyond
    the decomposition's own."""
    from predictor_spark.plans.catalog_forecast import stl_decompose_hourly

    comp = stl_decompose_hourly(spark, sf_dir)  # hour, trend, seasonal, resid (rounded 6dp)
    # re-derive unrounded components would re-run the pipeline; the shared
    # decomposition is already 6dp on both sides, so leads stay consistent
    w = Window.orderBy("hour")
    led = comp.select(
        "hour",
        F.lead("trend", 1).over(w).alias("t1"),
        F.lead("seasonal", 1).over(w).alias("s1"),
        F.lead("resid", 1).over(w).alias("r1"),
    ).filter(F.col("t1").isNotNull())
    u = lambda c: (F.lit(0.05) * F.col(c)) ** 2  # noqa: E731
    return led.select(
        "hour",
        F.round("t1", 6).alias("trend_h1"),
        F.round("s1", 6).alias("seasonal_h1"),
        F.round("r1", 6).alias("resid_h1"),
        F.round(F.col("t1") + F.col("s1") + F.col("r1"), 6).alias("total_h1"),
        F.round(F.sqrt(u("t1") + u("s1") + u("r1")), 6).alias("unc_h1"),
    )


# ---------------------------------------------------------------------------
# N2/N3/N4 — min-max round-trip, double-denorm guard, delta scaling
# ---------------------------------------------------------------------------

@query(
    "n2_minmax_roundtrip",
    oracle=f"""
    WITH st AS (
        SELECT min(value) AS mn, max(value) AS mx FROM events
        WHERE ts < TIMESTAMP '{_CUTOFF}'
    )
    SELECT event_id,
           round((value - mn) / (mx - mn), 6) AS norm,
           round(((value - mn) / (mx - mn)) * (mx - mn) + mn, 6) AS denorm
    FROM events, st
    """,
)
def n2_minmax_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 — min-max normalize + denormalize round trip, stats fit on the
    TRAIN slice only (stl_norm.py:86-101; fit-on-train anti_naive_lock.py:
    222-238). Stats are a 2-number broadcast literal — the normalize itself
    is pure map-side codegen, scan-bound at 100 TB. The fit slice is a
    range-limited scan (load_events_range) so the train cutoff prunes
    parquet row groups."""
    from predictor_spark.sources.tables import load_events_range

    ev = _t(spark, sf_dir, "events")
    stats = norm.fit_minmax(load_events_range(spark, sf_dir, hi=_CUTOFF), ["value"])
    normed = norm.normalize(ev.select("event_id", "value"), stats).withColumnRenamed("value", "norm")
    both = norm.denormalize(normed.withColumn("denorm", F.col("norm")), {"denorm": stats["value"]})
    return both.select(
        "event_id", F.round("norm", 6).alias("norm"), F.round("denorm", 6).alias("denorm")
    )


@query(
    "n1_zscore_roundtrip",
    oracle=f"""
    WITH st AS (
        SELECT avg(value) AS m,
               CASE WHEN abs(stddev_samp(value)) < 1e-8 THEN 1.0
                    ELSE stddev_samp(value) END AS s
        FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
    )
    SELECT event_id,
           round((value - m) / s, 6) AS norm,
           round(((value - m) / s) * s + m, 6) AS denorm
    FROM events, st
    """,
)
def n1_zscore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 — z-score normalize + denormalize (x*std + mean) round trip with
    stats fit on the TRAIN slice only (helpers.py:103-132, fit-on-train
    anti_naive_lock.py:222-238; std<1e-8 -> 1 guard). Stats broadcast as
    literals -> pure map-side projection, scan-bound at any scale. Fit
    slice via range-limited scan (load_events_range) for row-group
    pruning."""
    from predictor_spark.sources.tables import load_events_range

    ev = _t(spark, sf_dir, "events")
    stats = norm.fit_zscore(load_events_range(spark, sf_dir, hi=_CUTOFF), ["value"])
    normed = norm.normalize(ev.select("event_id", "value"), stats).withColumnRenamed("value", "norm")
    both = norm.denormalize(normed.withColumn("denorm", F.col("norm")), {"denorm": stats["value"]})
    return both.select(
        "event_id", F.round("norm", 6).alias("norm"), F.round("denorm", 6).alias("denorm")
    )


@query(
    "n3_denorm_guard",
    oracle="""
    SELECT event_type,
           round(avg(value), 4) AS mean_v,
           round(stddev_samp(value), 4) AS std_v,
           (abs(avg(value)) > 1.0 OR stddev_samp(value) > 10.0
            OR stddev_samp(value) < 0.1) AS looks_denormalized
    FROM events GROUP BY event_type
    """,
)
def n3_denorm_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 — the double-denormalization guard: data "looks real" (skip
    denorm) when its profile is far from N(0,1) (stl_norm.py:46-63). The
    engine exposes the statistics and the decision declaratively per group
    — one aggregation pass — instead of the reference's collect-and-branch;
    production favors the explicit ``assume_normalized`` flag (SURVEY §7)."""
    ev = _t(spark, sf_dir, "events")
    m, s = F.avg("value"), F.stddev_samp("value")
    return ev.groupBy("event_type").agg(
        F.round(m, 4).alias("mean_v"),
        F.round(s, 4).alias("std_v"),
        ((F.abs(m) > 1.0) | (s > 10.0) | (s < 0.1)).alias("looks_denormalized"),
    )


@query(
    "n4_delta_scaling",
    oracle=f"""
    WITH st AS (
        SELECT CASE WHEN abs(stddev_samp(value)) < 1e-8 THEN 1.0
                    ELSE stddev_samp(value) END AS s
        FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
    )
    SELECT event_id,
           round((lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) - value)
                 * s * 0.5, 6) AS scaled_delta
    FROM events, st
    QUALIFY lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) IS NOT NULL
    """,
)
def n4_delta_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 + N5 — delta/uncertainty columns scale by std WITHOUT the mean
    offset (stl_norm.py:119-170), then the use_returns multiplicative
    factor (default_pipeline.py:141-146; here 1/target_scaling_factor=0.5).
    Composition of denormalize_delta and scale; both pure column math over
    one window lead."""
    ev = _t(spark, sf_dir, "events")
    stats = norm.fit_zscore(ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp")), ["value"])
    w = Window.partitionBy("user_id").orderBy("ts")
    deltas = (
        ev.withColumn("scaled_delta", F.lead("value", 1).over(w) - F.col("value"))
        .filter(F.col("scaled_delta").isNotNull())
    )
    out = norm.denormalize_delta(deltas, {"scaled_delta": stats["value"]}, ["scaled_delta"])
    out = norm.scale(out, ["scaled_delta"], 0.5)
    return out.select("event_id", F.round("scaled_delta", 6).alias("scaled_delta"))


# ---------------------------------------------------------------------------
# A12 — GA candidate fitness (candidate_worker.py:344-359)
# ---------------------------------------------------------------------------

@query(
    "a12_ga_fitness",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN 'train' ELSE 'val' END AS split,
               avg(value) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS pred,
               value AS naive_pred,
               lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target
        FROM events QUALIFY target IS NOT NULL
    ),
    m AS (
        SELECT avg(CASE WHEN split = 'train' THEN abs(pred - target) END)       AS train_mae,
               avg(CASE WHEN split = 'train' THEN abs(naive_pred - target) END) AS train_naive,
               avg(CASE WHEN split = 'val' THEN abs(pred - target) END)         AS val_mae,
               avg(CASE WHEN split = 'val' THEN abs(naive_pred - target) END)   AS val_naive
        FROM scored
    )
    SELECT round(train_mae, 6) AS train_mae, round(train_naive, 6) AS train_naive,
           round(val_mae, 6) AS val_mae, round(val_naive, 6) AS val_naive,
           round(0.4 * (train_mae - train_naive) + 0.6 * (val_mae - val_naive)
                 + CASE WHEN train_mae > train_naive THEN train_mae - train_naive ELSE 0 END
                 + CASE WHEN val_mae > val_naive THEN 2 * (val_mae - val_naive) ELSE 0 END,
                 6) AS fitness
    FROM m
    """,
)
def a12_ga_fitness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — the GA fitness scalar: 0.4*train_delta + 0.6*val_delta with
    asymmetric worse-than-naive penalties (+delta train, +2*delta val)
    (candidate_worker.py:344-359). Candidate model = trailing-3 moving
    average vs the persistence baseline; one window pass + one conditional
    aggregation — the per-candidate cost that M4's fan-out parallelizes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    scored = (
        ev.withColumn("split", F.when(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"),
                                      "train").otherwise("val"))
        .withColumn("pred", F.avg("value").over(w.rowsBetween(-2, 0)))
        .withColumn("target", F.lead("value", 1).over(w))
        .filter(F.col("target").isNotNull())
    )
    def mae(split: str, pred_col: str):
        return F.avg(F.when(F.col("split") == split, F.abs(F.col(pred_col) - F.col("target"))))
    m = scored.agg(
        mae("train", "pred").alias("train_mae"),
        mae("train", "value").alias("train_naive"),
        mae("val", "pred").alias("val_mae"),
        mae("val", "value").alias("val_naive"),
    )
    td = F.col("train_mae") - F.col("train_naive")
    vd = F.col("val_mae") - F.col("val_naive")
    fitness = (
        F.lit(0.4) * td + F.lit(0.6) * vd
        + F.when(td > 0, td).otherwise(F.lit(0.0))
        + F.when(vd > 0, F.lit(2.0) * vd).otherwise(F.lit(0.0))
    )
    return m.select(
        *[F.round(c, 6).alias(c) for c in ("train_mae", "train_naive", "val_mae", "val_naive")],
        F.round(fitness, 6).alias("fitness"),
    )


# ---------------------------------------------------------------------------
# S10 — star-schema upsert (latest-wins MERGE semantics,
# etl_migrate_v2.py:274-298,489-511)
# ---------------------------------------------------------------------------

@query(
    "olap_fact_upsert",
    oracle=f"""
    WITH batch1 AS (
        SELECT 'Test' AS split, m.metric, h.horizon, 1 AS batch_id,
               round(avg(value) * h.horizon, 6) AS avg_value
        FROM events, (VALUES ('MAE'), ('Naive MAE')) m(metric),
                     (VALUES (1), (3)) h(horizon)
        WHERE ts < TIMESTAMP '{_CUTOFF}'
        GROUP BY m.metric, h.horizon
    ),
    batch2 AS (
        SELECT 'Test' AS split, m.metric, h.horizon, 2 AS batch_id,
               round(avg(value) * h.horizon, 6) AS avg_value
        FROM events, (VALUES ('MAE'), ('Naive MAE')) m(metric),
                     (VALUES (3), (6)) h(horizon)
        GROUP BY m.metric, h.horizon
    )
    SELECT split, metric, horizon, batch_id, avg_value
    FROM (SELECT * FROM batch1 UNION ALL SELECT * FROM batch2)
    QUALIFY row_number() OVER (PARTITION BY split, metric, horizon
                               ORDER BY batch_id DESC) = 1
    """,
)
def olap_fact_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — fact_performance upsert keyed on (split, metric, horizon) with
    ON CONFLICT DO UPDATE semantics (etl_migrate_v2.py:489-511): two metric
    batches overlap on horizon 3 — batch 2 wins there, batch 1's horizon 1
    survives. Declarative MERGE-as-window (latest batch per natural key);
    the file-backed warehouse path with the same semantics is
    sources/olap.py StarSchemaWarehouse.upsert (anti-join + append).
    Scale: the dedup window shuffles only fact rows (|keys| scale), and a
    real deployment swaps in Delta MERGE INTO keyed identically."""
    ev = _t(spark, sf_dir, "events")

    def batch(df: DataFrame, batch_id: int, horizons: list[int]) -> DataFrame:
        # one explode over the 1-row aggregate instead of a 4-branch
        # unionAll of avg_v projections — each union branch re-derived
        # the events scan + avg, so the two batches cost EIGHT corpus
        # scans per invocation (r14 plan census; guide §2.4, the graph2
        # _edges idiom). Same rows, same floats: avg computed once,
        # round(v * h, 6) unchanged per (metric, horizon).
        avg_v = df.agg(F.avg("value").alias("v"))
        pairs = F.array(*[
            F.struct(F.lit(metric).alias("metric"), F.lit(h).alias("horizon"))
            for metric in ("MAE", "Naive MAE") for h in horizons])
        return (avg_v.select(F.col("v"), F.explode(pairs).alias("p"))
                .select(F.lit("Test").alias("split"), F.col("p.metric"),
                        F.col("p.horizon"), F.lit(batch_id).alias("batch_id"),
                        F.round(F.col("v") * F.col("p.horizon"), 6)
                        .alias("avg_value")))

    b1 = batch(ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp")), 1, [1, 3])
    b2 = batch(ev, 2, [3, 6])
    allb = b1.unionAll(b2)
    w = Window.partitionBy("split", "metric", "horizon").orderBy(F.col("batch_id").desc())
    return (
        allb.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("split", "metric", "horizon", "batch_id", "avg_value")
    )


@query(
    "streaming_stateful_running_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           round(sum(value), 2) AS total,
           round(list_reduce(list(value ORDER BY ts),
                             (acc, x) -> 0.8 * acc + 0.2 * x), 6) AS ema
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (applyInPandasWithState): per-user
    (count, total, EMA) state carried across 4 chronological micro-batches
    (streaming/stateful.py). The oracle replays the same left-to-right
    EMA fold with list_reduce — order-sensitive state proven equal to the
    batch computation, which is the streaming correctness contract."""
    from predictor_spark.streaming.stateful import stateful_running_stats

    out = stateful_running_stats(spark, sf_dir, alpha=0.2, n_chunks=4)
    return out.select(
        "user_id", "n",
        F.round("total", 2).alias("total"),
        F.round("ema", 6).alias("ema"),
    )


@query(
    "streaming_foreachbatch_inference",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts, value,
               lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target
        FROM events
    ),
    coeffs AS (
        SELECT user_id, regr_slope(target, value) AS slope,
               regr_intercept(target, value) AS intercept
        FROM base WHERE target IS NOT NULL AND ts < TIMESTAMP '{_CUTOFF}'
        GROUP BY user_id HAVING regr_slope(target, value) IS NOT NULL
    )
    SELECT e.event_type, count(*) AS n,
           round(avg(c.intercept + c.slope * e.value), 6) AS avg_pred,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN coeffs c USING (user_id)
    WHERE e.ts >= TIMESTAMP '{_CUTOFF}'
    GROUP BY e.event_type
    """,
)
def streaming_foreachbatch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inference (streaming/inference.py): AR(1) coefficients
    fit in batch, held-out events replayed chronologically and scored
    inside foreachBatch via a broadcast join per micro-batch. The oracle
    is the equivalent batch scoring — streaming == batch is the serving
    correctness contract."""
    from predictor_spark.streaming.inference import stream_score_ar1

    scored = stream_score_ar1(spark, sf_dir, train_end=_CUTOFF)
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("pred"), 6).alias("avg_pred"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "ar2_yule_walker_coeffs",
    oracle="""
    WITH x0 AS (
        SELECT user_id, ts,
               value - avg(value) OVER (PARTITION BY user_id) AS x,
               avg(value) OVER (PARTITION BY user_id) AS m
        FROM events WHERE ts < TIMESTAMP '2024-01-22 00:00:00'
    ),
    x1 AS (
        SELECT user_id, m, x,
               lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts) AS xl1,
               lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts) AS xl2
        FROM x0
    ),
    agg AS (
        SELECT user_id, count(*) AS n, any_value(m) AS mean,
               sum(x*x) AS s0, sum(x*xl1) AS s1, sum(x*xl2) AS s2
        FROM x1 GROUP BY user_id
    )
    SELECT user_id, n, round(mean, 6) AS mean,
           round((s1/s0) * (1 - s2/s0) / (1 - (s1/s0)*(s1/s0)), 6) AS phi1,
           round((s2/s0 - (s1/s0)*(s1/s0)) / (1 - (s1/s0)*(s1/s0)), 6) AS phi2
    FROM agg WHERE n >= 3 AND s0 > 0
    """,
)
def ar2_yule_walker_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series AR(2) training via Yule-Walker (plans/ar_model.py):
    closed-form coefficients from lagged autocovariances — N series =
    N models in one window pass + one groupBy shuffle. The distributed
    analog of the reference's per-series model fit."""
    from predictor_spark.plans.ar_model import ar2_yule_walker
    from predictor_spark.sources.tables import load_events_range

    # range pre-filter on the RAW nanos column so it pushes into the scan
    # (the operator's own cutoff filter is then a no-op); see
    # sources/tables.py:load_events_range
    ev = load_events_range(spark, sf_dir, hi=_CUTOFF)
    out = ar2_yule_walker(ev)
    return out.select(
        "user_id", "n",
        F.round("mean", 6).alias("mean"),
        F.round("phi1", 6).alias("phi1"),
        F.round("phi2", 6).alias("phi2"),
    )


@query(
    "asof_join_purchases",
    oracle="""
    SELECT l.event_id,
           CASE WHEN l.ts <= r.ts + INTERVAL 2 DAY THEN r.ts END AS ts_right,
           CASE WHEN l.ts <= r.ts + INTERVAL 2 DAY
                THEN round(r.value, 6) END AS value_right
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click joined to the user's
    latest purchase at-or-before it, within a 2-day tolerance. Both sides
    are predicates over ONE table, so this uses the single-scan
    ``asof_self_join`` (tag-in-one-scan, VERDICT r3 #4): one events scan,
    one window pass, no row replication — the two-table ``asof_join``
    remains for genuinely distinct tables. Oracle: DuckDB's native ASOF
    LEFT JOIN with the tolerance as a post-predicate."""
    from predictor_spark.operators.asof import asof_self_join

    ev = _t(spark, sf_dir, "events")
    out = asof_self_join(
        ev,
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        ts_col="ts", by=["user_id"],
        right_cols=["ts", "value"], tolerance=F.expr("INTERVAL 2 DAYS"),
    )
    return out.select(
        "event_id", "ts_right", F.round("value_right", 6).alias("value_right")
    )


@query(
    "rollup_time_hierarchy",
    oracle="""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           date_trunc('hour', ts) AS hour,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY ROLLUP (event_type, day, hour)
    """,
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    shape): one pass produces hour, day, event-type, and grand totals via
    GROUP BY ROLLUP — grouping sets expand map-side, so the shuffle still
    carries only |groups| rows. At 100 TB this replaces four separate
    scans with one."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .rollup("event_type", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "ar_order_select_aic",
    oracle="""
    WITH x0 AS (
        SELECT user_id, ts,
               value - avg(value) OVER (PARTITION BY user_id) AS x
        FROM events WHERE ts < TIMESTAMP '2024-01-22 00:00:00'
    ),
    xl AS (
        SELECT user_id, x,
               lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts) AS x1,
               lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts) AS x2,
               lag(x, 3) OVER (PARTITION BY user_id ORDER BY ts) AS x3
        FROM x0
    ),
    agg AS (
        SELECT user_id, count(*) AS n,
               sum(x*x) AS s0, sum(x*x1) AS s1, sum(x*x2) AS s2, sum(x*x3) AS s3
        FROM xl GROUP BY user_id HAVING count(*) >= 8 AND sum(x*x) > 0
    ),
    lev AS (
        SELECT user_id, n, s0,
               s1/s0 AS r1, s2/s0 AS r2, s3/s0 AS r3
        FROM agg
    ),
    e AS (
        SELECT user_id, n, s0, r1, r2, r3,
               1 - r1*r1 AS e1,
               (r2 - r1*r1) / (1 - r1*r1) AS k2
        FROM lev
    ),
    e2t AS (
        SELECT *, e1 * (1 - k2*k2) AS e2, r1 * (1 - k2) AS a21 FROM e
    ),
    e3t AS (
        SELECT *, (r3 - a21*r2 - k2*r1) / e2 AS k3 FROM e2t
    ),
    aic AS (
        SELECT user_id, n,
               round(n * ln((s0/n) * e1) + 2, 4) AS aic1,
               round(n * ln((s0/n) * e2) + 4, 4) AS aic2,
               round(n * ln((s0/n) * e2 * (1 - k3*k3)) + 6, 4) AS aic3
        FROM e3t
    )
    SELECT user_id, n, aic1, aic2, aic3,
           CASE WHEN aic1 <= aic2 AND aic1 <= aic3 THEN 1
                WHEN aic2 <= aic3 THEN 2 ELSE 3 END AS best_p
    FROM aic
    """,
)
def ar_order_select_aic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(p) order selection by AIC via closed-form Levinson-Durbin
    (plans/ar_model.py ar_order_select) — the distributed analog of the
    reference's ARIMA-GA AIC minimization, with zero candidate fan-out."""
    from predictor_spark.plans.ar_model import ar_order_select
    from predictor_spark.sources.tables import load_events_range

    ev = load_events_range(spark, sf_dir, hi=_CUTOFF)
    return ar_order_select(ev)


@query(
    "range_join_event_windows",
    oracle="""
    SELECT a.event_id AS anchor_id,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events a JOIN events e
      ON epoch_us(e.ts) >= epoch_us(a.ts)
     AND epoch_us(e.ts) < epoch_us(a.ts) + 3600000000
    WHERE a.value > 150
    GROUP BY a.event_id
    """,
)
def range_join_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, binned (operators/rangejoin.py):
    every high-value anchor event opens a [ts, ts+1h) window; count and
    sum all events inside each window. A naive plan is a
    BroadcastNestedLoopJoin (O(|anchors| x |events|)); binning makes it a
    hash join on the hour-bucket with ~2x interval replication — the
    shape that survives 100 TB. Oracle: plain inequality join (DuckDB
    IEJoin)."""
    from predictor_spark.operators.rangejoin import bin_range_join

    hour_us = 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    points = ev.select(F.unix_micros("ts").alias("x"), "value")
    anchors = ev.filter(F.col("value") > 150).select(
        F.col("event_id").alias("anchor_id"),
        F.unix_micros("ts").alias("lo"),
        (F.unix_micros("ts") + hour_us).alias("hi"),
    )
    joined = bin_range_join(points, anchors, "x", "lo", "hi", bin_width=hour_us)
    return joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _prophet_oracle(holidays: tuple[str, ...] = (),
                    regressor: str | None = None,
                    ridge: float = 0.0) -> str:
    """Generate the DuckDB oracle for the prophet-like OLS: per-user
    normal-equation sums (full p x p matrix + rhs), then Gaussian
    elimination UNROLLED into one nested subquery layer per dependency
    level, replaying the exact operation order of
    operators/prophet_like.py solve_normal_gauss (f = a_ik/a_kk, row_i -=
    f*row_k, ascending back-substitution). Layered subqueries — not
    lateral aliases — because DuckDB expands lateral aliases by
    substitution, which is exponential in chain depth.

    ``holidays`` adds 0/1 indicator regressors; ``regressor`` adds an
    extra design column frozen at its last train value after the cutoff
    (the reference's last-step future fill); ``ridge`` adds the same
    diagonal prior the engine applies (zero-pivot guard for all-zero
    indicator columns)."""
    xs = ["1.0", "t"]
    for cp in (0.25, 0.5, 0.75):
        xs.append(f"greatest(t - {cp}, 0.0)")
    for k in (1, 2):
        xs.append(f"sin(2 * pi() * {k} * day)")
        xs.append(f"cos(2 * pi() * {k} * day)")
    for h in holidays:
        xs.append(f"CASE WHEN CAST(ts AS DATE) = DATE '{h}' THEN 1.0 ELSE 0.0 END")
    if regressor:
        xs.append("reg")
    p = len(xs)
    min_rows = p + 1

    sums = []
    for i in range(p):
        for j in range(p):
            lo, hi = min(i, j), max(i, j)
            ridge_add = f" + {ridge}" if (ridge and i == j) else ""
            sums.append(f"sum(x{lo} * x{hi}) FILTER (is_train){ridge_add} AS a_{i}_{j}")
    for i in range(p):
        sums.append(f"sum(x{i} * y) FILTER (is_train) AS b_{i}")

    layers = []
    for k in range(p - 1):
        f_defs = ", ".join(f"a_{i}_{k} / a_{k}_{k} AS f_{i}" for i in range(k + 1, p))
        layers.append(f"SELECT *, {f_defs} FROM __PREV__")
        upd = []
        for i in range(p):
            for j in range(p):
                if i > k and j > k:
                    upd.append(f"a_{i}_{j} - f_{i} * a_{k}_{j} AS a_{i}_{j}")
                else:
                    upd.append(f"a_{i}_{j}")
        for i in range(p):
            upd.append(f"b_{i} - f_{i} * b_{k} AS b_{i}" if i > k else f"b_{i}")
        layers.append(f"SELECT user_id, {', '.join(upd)} FROM __PREV__")
    for i in range(p - 1, -1, -1):
        if i == p - 1:
            expr = f"b_{i} / a_{i}_{i}"
        else:
            chain = " + ".join(f"a_{i}_{j} * th_{j}" for j in range(i + 1, p))
            expr = f"(b_{i} - ({chain})) / a_{i}_{i}"
        layers.append(f"SELECT *, {expr} AS th_{i} FROM __PREV__")

    nested = "norm"
    for idx, layer in enumerate(layers):
        nested = "(" + layer.replace("__PREV__", nested) + f") e{idx}"

    # deterministic under tied timestamps (ADVICE r3): among rows at the max
    # train sec, take the max regressor value — same rule as the engine
    reg_stat = (", struct_extract(max(struct_pack(s := sec, r := reg_raw)) "
                "FILTER (is_train), 'r') AS reg_last"
                if regressor else "")
    reg_des = (", CASE WHEN r.is_train THEN r.reg_raw ELSE s.reg_last END AS reg"
               if regressor else "")
    reg_raw = (f", {regressor} AS reg_raw" if regressor else "")
    xdefs = ", ".join(f"{e} AS x{i}" for i, e in enumerate(xs))
    yhat = " + ".join(f"x{i} * th_{i}" for i in range(p))

    return f"""
    WITH rows_ AS (
        SELECT user_id, ts, value AS y,
               epoch_us(ts) / 1000000.0 AS sec,
               (ts < TIMESTAMP '{_CUTOFF}') AS is_train{reg_raw}
        FROM events
    ),
    stats AS (
        SELECT user_id,
               count(*) FILTER (is_train) AS n_train,
               min(sec) FILTER (is_train) AS t0,
               max(sec) FILTER (is_train) AS t1,
               avg(y) FILTER (is_train) AS ymean{reg_stat}
        FROM rows_ GROUP BY user_id
    ),
    des0 AS (
        SELECT r.user_id, r.ts, r.y, r.is_train,
               (r.sec - s.t0) / greatest(s.t1 - s.t0, 1.0) AS t,
               fmod(r.sec, 86400.0) / 86400.0 AS day{reg_des}
        FROM rows_ r JOIN stats s USING (user_id)
        WHERE s.n_train >= {min_rows}
    ),
    des AS (SELECT user_id, ts, y, is_train, {xdefs} FROM des0),
    norm AS (SELECT user_id, {', '.join(sums)} FROM des GROUP BY user_id),
    theta AS (
        SELECT user_id, {', '.join(f'th_{i}' for i in range(p))}
        FROM {nested}
    ),
    big AS (
        SELECT d.user_id, d.ts, d.y, d.is_train, {yhat} AS yhat
        FROM des d JOIN theta USING (user_id)
    ),
    small AS (
        SELECT r.user_id, r.ts, r.y, r.is_train,
               CASE WHEN s.n_train > 0 THEN s.ymean ELSE 0.0 END AS yhat
        FROM rows_ r JOIN stats s USING (user_id)
        WHERE s.n_train < {min_rows}
    ),
    scored AS (SELECT * FROM big UNION ALL SELECT * FROM small)
    SELECT user_id, count(*) AS n_test,
           round(avg(abs(y - yhat)), 6) AS mae
    FROM scored WHERE NOT is_train GROUP BY user_id
    """


@query("prophet_like_train_eval", oracle=_prophet_oracle())
def prophet_like_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prophet-style per-series model (operators/prophet_like.py):
    piecewise-linear trend + daily Fourier seasonality by OLS normal
    equations, fit on train, scored on held-out rows; each series is one
    Arrow group running the numpy core (operators/series.py per_series).
    The oracle unrolls the identical Gaussian elimination in SQL
    (_prophet_oracle); the pytest additionally replays the numpy core
    driver-side bit-for-bit."""
    from predictor_spark.operators.prophet_like import prophet_like_fit_predict

    ev = _t(spark, sf_dir, "events")
    scored = prophet_like_fit_predict(ev, train_end=_CUTOFF)
    test = scored.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    return test.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(F.abs(F.col("value") - F.col("yhat"))), 6).alias("mae"),
    )


@query(
    "prophet_holiday_regressor_train_eval",
    oracle=_prophet_oracle(holidays=("2024-01-15", "2024-01-25"),
                           regressor="CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END",
                           ridge=1e-6),
)
def prophet_holiday_regressor_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prophet extras (predictor_plugin_prophet.py:168-188): two holiday
    indicator regressors (one in train, one held-out) plus an exogenous
    purchase-indicator regressor whose post-cutoff values are frozen at
    the last train value — the reference's last-step future-regressor
    fill. Ridge 1e-6 on the normal equations (Prophet-prior analog) keeps
    the pivot-free solve stable for series where an indicator column is
    all-zero in train."""
    from predictor_spark.operators.prophet_like import prophet_like_fit_predict

    ev = _t(spark, sf_dir, "events").withColumn(
        "is_purchase",
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0),
    )
    scored = prophet_like_fit_predict(
        ev, train_end=_CUTOFF, holidays=["2024-01-15", "2024-01-25"],
        regressor_col="is_purchase", ridge=1e-6,
    )
    test = scored.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp"))
    return test.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.avg(F.abs(F.col("value") - F.col("yhat"))), 6).alias("mae"),
    )


def _fft_chunked_oracle() -> str:
    from predictor_spark.plans.catalog_forecast import _dft_oracle

    sql = _dft_oracle("user_id", "", where="WHERE user_id = 1")
    # single series: drop the key from the output projection (the helper
    # threads it through the CTEs; strip only the final SELECT list)
    return sql.replace("SELECT user_id, ts, round", "SELECT ts, round")


@query("w15_fft_chunked", oracle=_fft_chunked_oracle())
def w15_fft_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 on a single giant series via range-chunking with w-row halos
    (operators/spectral.py fft_window_features_chunked): global positions
    from broadcast per-partition offsets (no single-partition window),
    halo duplication bounded at w/chunk_size, identical FFT per chunk.
    Exact-equality differential test: test_fft_chunked_equals_per_series."""
    from predictor_spark.operators.spectral import fft_window_features_chunked

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") == 1)
    out = fft_window_features_chunked(ev, window_size=16, n_components=4, chunk_size=256)
    return out.select(
        "ts", *[F.round(f"fft_{k}", 6).alias(f"fft_{k}") for k in range(4)]
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation + correlated subquery (scale / SQL-surface rows)
# ---------------------------------------------------------------------------

@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           round(sum(value), 2) AS total,
           count(value) AS n,
           round(sum(value) / count(value), 6) AS avg_v,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation (operators/skew.py): 5 hot
    event_type keys spread over (key, salt) buckets in phase 1, partials
    recombined by key in phase 2 — the phase-2 shuffle carries
    |keys| x buckets rows, never data rows. Result is bit-identical to
    the direct groupBy (this oracle IS the direct groupBy). Salt derives
    from event_id so both engines are deterministic."""
    from predictor_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "total": ("sum", "value"),
            "n": ("count", "value"),
            "avg_v": ("avg", "value"),
            "min_v": ("min", "value"),
            "max_v": ("max", "value"),
        },
        buckets=32,
        salt_col=F.col("event_id"),
    )
    return out.select(
        "event_type",
        F.round("total", 2).alias("total"),
        "n",
        F.round("avg_v", 6).alias("avg_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
    )


@query(
    "corr_subquery_above_avg",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 1.5 * (
        SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o_orderkey
    """,
)
def corr_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the engine's SQL surface:
    orders priced >1.5x their customer's average. Catalyst decorrelates
    the subquery into an aggregate + join (no per-row re-execution);
    at scale both sides shuffle once on o_custkey and the aggregate side
    is |customers| rows. Exercises spark.sql() + view registration, not
    just the DataFrame API."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders_v o
        WHERE o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
    """)


# ---------------------------------------------------------------------------
# Embedding near-dup + IVF ANN (BASELINE.json dedup / similarity-search)
# ---------------------------------------------------------------------------

_COS = ("list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))")


def _sig_sql(side: str, n_planes: int = 2, dim: int = 64) -> str:
    bits = []
    for p in range(n_planes):
        plane = f"list_transform(range(0, {dim}), d -> sin({1000.0 * (p + 1)} + d))"
        bits.append(f"(CASE WHEN list_dot_product({side}, {plane}) > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cs AS (SELECT vec_id, v, {_sig_sql('v')} AS sig FROM c)
    SELECT vec_id_a, vec_id_b, cosine FROM (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round({_COS.format(a='a.v', b='b.v')}, 6) AS cosine
        FROM cs a JOIN cs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.42
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-signature-blocked self
    join (operators/similarity.py cosine_near_dup_pairs). The corpus is
    shuffled ONCE by bucket; no full cross join ever materializes."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.42, n_planes=2, dim=64)


def _ivf_oracle(n_centroids: int = 8, k: int = 5, n_iter: int = 2,
                nprobe: int = 2, dim: int = 64) -> str:
    """Replays the ENTIRE IVF path in SQL, k-means quantizer included:
    Lloyd's iterations are unrolled as CTE chains (assign by rounded
    squared L2 with lowest-centroid tie-break, per-dimension avg update
    rounded to 8 dp — the same rounding kmeans_fit applies, which pins
    centroids bit-exactly across engines)."""
    sqd = (f"round(list_sum(list_transform(range(1, {dim + 1}), "
           "i -> (e.v[i] - ct.cv[i]) * (e.v[i] - ct.cv[i]))), 6)")
    ctes = [
        "c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v AS cv "
        f"FROM (SELECT * FROM c ORDER BY vec_id LIMIT {n_centroids}))",
    ]
    cur = "c0"
    for it in range(n_iter):
        a, u, nxt = f"a{it}", f"u{it}", f"c{it + 1}"
        ctes.append(
            f"{a} AS (SELECT vec_id, cent_id FROM ("
            f"SELECT e.vec_id, ct.cent_id, row_number() OVER (PARTITION BY e.vec_id "
            f"ORDER BY {sqd}, ct.cent_id) AS rn FROM c e, {cur} ct) WHERE rn = 1)"
        )
        ctes.append(
            f"{u} AS (SELECT {a}.cent_id, d.i, round(avg(e.v[d.i]), 8) AS m "
            f"FROM {a} JOIN c e USING (vec_id), "
            f"(SELECT unnest(range(1, {dim + 1})) AS i) d GROUP BY {a}.cent_id, d.i)"
        )
        ctes.append(
            f"{nxt} AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM {u} GROUP BY cent_id "
            f"UNION ALL SELECT p.cent_id, p.cv FROM {cur} p "
            f"WHERE p.cent_id NOT IN (SELECT cent_id FROM {u}))"
        )
        cur = nxt
    ctes.append(
        "af AS (SELECT vec_id, cent_id FROM ("
        "SELECT e.vec_id, ct.cent_id, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {sqd}, ct.cent_id) AS rn FROM c e, {cur} ct) WHERE rn = 1)"
    )
    ctes.append(
        "qp AS (SELECT vec_id AS query_id, v AS qv, cent_id FROM ("
        "SELECT e.vec_id, e.v, ct.cent_id, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {sqd}, ct.cent_id) AS rn "
        f"FROM (SELECT * FROM c WHERE vec_id < 10) e, {cur} ct) WHERE rn <= {nprobe})"
    )
    cos = _COS.format(a="qp.qv", b="ca.cv")
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT qp.query_id, ca.neighbor_id,
               round({cos}, 6) AS cosine,
               row_number() OVER (PARTITION BY qp.query_id
                                  ORDER BY round({cos}, 6) DESC, ca.neighbor_id) AS rank
        FROM qp JOIN (SELECT af.vec_id AS neighbor_id, af.cent_id, c.v AS cv
                      FROM af JOIN c ON af.vec_id = c.vec_id) ca USING (cent_id)
        WHERE ca.neighbor_id != qp.query_id
    ) WHERE rank <= {k}
    """)


@query("knn_cosine_ivf", oracle=_ivf_oracle(nprobe=3))
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nprobe=3) approximate cosine top-5 for queries vec_id < 10 with
    a REAL k-means coarse quantizer (2 Lloyd's iterations, deterministic
    lowest-id init, rounded updates — operators/kmeans.kmeans_fit), list
    assignment map-side via broadcast centroid literals, exact rerank
    inside the probed lists (operators/similarity.py ivf_cosine_topk).
    The oracle unrolls the same k-means fit as SQL CTEs. Recall vs the
    bruteforce query is 0.92 at sf0.01 (tested in
    tests/test_rangejoin_text2.py::test_ivf_recall_vs_bruteforce)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=8,
        n_iter=2, nprobe=3,
    )
