"""Catalog part 5 — model training/eval, window tensors, decomposition,
as-of joins, pivots, MC uncertainty, metric-label parsing.

These complete the reference's §2.3-§2.8 operator surface on the synthetic
tables: W1/W17 window tensor round-trip, W7-style decomposition, A4/A5
uncertainty metrics, S10 metric-label regex, J4 as-of alignment, plus the
trained-model slice (per-series AR(1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from predictor_spark.operators import temporal
from predictor_spark.operators.metrics import mc_uncertainty
from predictor_spark.plans.ar_model import ar1_fit_predict
from predictor_spark.plans.catalog import query, _t

_CUTOFF = "2024-01-22 00:00:00"


@query(
    "ar1_train_eval",
    oracle=f"""
    WITH base AS (
        SELECT user_id, ts, event_type, value,
               lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target,
               lead(ts, 1)    OVER (PARTITION BY user_id ORDER BY ts) AS tgt_ts
        FROM events
    ), trimmed AS (SELECT * FROM base WHERE target IS NOT NULL),
    coeffs AS (
        SELECT user_id, regr_slope(target, value) AS slope,
               regr_intercept(target, value) AS intercept
        FROM trimmed
        WHERE ts < TIMESTAMP '{_CUTOFF}' AND tgt_ts < TIMESTAMP '{_CUTOFF}'
        GROUP BY user_id
    )
    SELECT event_type, count(*) AS n,
           round(avg(abs(intercept + slope * value - target)), 6) AS mae,
           round(avg(abs(value - target)), 6) AS naive_mae
    FROM trimmed t JOIN coeffs c USING (user_id)
    WHERE t.ts >= TIMESTAMP '{_CUTOFF}' AND c.slope IS NOT NULL
    GROUP BY event_type
    """,
)
def ar1_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model training: least-squares AR(1) per user series fit
    on the train slice (one aggregate pass, N series = N models), scored on
    held-out rows vs the persistence baseline. The engine's M2 slice.

    Train/eval are separate range-limited scans (load_events_range) so the
    time split prunes parquet row groups instead of filtering in-plan —
    leads computed per slice cannot cross the cutoff, enforcing the
    no-leakage guard structurally."""
    from predictor_spark.plans.ar_model import ar1_fit_predict_split
    from predictor_spark.sources.tables import load_events_range

    train_ev = load_events_range(spark, sf_dir, hi=_CUTOFF)
    eval_ev = load_events_range(spark, sf_dir, lo=_CUTOFF)
    scored = ar1_fit_predict_split(train_ev, eval_ev, horizon=1)
    p, t, b = F.col("pred"), F.col("target_h1"), F.col("baseline")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.abs(p - t)), 6).alias("mae"),
        F.round(F.avg(F.abs(b - t)), 6).alias("naive_mae"),
    )


@query(
    "w1_window_tensor",
    oracle="""
    SELECT event_id,
           round(w[1], 6) + 0.0 AS w0, round(w[2], 6) + 0.0 AS w1,
           round(w[3], 6) + 0.0 AS w2, round(w[4], 6) + 0.0 AS w3
    FROM (
        SELECT event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ) WHERE rn >= 4
    """,
)
def w1_window_tensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — inclusive sliding-window tensorization (window_size=4, single
    feature): complete windows only; baseline = last elem. Flattened to
    scalar columns w0..w3 because the driver's canonicalizer cannot hash
    array cells (round-1 err row); the lazy array form stays available as
    the rows-only `w1_window_tensor_arrays`."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.window_tensorize(ev, ["value"], 4, series_col="user_id", inclusive=True)
    return out.select(
        "event_id",
        *[(F.round(F.element_at(F.element_at("window", i + 1), 1), 6) + F.lit(0.0)).alias(f"w{i}")
          for i in range(4)],
    )


@query(
    "w1_window_tensor_arrays",
    oracle="""
    SELECT event_id, CAST(pos AS INTEGER) AS pos,
           round(w[pos + 1], 6) + 0.0 AS v
    FROM (
        SELECT event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
        FROM events
    ), LATERAL (SELECT unnest(range(0, 4)) AS pos)
    WHERE rn >= 4
    """,
)
def w1_window_tensor_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (array form) — the actual tensor column consumed by the model
    boundary, surfaced for grading as posexploded (event_id, pos, v)
    scalar rows: the driver's pandas canonicalizer cannot hash list cells
    (r1+r2 err row), and a query that can never be graded buys nothing.
    The lazy ArrayType column itself stays pytest-covered
    (tests/test_temporal.py window_tensorize cases)."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.window_tensorize(ev, ["value"], 4, series_col="user_id", inclusive=True)
    w1d = out.select(
        "event_id",
        F.posexplode(F.transform("window", lambda r: F.element_at(r, 1))).alias("pos", "v"),
    )
    return w1d.select(
        "event_id", F.col("pos").cast("int").alias("pos"),
        (F.round("v", 6) + F.lit(0.0)).alias("v"),
    )


@query(
    "w17_overlap_add",
    oracle="""
    WITH wins AS (
        SELECT user_id, rn, w, len(w) AS wl FROM (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
                   list(value) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS w
            FROM events
        ) WHERE rn >= 3
    ),
    ex AS (
        SELECT user_id, rn - (wl - 1) + pos AS tick, w[pos + 1] AS val
        FROM wins, LATERAL (SELECT unnest(range(0, wl)) AS pos)
    )
    SELECT user_id, CAST(tick AS BIGINT) AS tick,
           round(avg(val), 6) AS value, count(*) AS coverage
    FROM ex GROUP BY user_id, tick
    """,
)
def w17_overlap_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17 — un-windowing by overlap-add (reconstruction.py:4-45): explode
    windows to (tick, value), average diagonals. Inverse of W1; coverage
    counts expose the window overlap structure."""
    ev = _t(spark, sf_dir, "events")
    wins = temporal.window_tensorize(ev, ["value"], 3, series_col="user_id", inclusive=True)
    wins = wins.withColumn("w1d", F.transform("window", lambda r: F.element_at(r, 1)))
    out = temporal.overlap_add(wins, "w1d", series_col="user_id")
    return out.select(
        "user_id", F.col("tick").cast("bigint").alias("tick"),
        F.round("value", 6).alias("value"), "coverage",
    )


@query(
    "stl_decompose_hourly",
    oracle="""
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
    )
    SELECT f.hour, round(f.trend, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(f.v - f.trend - s.seasonal, 6) AS resid
    FROM full_tr f JOIN seas s ON hour(f.hour) = s.phase
    """,
)
def stl_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7-style seasonal decomposition of the hourly event-value series:
    trend = centered 25-tick moving average, seasonal = hour-of-day phase
    mean of the detrended series, resid = remainder. Window + two small
    aggs; the statsmodels-STL variant lives in operators/stl.py (same
    output contract, pandas-UDF path)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(F.sum("value").alias("v"))
    w = Window.orderBy("hour")
    tr = (
        hourly.withColumn("trend", F.avg("v").over(w.rowsBetween(-12, 12)))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    full_tr = tr.filter((F.col("rn") >= 13) & (F.col("rn") <= F.col("n") - 12))
    seas = full_tr.groupBy(F.hour("hour").alias("phase")).agg(
        F.avg(F.col("v") - F.col("trend")).alias("seasonal")
    )
    return (
        full_tr.join(F.broadcast(seas), F.hour(full_tr.hour) == seas.phase)
        .select(
            "hour",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 6).alias("resid"),
        )
    )


@query(
    "asof_last_signup",
    oracle="""
    SELECT event_id,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
    FROM events
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — as-of alignment: each event joined to the user's most recent
    signup at-or-before it. Expressed as last_value(... IGNORE NULLS) —
    no join at all, one window pass (the as-of-join-as-window idiom; for
    two-table as-of, union the tables first then apply the same window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        F.last(F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True)
        .over(w).alias("last_signup_ts"),
    )


@query(
    "pivot_user_event_totals",
    oracle="""
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 6)    AS click,
           round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 6)     AS view,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 6) AS purchase,
           round(coalesce(sum(CASE WHEN event_type = 'signup' THEN value END), 0), 6)   AS signup,
           round(coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0), 6)    AS error
    FROM events GROUP BY user_id
    """,
)
def pivot_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — per-user value totals by event_type as columns. Spark's
    pivot with an explicit value list compiles to the same single-pass
    conditional aggregation as the oracle (no second shuffle)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", kinds).agg(F.sum("value"))
    return out.select(
        "user_id", *[F.round(F.coalesce(F.col(k), F.lit(0.0)), 6).alias(k) for k in kinds]
    )


@query(
    "mc_uncertainty_metrics",
    oracle="""
    WITH s AS (
        SELECT event_type, value,
               value + sin(event_id + 1) AS s0, value + sin(event_id + 2) AS s1,
               value + sin(event_id + 3) AS s2, value + sin(event_id + 4) AS s3
        FROM events
    ), mom AS (
        SELECT event_type, value,
               (s0 + s1 + s2 + s3) / 4.0 AS m,
               sqrt(((s0 - (s0+s1+s2+s3)/4.0)^2 + (s1 - (s0+s1+s2+s3)/4.0)^2
                   + (s2 - (s0+s1+s2+s3)/4.0)^2 + (s3 - (s0+s1+s2+s3)/4.0)^2) / 3.0) AS sd
        FROM s
    )
    SELECT event_type,
           round(avg(abs(sd)), 6) AS uncertainty,
           round(avg(m) / (avg(abs(sd)) + 1e-9), 6) AS snr
    FROM mom GROUP BY event_type
    """,
)
def mc_uncertainty_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/A7 — Monte-Carlo moments across stochastic forward passes
    (here: 4 deterministic pseudo-samples so the oracle can replay), then
    mean-|uncertainty| and SNR per group (stl_metrics.py:74-75,85-86).
    Row-wise array aggregates replace the reference's Welford streaming
    (bayesian.py:70-130) — samples are bounded columns, not passes."""
    ev = _t(spark, sf_dir, "events")
    sampled = ev.withColumns({
        f"s{k}": F.col("value") + F.sin(F.col("event_id") + F.lit(k + 1)) for k in range(4)
    })
    mom = mc_uncertainty(sampled, [f"s{k}" for k in range(4)])
    u, m = F.col("pred_std"), F.col("pred_mean")
    return mom.groupBy("event_type").agg(
        F.round(F.avg(F.abs(u)), 6).alias("uncertainty"),
        F.round(F.avg(m) / (F.avg(F.abs(u)) + F.lit(1e-9)), 6).alias("snr"),
    )


@query(
    "metric_label_parse",
    oracle=r"""
    WITH labels AS (
        SELECT 'Test ' || metric || ' H' || h AS label, v FROM (
            SELECT 'MAE' AS metric, 1 AS h, avg(value) AS v FROM events GROUP BY ALL
            UNION ALL
            SELECT 'Naive MAE', 3, avg(value) FROM events GROUP BY ALL
            UNION ALL
            SELECT 'R2', 6, avg(value) FROM events GROUP BY ALL
        )
    )
    SELECT regexp_extract(label, '^(Train|Validation|Test)\s+(.+?)\s+H(\d+)$', 1) AS split,
           regexp_extract(label, '^(Train|Validation|Test)\s+(.+?)\s+H(\d+)$', 2) AS metric,
           CAST(regexp_extract(label, '^(Train|Validation|Test)\s+(.+?)\s+H(\d+)$', 3) AS INTEGER) AS horizon,
           round(v, 6) AS value
    FROM labels
    """,
)
def metric_label_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — the OLAP ETL's metric-label regex
    (olap/etl_migrate_v2.py:35: ^(Train|Validation|Test)\\s+(.+?)\\s+H(\\d+)$)
    as regexp_extract over engine-generated long-format labels."""
    ev = _t(spark, sf_dir, "events")
    # one explode over the 1-row aggregate instead of a 3-branch
    # unionAll: every branch carried the SAME avg(value) yet re-ran the
    # full events scan under it — 3 corpus scans for one aggregate (r14
    # plan census; guide §2.4, the olap_fact_upsert/graph2 idiom).
    labels = (ev.agg(F.avg("value").alias("v"))
              .select(F.explode(F.array(*[
                  F.lit(f"Test {metric} H{h}")
                  for metric, h in (("MAE", 1), ("Naive MAE", 3), ("R2", 6))
              ])).alias("label"), "v"))
    pat = r"^(Train|Validation|Test)\s+(.+?)\s+H(\d+)$"
    return labels.select(
        F.regexp_extract("label", pat, 1).alias("split"),
        F.regexp_extract("label", pat, 2).alias("metric"),
        F.regexp_extract("label", pat, 3).cast("int").alias("horizon"),
        F.round("v", 6).alias("value"),
    )


@query(
    "w14_exact_log_return",
    oracle=f"""
    WITH base AS (
        SELECT event_id, user_id, ts, value,
               CASE WHEN ts < TIMESTAMP '{_CUTOFF}' THEN 'train' ELSE 'test' END AS split
        FROM events
    ), feat AS (
        SELECT event_id, split,
               coalesce(ln(1 + greatest(value, 0))
                        - lag(ln(1 + greatest(value, 0))) OVER (PARTITION BY user_id ORDER BY ts),
                        ln(1 + greatest(value, 0))) AS lr
        FROM base
    ), stats AS (
        SELECT avg(lr) AS m,
               CASE WHEN abs(stddev_samp(lr)) < 1e-8 THEN 1.0 ELSE stddev_samp(lr) END AS s
        FROM feat WHERE split = 'train'
    )
    SELECT event_id, round((lr - m) / s, 6) AS log_return
    FROM feat, stats
    """,
)
def w14_exact_log_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 — the "exact STL method" feature (phase2_6_preprocessor.py:
    318-359): log1p(max(0,x)) -> first diff (pandas prepend semantics) ->
    z-score fit on the TRAIN slice only."""
    from predictor_spark.operators.transforms import exact_stl_log_return_feature

    ev = _t(spark, sf_dir, "events").withColumn(
        "split",
        F.when(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"), "train").otherwise("test"),
    )
    out = exact_stl_log_return_feature(ev, "value", series_col="user_id")
    return out.select("event_id", F.round("log_return", 6).alias("log_return"))


def _dft_oracle(select_prefix: str, partition: str, where: str = "") -> str:
    """Closed-form DFT oracle for the W15 queries: magnitude_k =
    sqrt((Σ_j d_j·cos(2πjk/15))² + (Σ_j d_j·sin(2πjk/15))²) over the
    15 first-differences of the exclusive 16-tick trailing window,
    sum-normalized over the first 4 components (denominator clamped to 1
    when all four magnitudes are zero, matching spectral.py:54)."""
    mags = ", ".join(
        f"""sqrt(power(list_sum(list_transform(range(0, 15),
                 j -> d[j + 1] * cos(2 * pi() * j * {k} / 15.0))), 2)
               + power(list_sum(list_transform(range(0, 15),
                 j -> d[j + 1] * sin(2 * pi() * j * {k} / 15.0))), 2)) AS m{k}"""
        for k in range(4)
    )
    outs = ", ".join(
        f"round(m{k} / (CASE WHEN m0 + m1 + m2 + m3 = 0 THEN 1.0 "
        f"ELSE m0 + m1 + m2 + m3 END), 6) + 0.0 AS fft_{k}"
        for k in range(4)
    )
    return f"""
    WITH wins AS (
        SELECT {select_prefix}, ts,
               list(value) OVER ({partition} ORDER BY ts
                                 ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS w,
               row_number() OVER ({partition} ORDER BY ts) AS rn
        FROM events {where}
    ),
    diffs AS (
        SELECT {select_prefix}, ts,
               list_transform(range(0, 15), j -> w[j + 2] - w[j + 1]) AS d
        FROM wins WHERE rn >= 17
    ),
    mags AS (SELECT {select_prefix}, ts, {mags} FROM diffs)
    SELECT {select_prefix}, ts, {outs} FROM mags
    """


@query("w15_fft_features", oracle=_dft_oracle("user_id", "PARTITION BY user_id"))
def w15_fft_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — causal FFT magnitudes of the diffed trailing window
    (phase2_6_preprocessor.py:200-294). r14 (guide §4.1): the registered
    row runs the closed-form codegen DFT (fft_window_features_expr — one
    WindowExec of 16 lags, twiddle factors as literals, no Python
    boundary); the per-series numpy form stays as the giant-series /
    cross-check path (w15_fft_chunked row + the numpy differential test
    in tests/test_transforms_spectral_stl.py). Oracle: the DFT written
    out as explicit per-component cos/sin sums over the window list
    (_dft_oracle) — the same closed-form arithmetic the expr form now
    executes."""
    from predictor_spark.operators.spectral import fft_window_features_expr

    ev = _t(spark, sf_dir, "events")
    out = fft_window_features_expr(ev, window_size=16, n_components=4)
    return out.select(
        "user_id", "ts", *[F.round(f"fft_{k}", 6).alias(f"fft_{k}") for k in range(4)]
    )


@query(
    "stl_per_series",
    oracle="""
    WITH base AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events
    ),
    ctr AS (
        SELECT *, avg(value) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS ma
        FROM base
    ),
    edge AS (
        SELECT user_id,
               max(CASE WHEN i = 12 THEN ma END) AS lo,
               max(CASE WHEN i = n - 13 THEN ma END) AS hi
        FROM ctr GROUP BY user_id
    ),
    trended AS (
        SELECT c.user_id, c.ts, c.value, c.i, c.n,
               CASE WHEN c.i < 12 THEN e.lo
                    WHEN c.i >= c.n - 12 THEN e.hi
                    ELSE c.ma END AS trend
        FROM ctr c JOIN edge e USING (user_id)
        WHERE c.n >= 49
    ),
    pm AS (
        SELECT user_id, i % 24 AS ph, avg(value - trend) AS pmean
        FROM trended GROUP BY user_id, i % 24
    ),
    pmc AS (
        SELECT user_id, ph,
               pmean - avg(pmean) OVER (PARTITION BY user_id) AS seasonal
        FROM pm
    ),
    big AS (
        SELECT t.user_id, t.ts, t.value, t.trend, p.seasonal,
               t.value - t.trend - p.seasonal AS resid
        FROM trended t JOIN pmc p ON t.user_id = p.user_id AND t.i % 24 = p.ph
    ),
    small AS (
        SELECT b.user_id, b.ts, b.value, m.m AS trend, 0.0 AS seasonal,
               b.value - m.m AS resid
        FROM base b JOIN (SELECT user_id, avg(value) AS m FROM events
                          GROUP BY user_id) m USING (user_id)
        WHERE b.n < 49
    ),
    unioned AS (SELECT * FROM big UNION ALL SELECT * FROM small)
    SELECT user_id, ts,
           round(CAST(CAST(value AS REAL) AS DOUBLE), 6) + 0.0 AS value,
           round(CAST(CAST(trend AS REAL) AS DOUBLE), 6) + 0.0 AS trend,
           round(CAST(CAST(seasonal AS REAL) AS DOUBLE), 6) + 0.0 AS seasonal,
           round(CAST(CAST(resid AS REAL) AS DOUBLE), 6) + 0.0 AS resid
    FROM unioned
    """,
)
def stl_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 — per-series STL-style decomposition, one Arrow group per series
    through operators/series.py per_series (statsmodels when present,
    classical fallback otherwise; this image has no statsmodels, so the
    oracle replays the classical fallback exactly: centered 25-tick MA
    trend computed as a windowed average with edges clamped to the
    first/last full-window value [stl._classical_decompose], phase-mean
    seasonal centered to sum 0, resid the remainder; series shorter than
    2·period+1 get trend = series mean and zero seasonal
    [stl.decompose_series]). The W8 recomposition identity is asserted
    in tests; the windows-only SQL variant is stl_decompose_hourly."""
    from predictor_spark.operators.stl import stl_decompose

    ev = _t(spark, sf_dir, "events")
    out = stl_decompose(ev, period=24)
    # float32-collapse BEFORE rounding: phase means of 2-decimal inputs land
    # exactly on 5e-7 decimal ties, where the engines' ~1e-14 float noise
    # flips the 6th digit; rounding the identical float32 on both sides
    # makes the tie resolution deterministic (and the reference emits
    # float32 tensors anyway, sliding_windows.py:118)
    return out.select(
        "user_id", "ts",
        *[(F.round(F.col(c).cast("float").cast("double"), 6) + F.lit(0.0)).alias(c)
          for c in ("value", "trend", "seasonal", "resid")],
    )


_WF_FOLDS = [
    ("2024-01-15 00:00:00", "2024-01-22 00:00:00"),
    ("2024-01-22 00:00:00", "2024-01-29 00:00:00"),
    ("2024-01-29 00:00:00", None),
]


def _walk_forward_oracle() -> str:
    """One UNION ALL branch per fold; train leads are full-series leads
    restricted to pairs fully inside the train slice (tgt_ts < cutoff,
    identical to the engine's range-scan leads), eval leads are computed
    WITHIN the fold window (the engine's eval slice is a bounded range
    scan, so its last row per series has no target — the window-scoped
    lead drops the same row)."""
    branches = []
    for i, (lo, hi) in enumerate(_WF_FOLDS):
        hi_pred = f"AND ts < TIMESTAMP '{hi}'" if hi else ""
        branches.append(f"""
    SELECT {i} AS fold, event_type, count(*) AS n,
           round(avg(abs(intercept + slope * value - target)), 4) AS mae,
           round(avg(abs(value - target)), 4) AS naive_mae
    FROM (
        SELECT user_id, event_type, value,
               lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target
        FROM events WHERE ts >= TIMESTAMP '{lo}' {hi_pred}
    ) ev JOIN (
        SELECT user_id, regr_slope(target, value) AS slope,
               regr_intercept(target, value) AS intercept
        FROM (
            SELECT user_id, ts, value,
                   lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts) AS target,
                   lead(ts, 1)    OVER (PARTITION BY user_id ORDER BY ts) AS tgt_ts
            FROM events
        ) WHERE target IS NOT NULL
              AND ts < TIMESTAMP '{lo}' AND tgt_ts < TIMESTAMP '{lo}'
        GROUP BY user_id
    ) c USING (user_id)
    WHERE ev.target IS NOT NULL AND c.slope IS NOT NULL
    GROUP BY event_type""")
        # noqa: the engine mirrors this fold loop exactly
    return " UNION ALL ".join(branches) + " ORDER BY fold, event_type"


@query("walk_forward_ar1_eval", oracle=_walk_forward_oracle())
def walk_forward_ar1_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (rolling-origin) evaluation — the backtest protocol a
    real forecasting deployment uses instead of one fixed split: three
    expanding-train folds, each refitting the per-series AR(1) on all
    data before its cutoff and scoring the next week. Train and eval are
    separate range-limited scans per fold (row-group pruning does the
    slicing), unioned into one per-(fold, type) metric frame. The
    reference's iterations (A6 cross-iteration stats) re-run the SAME
    split; this is the stronger protocol over time."""
    from functools import reduce

    from predictor_spark.plans.ar_model import ar1_fit_predict_split
    from predictor_spark.sources.tables import load_events_range

    folds = []
    for i, (lo, hi) in enumerate(_WF_FOLDS):
        train_ev = load_events_range(spark, sf_dir, hi=lo)
        eval_ev = load_events_range(spark, sf_dir, lo=lo, hi=hi)
        scored = ar1_fit_predict_split(train_ev, eval_ev, horizon=1)
        p, t, b = F.col("pred"), F.col("target_h1"), F.col("baseline")
        folds.append(
            scored.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                # 4 dp, the repo's average convention: at 6 dp one fold's
                # naive_mae sits on a half-ulp rounding boundary that
                # DuckDB's parallel summation order flickers across
                F.round(F.avg(F.abs(p - t)), 4).alias("mae"),
                F.round(F.avg(F.abs(b - t)), 4).alias("naive_mae"),
            ).select(F.lit(i).cast("int").alias("fold"), "event_type",
                     "n", "mae", "naive_mae")
        )
    return reduce(lambda a, b: a.unionByName(b), folds) \
        .orderBy("fold", "event_type")


def _stl_strength_oracle() -> str:
    """Wrap the stl_per_series oracle (same classical decomposition) and
    aggregate Hyndman-style strength features on top of it."""
    from predictor_spark.plans.catalog import ORACLE

    return f"""
    WITH stl_out AS ({ORACLE['stl_per_series']})
    SELECT user_id, count(*) AS n,
           round(greatest(0.0, 1.0 - var_samp(resid)
                                     / var_samp(trend + resid)), 4)
               AS trend_strength,
           round(greatest(0.0, 1.0 - var_samp(resid)
                                     / var_samp(seasonal + resid)), 4)
               AS seasonal_strength
    FROM stl_out GROUP BY user_id
    """


@query("stl_strength_features", oracle=_stl_strength_oracle())
def stl_strength_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecastability features per series (Hyndman & Athanasopoulos,
    FPP3 §4.3): trend strength = max(0, 1 − Var(R)/Var(T+R)) and seasonal
    strength = max(0, 1 − Var(R)/Var(S+R)) over the same classical
    decomposition as stl_per_series — the feature pair that routes a
    series to the right model family (strong seasonality → Holt-Winters
    family; neither → persistence/AR) upstream of
    model_select_per_series.

    Scale: the decomposition cost IS stl_per_series (one Arrow group per
    series through operators/series.py); the strengths add one var_samp aggregate over its
    output.  The oracle wraps the decomposition oracle as a subquery, so
    both layers stay in lockstep by construction.
    """
    from predictor_spark.operators.stl import stl_decompose

    ev = _t(spark, sf_dir, "events")
    out = stl_decompose(ev, period=24)
    # the same float32-collapse + 6-dp canonicalization as the
    # stl_per_series OUTPUT, before the variance: the wrapped oracle
    # aggregates the rounded stl_out columns, so the engine must
    # aggregate the identical numbers (not the raw decomposition)
    c = lambda col: F.round(  # noqa: E731
        F.col(col).cast("float").cast("double"), 6) + F.lit(0.0)
    return (
        out.select(
            "user_id",
            c("resid").alias("r"),
            (c("trend") + c("resid")).alias("tr"),
            (c("seasonal") + c("resid")).alias("sr"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.greatest(F.lit(0.0),
                               1.0 - F.var_samp("r") / F.var_samp("tr")), 4)
            .alias("trend_strength"),
            F.round(F.greatest(F.lit(0.0),
                               1.0 - F.var_samp("r") / F.var_samp("sr")), 4)
            .alias("seasonal_strength"),
        )
    )
