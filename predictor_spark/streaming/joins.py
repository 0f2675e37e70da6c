"""Stream-stream joins (Structured Streaming extension surface, SURVEY
§2.9): watermarked event-time interval join between two live streams —
the "purchase within N hours of a view" attribution pattern.

Spark buffers BOTH sides in the state store keyed by the join key; the
watermark plus the time-range condition bound how long a buffered row can
still find partners, so state is evicted once `other side's watermark >
row.ts + interval`.  Without the range condition state would be
unbounded — the reason a raw equi-join of two streams is rejected by the
planner in append mode.

Scale: state per key = rows inside the active interval horizon only; the
join itself shuffles both streams on user_id once, the same partitioning
the state store uses — no per-batch re-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from predictor_spark.operators.localrel import ONE_ROW, collect_bounded
from predictor_spark.sources.tables import load_table
from predictor_spark.streaming.windows import (
    _stream_dir, replay_stream, run_memory_sink, stage_chunks, stream_clone)


def _chronological_chunks(spark: SparkSession, sf_dir: str, n_bands: int = 3) -> str:
    """Split events into chronological single-file chunks under /tmp so
    maxFilesPerTrigger=1 replays the month as ordered micro-batches."""
    def parts() -> list[DataFrame]:
        ev = load_table(spark, sf_dir, "events")
        # data-driven cutoffs: split INSIDE the earliest and latest
        # qualifying (view, purchase) interval so at least one pair
        # straddles each chunk boundary at ANY scale factor — without
        # this, a static date split can happen to leave every pair within
        # one micro-batch and the "cross-batch join state" claim is
        # untested (the oracle is cutoff-independent, so placement is
        # free to choose adversarially)
        v = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"))
        p = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("p_ts"))
        pairs = v.join(p, "user_id").filter(
            (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 HOURS")))
        mids = pairs.select(
            (F.unix_micros("v_ts")
             + (F.unix_micros("p_ts") - F.unix_micros("v_ts")) / 2)
            .cast("long").alias("mid")
        ).agg(F.min("mid").alias("lo"), F.max("mid").alias("hi"))
        mids = collect_bounded(mids, ONE_ROW, "stream-join chunk cuts")[0]
        if mids.lo is None:
            cuts_us = [1704931200_000000, 1705795200_000000]  # Jan 11 / 21
        else:
            cuts_us = sorted({int(mids.lo), int(mids.hi)})
            if len(cuts_us) == 1:
                cuts_us.append(cuts_us[0] + 3_600_000_000)
        c0, c1 = (F.timestamp_micros(F.lit(c)) for c in cuts_us)
        return [ev.filter(F.col("ts") < c0),
                ev.filter((F.col("ts") >= c0) & (F.col("ts") < c1)),
                ev.filter(F.col("ts") >= c1)]

    return stage_chunks(spark, sf_dir, "events", "ssjoin_v2", n_bands, parts)


def view_purchase_attribution(
    spark: SparkSession,
    sf_dir: str,
    horizon_hours: int = 2,
    watermark: str = "48 hours",
) -> DataFrame:
    """Inner stream-stream join: every (view, purchase) pair of the same
    user with the purchase inside (view.ts, view.ts + horizon].

    The month replays as 3 chronological micro-batches, so pairs that
    straddle a chunk boundary are matched ONLY via buffered join state —
    a view from batch 0 must still be in the state store when its
    purchase arrives in batch 1.  The 48 h watermark exceeds the horizon,
    so no buffered view is evicted before its last possible partner; the
    result is therefore the complete batch interval join, which is the
    oracle.  (Production would tighten the watermark to arrival lag;
    completeness here is what makes the row checkable.)
    """
    # chunk materialization runs on the caller's session (batch writes);
    # the query plans on a clone.  After the last file-fed trigger an
    # INNER stream-stream join's no-data batch can only evict buffered
    # rows that no longer match, so skipping it cannot change the result
    d = _chronological_chunks(spark, sf_dir)
    ss = stream_clone(spark, d, skip_no_data=True)

    def side(kind: str, prefix: str) -> DataFrame:
        s = replay_stream(ss, d).filter(F.col("event_type") == kind)
        return s.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", watermark)

    views, purchases = side("view", "v"), side("purchase", "p")
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon_hours} HOURS")),
    ).select(
        F.col("v_user").alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
        F.round(
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")) / 60_000_000.0, 4
        ).alias("lag_min"),
    )
    # the memory-sink table lives in the clone's catalog and drains back
    # onto the CALLER's session; its size is the join output itself,
    # |views ⋈ purchases within horizon|, events-SF sized in every
    # catalog use. A production stream would swap the memory sink for
    # kafka/parquet and never materialize here.
    return run_memory_sink(joined, "append", spark)


def purchases_enriched_with_signup(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Stream-static enrichment join: the purchase stream joined to a
    STATIC per-user dimension (first signup time, read as a batch frame).

    Stream-static inner joins are stateless — each micro-batch probes the
    static side directly, so (unlike the stream-stream case) no watermark
    and no state store are involved; Spark broadcasts the dim under the
    join threshold exactly as in batch.  This completes the streaming
    join-mode matrix next to view_purchase_attribution.

    Scale: the static dim is |users| rows (pre-aggregated batch-side);
    refresh cadence is a deployment choice — re-plan the query to pick up
    a new snapshot, or swap to a Delta table the batch job upserts.
    """
    signup = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    stream = replay_stream(spark, _stream_dir(sf_dir)).filter(
        F.col("event_type") == "purchase")
    joined = stream.join(F.broadcast(signup), "user_id").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("signup_ts")) / 60_000_000.0, 4
        ).alias("min_since_signup"),
    )
    return run_memory_sink(joined, "append", spark)
