"""Streaming model inference via foreachBatch — the M7 closing piece
(SURVEY §7: "foreachBatch inference").

Pattern: train in batch (per-series AR(1) coefficients, one aggregate
pass), then score an incoming stream by broadcast-joining the tiny
coefficient table onto each micro-batch inside ``foreachBatch`` and
appending scored rows to the sink. This is the canonical
Structured-Streaming serving topology: the model is a DataFrame, scoring
is a projection, and each micro-batch costs one broadcast join — no
Python loop, no state store.

The stream replays the events table chronologically (time-chunk files,
one per trigger — streaming/stateful.py harness), so results are
deterministic and equal to batch scoring, which is what the oracle
checks.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from predictor_spark.operators.localrel import collect_bounded
from predictor_spark.sources.tables import load_table
from predictor_spark.streaming.stateful import _chunked_stream_dir
from predictor_spark.streaming.windows import replay_stream, run_memory_sink

# from the data: one model blob per series is broadcast to every
# executor (~2 KB for a 1-layer TCN, so ~400 MB at the bound); series are
# users, 15,000 per SF in the generator, so the bound is hit past SF ~13
STORE_MAX_SERIES = 200_000


def stream_score_ar1(
    spark: SparkSession,
    sf_dir: str,
    train_end: str = "2024-01-22 00:00:00",
    n_chunks: int = 4,
) -> DataFrame:
    """Fit AR(1) per user on the train slice (batch), then score every
    held-out event from a chronological stream via foreachBatch broadcast
    joins. Returns the scored rows (user_id, ts, event_type, value, pred).
    """
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.stateful import _chunked_stream_dir

    cutoff = F.lit(train_end).cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "ts", "value",
        F.lead("value", 1).over(
            Window.partitionBy("user_id").orderBy("ts")
        ).alias("target"),
    ).filter(F.col("target").isNotNull())
    # cached (r14, guide §5): the foreachBatch closure broadcast-joins
    # coeffs in EVERY micro-batch — lazy, each of the n_chunks batches
    # re-ran the train scan + lead window + regression aggregate; the
    # cache is |users| rows, fills once in batch 0 and is released once
    # the stream has stopped
    coeffs = (
        base.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.regr_slope("target", "value").alias("slope"),
            F.regr_intercept("target", "value").alias("intercept"),
        )
        .filter(F.col("slope").isNotNull())
        .cache()
    )

    src = _chunked_stream_dir(spark, sf_dir, n_chunks,
                              cols=("ts", "user_id", "value", "event_type"))
    stream = replay_stream(spark, src).filter(F.col("ts") >= cutoff)
    out_dir = tempfile.mkdtemp(prefix=f"stream_score_{uuid.uuid4().hex[:8]}_")

    def score(batch_df: DataFrame, batch_id: int) -> None:
        scored = (
            batch_df.join(F.broadcast(coeffs), "user_id")
            .withColumn("pred", F.col("intercept") + F.col("slope") * F.col("value"))
            .select("user_id", "ts", "event_type", "value", "pred")
        )
        scored.write.mode("append").parquet(out_dir)

    try:
        q = stream.writeStream.foreachBatch(score).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # materialized: the result reads only out_dir, removed below
        return spark.read.parquet(out_dir).localCheckpoint()
    finally:
        coeffs.unpersist()
        shutil.rmtree(out_dir, ignore_errors=True)


def stream_score_model(
    spark: SparkSession,
    sf_dir: str,
    store: DataFrame,
    core=None,
    n_chunks: int = 4,
) -> DataFrame:
    """Deep-model streaming inference with WINDOW STATE: score a live
    series stream with per-series models from the registry store
    (models/registry.fit_per_series), keeping the last ``window - 1``
    values per key in the state store so windows can span micro-batch
    boundaries — the piece foreachBatch broadcast joins cannot express
    (AR(1) above needs only the current row; a windowed deep model needs
    history).

    Topology: the store is collected and BROADCAST (weights are a few KB
    per series; a store beyond executor memory would shard serving by
    key range instead); the stream shuffles each micro-batch once on the
    series key; state is bounded by |keys| x (window - 1) doubles. Each
    arriving row with a complete history window is scored exactly once,
    bit-identical to batch predict_from_weights on the same data
    (pinned by tests/test_registry.py).
    """
    import numpy as np
    import pandas as pd

    from predictor_spark.models import nbeats
    from predictor_spark.models.estimator import normalize
    from predictor_spark.models.registry import deserialize_params
    from predictor_spark.shiplib import ensure_workers_can_import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    core = core if core is not None else nbeats
    ensure_workers_can_import(spark)
    rows = collect_bounded(store.select("user_id", "params"),
                           STORE_MAX_SERIES, "model store")
    blob_map = {r["user_id"]: bytes(r["params"]) for r in rows}
    if not blob_map:
        raise ValueError("empty model store")
    _, stats0 = deserialize_params(next(iter(blob_map.values())))
    hs = tuple(int(h) for h in stats0["horizons"])
    b_store = spark.sparkContext.broadcast(blob_map)

    src = _chunked_stream_dir(spark, sf_dir, n_chunks)

    out_fields = [T.StructField("user_id", T.LongType()),
                  T.StructField("ts", T.TimestampType()),
                  T.StructField("value", T.DoubleType())]
    out_fields += [T.StructField(f"pred_h{h}", T.DoubleType()) for h in hs]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([
        T.StructField("buf", T.ArrayType(T.DoubleType()))])

    def update(key, pdfs, state: GroupState):
        sid = int(key[0])
        blob = b_store.value.get(sid)
        chunks = [p for p in pdfs if len(p)]
        if blob is None or not chunks:
            # still consume the group; no model -> no output, no state
            return
        params, stats = deserialize_params(blob)
        window = int(stats["window"])
        mu, sd = float(stats["mu"]), float(stats["sd"])
        allpdf = (pd.concat(chunks).sort_values("ts")
                  if len(chunks) > 1 else chunks[0].sort_values("ts"))
        new_v = allpdf["value"].to_numpy(np.float64)
        buf = np.array(state.get[0], dtype=np.float64) if state.exists \
            else np.empty(0)
        seq = np.concatenate([buf, new_v])
        # plain Python floats: the JVM state pickler rejects numpy scalars
        state.update(([float(x) for x in seq[-(window - 1):]]
                      if window > 1 else [],))
        if len(seq) >= window:
            X = np.lib.stride_tricks.sliding_window_view(seq, window)
            ends = np.arange(window - 1, len(seq))
            new_mask = ends >= len(buf)     # rows that arrived THIS batch
            if new_mask.any():
                preds = core.predict(params, normalize(X[new_mask], stats), hs)
                e = ends[new_mask] - len(buf)
                out = {"user_id": sid, "ts": allpdf["ts"].iloc[e],
                       "value": new_v[e]}
                for h in hs:
                    out[f"pred_h{h}"] = preds[h] * sd + mu
                yield pd.DataFrame(out)

    upd = replay_stream(spark, src).groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return run_memory_sink(upd, "update", spark)
