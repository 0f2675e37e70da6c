"""Custom stateful streaming operator — applyInPandasWithState
(SURVEY §7 M7: the reference has no streaming; this is the engine's
custom-stateful extension, the streaming analog of the reference's
running Welford moments, predictor_plugins/common/bayesian.py:70-130).

``stateful_running_stats`` keeps (count, total, EMA) per user across
micro-batches: arbitrary per-key state that outlives any window — the
thing watermarked window aggs canNOT express. The recursion
``ema = (1-a)*ema + a*x`` is order-sensitive, so the harness feeds the
stream as time-quartile files processed chronologically (one per
micro-batch via maxFilesPerTrigger=1) and the operator sorts each batch
by event time; the DuckDB oracle replays the identical left-to-right
fold with list_reduce, so values match bit-for-bit.

Scale: state lives in the state store partitioned by user key — bounded
by |keys| x state width (3 numbers), not by stream length; each
micro-batch shuffles only its own rows to their key partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from predictor_spark.operators.localrel import ONE_ROW, collect_bounded
from predictor_spark.sources.tables import load_table
from predictor_spark.streaming.windows import (
    replay_stream, run_memory_sink, stage_chunks, stream_clone)


def _chunked_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    cols: tuple[str, ...] = ("ts", "user_id", "value"),
) -> str:
    """Split the events table into ``n_chunks`` time-range parquet files in
    a /tmp dir, modification times increasing with time range, so the
    FileStreamSource replays history chronologically one file per trigger."""
    def parts() -> list[DataFrame]:
        ev = load_table(spark, sf_dir, "events").select(*cols)
        # time cut points via percentile on epoch micros (driver receives
        # n_chunks-1 numbers; at 100 TB swap in approxQuantile the same way)
        row = ev.select(
            F.percentile(F.unix_micros("ts"), F.array(*[
                F.lit(i / n_chunks) for i in range(1, n_chunks)
            ])).alias("qs")
        )
        row = collect_bounded(row, ONE_ROW, "stream chunk cuts")[0]
        cuts = [int(q) for q in row["qs"]]
        out = []
        for a, b in zip([None] + cuts, cuts + [None]):
            part = ev
            if a is not None:
                part = part.filter(F.unix_micros("ts") > a)
            if b is not None:
                part = part.filter(F.unix_micros("ts") <= b)
            out.append(part)
        return out

    return stage_chunks(spark, sf_dir, "events",
                        f"events_chunks/{','.join(cols)}", n_chunks, parts)


_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
    T.StructField("ema", T.DoubleType()),
])
_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
    T.StructField("ema", T.DoubleType()),
])


def stateful_running_stats(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = 0.2,
    n_chunks: int = 4,
) -> DataFrame:
    """Per-user running (count, total, EMA) carried across micro-batches in
    the state store; emits the updated state each batch, returns the final
    state per user after the stream drains."""
    from predictor_spark.shiplib import ensure_workers_can_import

    ensure_workers_can_import(spark)
    src = _chunked_stream_dir(spark, sf_dir, n_chunks)
    # r14: per-query clone with footer-auto-sized state width (guide
    # §2.2 — the caller's per-core batch width over-parallelizes the
    # per-batch python-worker state tasks of this bounded replay).
    # skip_no_data is safe HERE because the state uses NoTimeout: a
    # no-data batch has no input groups and no timed-out state, so the
    # update function is never invoked and nothing can be emitted.
    ss = stream_clone(spark, src, skip_no_data=True)

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total, ema = state.get if state.exists else (0, 0.0, 0.0)
        # materialize + sort ONCE per group: a key's micro-batch rows can
        # span multiple Arrow chunks, and sorting each chunk independently
        # would fold the order-sensitive EMA out of global time order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            allpdf = pd.concat(chunks).sort_values("ts") if len(chunks) > 1 else chunks[0].sort_values("ts")
            for v in allpdf["value"].to_numpy():
                v = float(v)
                ema = v if n == 0 else (1.0 - alpha) * ema + alpha * v
                n += 1
                total += v
        state.update((n, total, ema))
        yield pd.DataFrame([{"user_id": key[0], "n": n, "total": total, "ema": ema}])

    upd = replay_stream(ss, src).groupBy("user_id").applyInPandasWithState(
        update, _OUT_SCHEMA, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
    # one emission per (user, batch); the final state has the max n
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        run_memory_sink(upd, "update", spark)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .drop("__r")
    )
