"""Structured Streaming operators (SURVEY §2.9: the reference has NO
streaming — this is the engine's extension surface, §7 M7).

Pattern: readStream(parquet) -> event-time windowed aggregation with
watermark -> memory/foreachBatch sink. In production the source is
Kafka/files-on-arrival and the sink is an idempotent foreachBatch writer;
the parquet-driven variant here exercises the identical logical plan
synchronously (processAllAvailable) so a batch oracle can check it.

This module is the one replay path every streaming row uses:
:func:`stage_chunks` writes a table's bands as ordered ``chunk_i.parquet``
files under a fingerprint-keyed /tmp dir (``_stream_dir`` serves the raw
events table instead: its own directory, or a link to its one file),
:func:`replay_stream` reads such a dir back one file per micro-batch,
:func:`stream_clone` gives the query its own session and
:func:`run_memory_sink` drains the result onto the caller.

Scale: stateful agg state is partitioned by (window, group key); the
watermark bounds state size to (max event lag / window slide) windows per
key — without it, 100 TB of stream history would pin unbounded state.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from predictor_spark.operators.localrel import collect_bounded, local_df
from predictor_spark.sources.tables import (
    canonical_ts, fixture_dir, load_table, new_generation, read_nanos_as_long)

# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def stage_chunks(spark: SparkSession, sf_dir: str, table: str, tag: str,
                 n: int, parts: Callable[[], list[DataFrame]]) -> str:
    """Directory of ``n`` single-file chunks ``chunk_0..n-1.parquet``
    derived from ``table``, with modification times increasing in chunk
    order so a ``maxFilesPerTrigger=1`` replay delivers them as ordered
    micro-batches.

    The directory is keyed by ``tag``, ``n`` and the table's content
    fingerprint (a regenerated table never serves stale chunks, ADVICE
    r3).  A complete directory is returned as is, without a Spark job;
    otherwise it is cleared, its older generations are removed, and
    ``parts()`` — called only then, so a row's cut-point collect stays
    lazy — gives the ``n`` bands, each written as one file."""
    d = fixture_dir(sf_dir, table, f"{tag}/{n}")
    if len(glob.glob(f"{d}/chunk_*.parquet")) == n:
        return d
    new_generation(d)
    bands = parts()
    if len(bands) != n:
        raise ValueError(f"{tag}: {len(bands)} bands for {n} chunks")
    t0 = time.time()
    for i, band in enumerate(bands):
        tmp = f"{d}/__tmp_{i}"
        band.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = f"{d}/chunk_{i}.parquet"
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + i, t0 + i))
    return d


def _stream_dir(sf_dir: str) -> str:
    """FileStreamSource requires a DIRECTORY source.  A directory-form
    events table is one already and is returned as is; a single-file
    table gets (once) a /tmp dir holding a symlink to it."""
    table = f"{sf_dir}/events.parquet"
    if os.path.isdir(table):
        return table
    d = fixture_dir(sf_dir, "events", "link")
    link = f"{d}/events.parquet"
    if not os.path.exists(link):
        new_generation(d)
        os.makedirs(d, exist_ok=True)
        os.symlink(table, link)
    return d


def replay_stream(ss: SparkSession, src: str) -> DataFrame:
    """readStream over the parquet files in ``src``, one file per
    micro-batch in modification-time order, ``ts`` canonicalized exactly
    like the batch path (sources/tables.py canonical_ts).

    FileStreamSource needs an explicit schema.  Chunk files from
    :func:`stage_chunks` are Spark-written and carry their Spark schema
    in the parquet footer, read driver-side without a job; a raw
    generator table (a :func:`_stream_dir` source, whose physical
    timestamp layout has changed across rounds) is resolved by Spark's
    own footer read under nanosAsLong, the way load_table reads it.

    ``ss`` may be a per-query clone from :func:`stream_clone` — the
    stream then plans under the clone's conf."""
    import pyarrow.parquet as pq

    first = sorted(glob.glob(f"{src}/*.parquet"))[0]
    spark_schema = (pq.read_schema(first).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is not None:
        schema = T.StructType.fromJson(json.loads(spark_schema))
    else:
        read_nanos_as_long(ss)
        schema = ss.read.parquet(first).schema
    return canonical_ts(
        ss.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src))


def stream_clone(spark: SparkSession, src: str,
                 skip_no_data: bool) -> SparkSession:
    """Per-query session clone for a synchronous streaming run over the
    parquet files in ``src`` (r14, guide §1.2/§2.2 — the pattern
    measured on streaming_stream_join):

    - state-store width = spark.sql.shuffle.partitions is captured at
      query start, and the caller session's batch width (local: one per
      core) over-parallelizes the per-batch state-store tasks of these
      bounded replays.  Auto-size from the source row count (parquet
      FOOTER read, no job): one partition per ~50k rows, clamped to
      [8, 32] — sf0.1 gets 8, larger SFs widen, and on a cluster the
      same rule tracks input size.  Cloning (own SQLConf, shared
      SparkContext) keeps the caller's batch conf untouched.
    - ``skip_no_data=True`` disables the trailing NO-DATA micro-batch.
      Only pass it for queries where that batch provably emits nothing:
      complete-mode aggregations re-emit unchanged state (the final
      data batch already produced the full table) and inner
      stream-stream joins only evict.  APPEND-mode windowed aggs MUST
      keep it — the last watermark advance is what flushes their final
      closed windows."""
    import pyarrow.parquet as pq

    ss = spark.newSession()
    n_rows = sum(pq.ParquetFile(p).metadata.num_rows
                 for p in glob.glob(f"{src}/*.parquet"))
    ss.conf.set("spark.sql.shuffle.partitions",
                str(min(32, max(8, n_rows // 50_000))))
    if skip_no_data:
        ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                    "false")
    return ss


# from the data: the drain copies the sink's rows into Python and back
# into a local relation.  The largest sink, streaming_session_windows,
# emits ~955,000 rows per SF (946 / 9,549 / 95,465 at sf0.001 / 0.01 /
# 0.1), so this bound is first hit past SF ~52; the next largest,
# streaming_static_enrichment, ~200,000 rows per SF, past SF ~250
SINK_MAX_ROWS = 5_000_000


def run_memory_sink(stream: DataFrame, mode: str, caller: SparkSession,
                    min_batches: int = 0) -> DataFrame:
    """Run ``stream`` to completion into a memory sink and drain it.

    The query starts on the stream's own session (a per-query clone
    from :func:`stream_clone`, or the caller itself) under a uuid name
    in output mode ``mode``; ``processAllAvailable`` drives it
    synchronously and the query stops in ``finally``.  The sink's temp
    view is then dropped, so no uuid-named table outlives the call, and
    the rows come back as a local relation on ``caller``: everything
    downstream plans under the caller's conf.  The drain is one Spark
    job over the sink's rows, which already sit on the driver.

    ``min_batches``: fail loudly when the source delivered fewer
    micro-batches (a multi-batch replay that collapsed into one
    trigger no longer exercises cross-batch state)."""
    ss = stream.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.outputMode(mode).format("memory")
         .queryName(name).start())
    try:
        try:
            q.processAllAvailable()
            n_batches = len(q.recentProgress)
        finally:
            q.stop()
        rows = collect_bounded(ss.table(name), SINK_MAX_ROWS,
                               f"memory sink {name}")
    finally:
        ss.catalog.dropTempView(name)
    if n_batches < min_batches:
        raise AssertionError(
            f"expected >={min_batches} micro-batches, got {n_batches}")
    return local_df(caller, rows, stream.schema)


def tumbling_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts/sums per event_type, driven to
    completion synchronously and returned as a batch DataFrame.

    Uses outputMode('complete') + memory sink so every window (including
    ones the watermark hasn't closed) is emitted — matching the batch
    oracle GROUP BY date_trunc."""
    src = _stream_dir(sf_dir)
    ss = stream_clone(spark, src, skip_no_data=True)  # complete: re-emit only
    stream = replay_stream(ss, src)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total_value")
    )
    return run_memory_sink(agg, "complete", spark)


def sessionized_stream_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """session_window (gap-based) per user — the streaming analog of the
    batch sessionize operator. Returns per-user session counts."""
    src = _stream_dir(sf_dir)
    ss = stream_clone(spark, src, skip_no_data=True)  # complete: re-emit only
    stream = replay_stream(ss, src)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        run_memory_sink(agg, "complete", spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
    )


def _late_drop_chunks(spark: SparkSession, sf_dir: str) -> str:
    """The three files :func:`late_data_drop_counts` replays: everything
    before Jan 19 except the Jan 10-12 band, the Jan 19-24 filler, then
    the remainder plus the band."""
    def parts() -> list[DataFrame]:
        ev = load_table(spark, sf_dir, "events")
        band = (F.col("ts") >= F.lit("2024-01-10").cast("timestamp")) & \
               (F.col("ts") < F.lit("2024-01-12").cast("timestamp"))
        early = F.col("ts") < F.lit("2024-01-19").cast("timestamp")
        mid = (~early) & (F.col("ts") < F.lit("2024-01-24").cast("timestamp"))
        late = F.col("ts") >= F.lit("2024-01-24").cast("timestamp")
        return [ev.filter(early & ~band), ev.filter(mid),
                ev.filter(late | band)]

    return stage_chunks(spark, sf_dir, "events", "late_drop_v2", 3, parts)


def late_data_drop_counts(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermark LATE-DATA-DROP semantics, deterministically replayable
    (COVERAGE r2 open note): the events table is split into three
    chronologically-processed files — (0) everything before Jan 19 EXCEPT
    the Jan 10-12 band, (1) a Jan 19-24 filler, (2) the remainder PLUS the
    band as late stragglers. After file 0 the watermark stands at
    max(file-0 event time) - 2h (~Jan 18) and file 1's batch EVICTS every
    pre-Jan-18 window from the state store; when the band then arrives in
    batch 2 its hour-windows are already finalized, so Spark drops every
    band row (observable as numRowsDroppedByWatermark). The filler batch
    is load-bearing: a late row whose window is evicted in the SAME batch
    it would have been dropped in still gets aggregated and emitted —
    eviction happens at end-of-batch, so dropping starts one batch later.
    Append mode then emits only windows the final watermark has closed.
    The batch oracle replays exactly that rule.

    Scale: the drop predicate is evaluated row-local against the
    broadcast watermark — no extra shuffle; state is bounded by
    (watermark / window) open windows per key, which is the entire point
    of watermarking at 100 TB."""
    # append mode: the trailing no-data batch flushes the final closed
    # windows, so ONLY the state width is tuned — never skip_no_data here
    src = _late_drop_chunks(spark, sf_dir)
    stream = replay_stream(stream_clone(spark, src, skip_no_data=False), src)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total_value")
    )
    return run_memory_sink(agg, "append", spark)


def sliding_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window_len: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """OVERLAPPING (sliding) event-time windows: window(ts, 2h, 1h) —
    every event lands in TWO windows, the state store keys on
    (window, event_type) exactly like tumbling but with len/slide copies
    per row.  Completes the window-type matrix (tumbling / session /
    sliding).

    Scale: state per key is bounded by (watermark / slide) open windows;
    the map-side expansion factor is len/slide — the knob that trades
    freshness granularity against state size at 100 TB/day rates."""
    src = _stream_dir(sf_dir)
    ss = stream_clone(spark, src, skip_no_data=True)  # complete: re-emit only
    stream = replay_stream(ss, src)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n",
                "total_value")
    )
    return run_memory_sink(agg, "complete", spark)
