"""Stateful streaming (applyInPandasWithState) — streaming-vs-batch parity.

The correctness contract for arbitrary per-key state is that replaying
history through micro-batches yields bit-for-bit the same result as the
equivalent batch fold (SURVEY §7 M7)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _batch_fold(spark, sf_dir, alpha):
    """Driver-side pandas replay of the same order-sensitive fold."""
    from predictor_spark.sources.tables import load_table

    pdf = (
        load_table(spark, sf_dir, "events")
        .select("ts", "user_id", "value")
        .orderBy("user_id", "ts")
        .toPandas()
    )
    out = {}
    for row in pdf.itertuples():
        n, total, ema = out.get(row.user_id, (0, 0.0, 0.0))
        v = float(row.value)
        ema = v if n == 0 else (1.0 - alpha) * ema + alpha * v
        out[row.user_id] = (n + 1, total + v, ema)
    return out


def test_stateful_running_stats_matches_batch_fold(spark):
    from predictor_spark.streaming.stateful import stateful_running_stats

    got = {
        r["user_id"]: (r["n"], r["total"], r["ema"])
        for r in stateful_running_stats(spark, SF_DIR, alpha=0.2, n_chunks=3).collect()
    }
    want = _batch_fold(spark, SF_DIR, alpha=0.2)
    assert set(got) == set(want)
    for uid, (n, total, ema) in want.items():
        gn, gtotal, gema = got[uid]
        assert gn == n
        assert math.isclose(gtotal, total, rel_tol=0, abs_tol=1e-9)
        # EMA is replayed in identical order on both sides -> exact
        assert gema == ema, uid


def test_stream_chunk_dir_covers_all_rows(spark):
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.stateful import _chunked_stream_dir

    src = _chunked_stream_dir(spark, SF_DIR, n_chunks=3)
    n_stream = spark.read.parquet(src).count()
    n_batch = load_table(spark, SF_DIR, "events").count()
    assert n_stream == n_batch


def test_foreachbatch_inference_matches_batch_scoring(spark):
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.inference import stream_score_ar1

    cutoff = "2024-01-22 00:00:00"
    scored = stream_score_ar1(spark, SF_DIR, train_end=cutoff, n_chunks=3)
    # batch reference: same coefficients, same rows
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window
    base = ev.select(
        "user_id", "ts", "value",
        F.lead("value", 1).over(Window.partitionBy("user_id").orderBy("ts")).alias("t"),
    ).filter(F.col("t").isNotNull())
    coeffs = (
        base.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        .groupBy("user_id")
        .agg(F.regr_slope("t", "value").alias("slope"),
             F.regr_intercept("t", "value").alias("intercept"))
        .filter(F.col("slope").isNotNull())
    )
    batch = (
        ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
        .join(coeffs, "user_id")
        .withColumn("pred", F.col("intercept") + F.col("slope") * F.col("value"))
    )
    got = {(r["user_id"], r["ts"]): r["pred"] for r in scored.collect()}
    want = {(r["user_id"], r["ts"]): r["pred"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_drops_cross_batch_refetches(spark):
    """The chunked stream injects refetch duplicates of first-band docs
    into the LAST micro-batch; the deduped per-lang counts must equal the
    raw table's COUNT(DISTINCT text) — only possible if the dedup state
    survives across batches. Also pins that the injection is real (the
    stream carries strictly more rows than the table)."""
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.dedup import (
        _chunked_docs_dir, stream_dedup_unique_counts)

    d = _chunked_docs_dir(spark, SF_DIR)
    streamed = spark.read.parquet(f"{d}/chunk_0.parquet", f"{d}/chunk_1.parquet",
                                  f"{d}/chunk_2.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    n_raw, n_stream = docs.count(), streamed.count()
    assert n_stream > n_raw  # refetch rows really are in the stream
    # and they are true content duplicates of first-band docs (refetch
    # ids start past the real max id)
    hi = docs.agg(F.max("doc_id")).first()[0]
    dup_texts = streamed.filter(F.col("doc_id") > hi).select("text")
    assert dup_texts.count() == n_stream - n_raw
    orig = docs.select("text")
    assert dup_texts.exceptAll(orig).count() == 0

    got = {r["lang"]: r["n_unique"]
           for r in stream_dedup_unique_counts(spark, SF_DIR).collect()}
    want = {r["lang"]: r["n"]
            for r in docs.groupBy("lang").agg(
                F.count_distinct("text").alias("n")).collect()}
    assert got == want


def test_streaming_dedup_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the dedup stream after two micro-batches, then restart from
    its checkpoint with the third (duplicate-carrying) chunk now present:
    the restarted query must restore the dropDuplicates state store and
    still drop the refetches. If state were lost on restart, the per-lang
    counts would overcount by the injected duplicates."""
    import shutil

    from pyspark.sql import functions as F
    from predictor_spark.sources.tables import load_table
    from predictor_spark.streaming.dedup import _chunked_docs_dir

    chunks = _chunked_docs_dir(spark, SF_DIR)
    src = str(tmp_path / "arriving")
    ckpt = str(tmp_path / "ckpt")
    import os
    os.makedirs(src)
    shutil.copy(f"{chunks}/chunk_0.parquet", f"{src}/chunk_0.parquet")
    shutil.copy(f"{chunks}/chunk_1.parquet", f"{src}/chunk_1.parquet")

    schema = spark.read.parquet(f"{src}/chunk_0.parquet").schema

    def run(name):
        stream = (spark.readStream.schema(schema).format("parquet")
                  .option("maxFilesPerTrigger", 1).load(src))
        ded = stream.withColumn("h", F.md5("text")).dropDuplicates(["lang", "h"])
        agg = ded.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique"))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName(name).option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r["lang"]: r["n_unique"] for r in spark.table(name).collect()}

    partial = run("sdd_ckpt_a")          # chunks 0+1, then stop
    shutil.copy(f"{chunks}/chunk_2.parquet", f"{src}/chunk_2.parquet")
    final = run("sdd_ckpt_b")            # restart from checkpoint

    docs = load_table(spark, SF_DIR, "documents")
    want = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.count_distinct("text").alias("n")).collect()}
    assert final == want                  # refetches dropped across restart
    assert sum(partial.values()) < sum(final.values())  # run 1 really stopped early


def test_run_memory_sink_leaves_no_temp_view(spark, tmp_path):
    """The one memory-sink run-and-drain: rows come back as a local
    relation on the caller, no query keeps running, and neither the
    clone nor the caller session keeps the uuid-named sink view; a
    replay with too few micro-batches fails loudly after the drain."""
    import pytest

    from predictor_spark.streaming.windows import run_memory_sink

    src = tmp_path / "src"
    spark.range(0, 40, 1, 2).write.parquet(str(src))
    ss = spark.newSession()
    views_before = {t.name for t in spark.catalog.listTables()}
    stream = (ss.readStream.schema("id long").parquet(str(src))
              .groupBy((F.col("id") % 4).alias("k")).count())

    out = run_memory_sink(stream, "complete", spark)

    assert out.sparkSession is spark
    assert sorted((r.k, r["count"]) for r in out.collect()) == [
        (0, 10), (1, 10), (2, 10), (3, 10)]
    assert not [t for t in ss.catalog.listTables() if t.isTemporary]
    assert {t.name for t in spark.catalog.listTables()} == views_before
    assert not ss.streams.active

    with pytest.raises(AssertionError, match="micro-batches"):
        run_memory_sink(stream, "complete", spark, min_batches=3)
    assert not [t for t in ss.catalog.listTables() if t.isTemporary]
