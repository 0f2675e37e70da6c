"""Streaming content deduplication — the ingest-time counterpart of the
batch dedup family (operators/dedup.py): exact first-seen-wins dedup on a
content hash, with state carried ACROSS micro-batches.

SURVEY §2.9: the reference has no streaming; this is the engine's
extension surface. At ingest, dedup-before-land is the cheapest point to
kill exact duplicates (refetches, mirror copies) — every byte dropped
here never touches the 100 TB store.

Scale notes:
- dropDuplicates keys on (lang, md5(text)) — 16 bytes of state per
  distinct document, partitioned by key across executors.
- Content-dedup state is inherently unbounded on an unbounded stream:
  production either TTLs it (dropDuplicatesWithinWatermark against an
  arrival-time column, trading exactness for bounded state) or periodic
  state-store compaction against the batch exact-dedup keep list. The
  synchronous parquet-driven form here is finite, so plain
  dropDuplicates is exact.
- The downstream per-lang aggregate makes the output order-independent
  (a SET cardinality), so the result is deterministic even though WHICH
  physical duplicate survives depends on batch arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from predictor_spark.operators.localrel import ONE_ROW, collect_bounded
from predictor_spark.sources.tables import load_table
from predictor_spark.streaming.windows import (
    replay_stream, run_memory_sink, stage_chunks, stream_clone)


def _chunked_docs_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 3) -> str:
    """Split documents into n_chunks files by doc_id band so the
    FileStreamSource (maxFilesPerTrigger=1) delivers multiple micro-batches,
    and inject "refetch" duplicates into the LAST chunk — copies of every
    10th first-band document under fresh doc_ids. The generator's corpus
    has (almost) no exact duplicate texts, so without the injection the
    dedup would be a no-op; with it, first-seen-wins must drop rows whose
    original arrived two micro-batches earlier, proving the state store
    carries across batches."""
    def parts() -> list[DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        # band over the ACTUAL id range, not [0, count): offset or sparse
        # doc_ids (e.g. the synthesized sf1 replicas) must still land every
        # row in exactly one chunk
        lo, hi = collect_bounded(docs.agg(F.min("doc_id"), F.max("doc_id")),
                                 ONE_ROW, "stream-dedup doc_id range")[0]
        span = int(hi) - int(lo) + 1
        band = max(1, (span + n_chunks - 1) // n_chunks)
        # refetch ids start past max(doc_id) so they can never collide
        # with a genuine document id
        refetch = (
            docs.filter((F.col("doc_id") < lo + band) & (F.col("doc_id") % 10 == 0))
            .withColumn("doc_id", F.col("doc_id") - F.lit(int(lo)) + F.lit(int(hi) + 1))
        )
        out = [
            docs.filter(
                (F.col("doc_id") >= lo + i * band)
                & ((F.col("doc_id") < lo + (i + 1) * band) | F.lit(i == n_chunks - 1))
            ).filter(F.col("doc_id") <= hi)
            for i in range(n_chunks)
        ]
        out[-1] = out[-1].unionByName(refetch)
        return out

    return stage_chunks(spark, sf_dir, "documents", "docs_chunks_v3",
                        n_chunks, parts)


def stream_dedup_unique_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-wins exact dedup on (lang, md5(text)) over a multi-batch
    documents stream, then per-lang distinct-content counts. Returns the
    batch DataFrame of (lang, n_unique) — equal to batch
    COUNT(DISTINCT text) per lang, which is the oracle."""
    d = _chunked_docs_dir(spark, sf_dir)
    # complete-mode downstream agg: the trailing no-data batch re-emits
    # unchanged state, so it is skipped; state width footer-auto-sized
    stream = replay_stream(stream_clone(spark, d, skip_no_data=True), d)
    ded = stream.withColumn("h", F.md5("text")).dropDuplicates(["lang", "h"])
    agg = ded.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    # the multi-batch contract is load-bearing for the cross-batch-state
    # claim; fail loudly if the source collapsed into one trigger
    return run_memory_sink(agg, "complete", spark, min_batches=3)
