"""Streaming content-defined-chunking dedup: the delta-dedup form of
``operators/dedup.cdc_chunk_stats`` for a corpus that grows batch by
batch (the shape a continuously-ingested training corpus has).

Each micro-batch is cut with the SAME boundary rule as the batch
operator (``operators/dedup.cdc_chunks`` — shared code, so the cut
points cannot drift), its (doc_id, chunk_hash) chunk rows are appended
to a batch-partitioned store, and a per-batch verdict is emitted for
the NEW documents: how many of their chars live in chunks already
seen — in any earlier batch, or in another document of the same batch.
Per-batch cost is one chunk scan of the batch plus one join of the
batch's chunk hashes against the store; nothing ever recomputes over
the full corpus.

Convergence invariant (tested): after the last batch,
``current_cdc_stats`` over the store equals ``cdc_chunk_stats`` over
the full corpus row for row. The per-batch ``dup_chunk_chars_so_far``
is a PREFIX verdict — it can only grow as later batches land (a chunk
unique today may be duplicated tomorrow), which is exactly the
semantics a delta-dedup gate needs: "is this document already covered
by what we have ingested so far".

Replays are idempotent: every write is a batch-keyed overwrite and a
batch excludes its own store partition from the store it probes
(``streaming/runner.prior_store``), so a redelivered batch reproduces
its original verdicts instead of self-matching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.dedup import (
    CDC_DIVISOR, CDC_WINDOW, cdc_chunks)
from dht11_data_pipeline_spark.streaming.runner import (
    json_stream, prior_store, start_batches)

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

def start_cdc_dedup_stream(spark: SparkSession, source_path: str,
                           state_dir: str, verdicts_dir: str,
                           checkpoint_dir: str,
                           window: int = CDC_WINDOW,
                           divisor: int = CDC_DIVISOR) -> StreamingQuery:
    """readStream JSON-lines documents → per-batch prefix dedup
    verdicts at ``verdicts_dir`` (doc_id, n_chunks, n_chars,
    dup_chunk_chars_so_far, partition batch=N) while growing the
    chunk store under ``state_dir/chunks``."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        chunks = cdc_chunks(batch_df, window=window,
                            divisor=divisor).localCheckpoint(eager=True)
        # a chunk of a NEW doc is already-covered if its hash exists in
        # the store under ANY doc, or under a DIFFERENT doc of this
        # batch (same-doc repeats don't make a doc a duplicate of
        # itself — matches the batch operator's countDistinct(doc_id))
        seen = prior_store(batch_df.sparkSession, f"{state_dir}/chunks",
                           "chunk_hash string", batch_id).distinct()
        n_batch_docs = F.count(F.lit(1)).over(
            Window.partitionBy("chunk_hash"))
        g = (chunks.groupBy("chunk_hash", "doc_id")
             .agg(F.sum("chunk_len").alias("chars"),
                  F.count(F.lit(1)).alias("k"),
                  F.first("n_chars").alias("n_chars"))
             .withColumn("n_batch_docs", n_batch_docs))
        flagged = (g.join(seen.withColumn("_seen", F.lit(1)),
                          "chunk_hash", "left")
                   .withColumn("dup_chars",
                               F.when((F.col("_seen") == 1)
                                      | (F.col("n_batch_docs") >= 2),
                                      F.col("chars")).otherwise(F.lit(0))))
        verdicts = (flagged.groupBy("doc_id")
                    .agg(F.sum("k").cast("bigint").alias("n_chunks"),
                         F.first("n_chars").cast("bigint").alias("n_chars"),
                         F.sum("dup_chars").cast("bigint")
                         .alias("dup_chunk_chars_so_far")))
        verdicts.write.mode("overwrite").parquet(
            f"{verdicts_dir}/batch={batch_id}")
        chunks.write.mode("overwrite").parquet(
            f"{state_dir}/chunks/batch={batch_id}")

    return start_batches(json_stream(spark, DOC_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_cdc_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Batch-equivalent per-doc CDC dedup stats as of the last
    committed batch: the same (chunk_hash, doc_id)-grain aggregation +
    per-hash count window + doc rollup as ``cdc_chunk_stats``, run
    over the accumulated chunk store instead of a fresh corpus scan.
    Converges to ``cdc_chunk_stats`` over the union of all batches."""
    chunks = spark.read.parquet(f"{state_dir}/chunks").select(
        "doc_id", "n_chars", "chunk_len", "chunk_hash")
    g = (chunks.repartition("chunk_hash")
         .groupBy("chunk_hash", "doc_id")
         .agg(F.sum("chunk_len").alias("chars"),
              F.count(F.lit(1)).alias("k"),
              F.first("n_chars").alias("n_chars")))
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("chunk_hash"))
    g = g.withColumn("dup_chars",
                     F.when(n_docs >= 2, F.col("chars")).otherwise(F.lit(0)))
    return (g.groupBy("doc_id")
            .agg(F.sum("k").cast("bigint").alias("n_chunks"),
                 F.first("n_chars").cast("bigint").alias("n_chars"),
                 F.sum("dup_chars").cast("bigint").alias("dup_chunk_chars"))
            .select(
                "doc_id", "n_chunks", "n_chars", "dup_chunk_chars",
                F.round(F.col("dup_chunk_chars") / F.col("n_chars"), 4)
                .alias("dup_ratio")))
