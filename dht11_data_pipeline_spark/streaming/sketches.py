"""Streaming mergeable sketches: ``foreachBatch`` → sketch partials.

Count-min and KMV are mergeable BY CONSTRUCTION (operators/sketches):
- count-min cells (j, bucket, cell_n) form a sum monoid — the sketch
  of a union is the cell-wise sum of the sketches;
- a KMV signature (bottom-k member hashes per set) merges as
  bottom-k of the union of signatures: every hash in the global
  bottom-k is in its own batch's bottom-k (fewer than k smaller
  hashes exist globally, so certainly within the batch).

So the continuous version follows the rollup LSM shape
(streaming/rollup.py): each micro-batch writes one partial under
``state_dir/<kind>/b<N>`` (mode=overwrite → checkpoint replay is
idempotent), and the merge-on-read view re-reduces the pile with the
SAME reduction the batch operator runs — parity is structural, and
pinned bit-for-bit in tests/test_streaming_sketches.py.

Per-batch cost is O(batch): history is never rescanned. Partial sizes
are sketch-sized, not data-sized — d·w cells for count-min, ≤ k rows
per set for KMV — so merge-on-read touches KB-scale state no matter
how much data streamed through. On a cluster the partials directory
becomes a Delta table and periodic compaction becomes OPTIMIZE; the
seams are identical to the rollup stream.

Estimation needs exact per-key truth next to the estimate (the
operator's contract: (key, true_n, cm_est, overcount)), and true
counts are themselves a sum monoid — kept as a second partial pile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.sketches import (
    CM_ROWS,
    CM_WIDTH,
    KMV_K,
    _cm_check_grid,
    cm_cells,
    cm_estimate,
    kmv_signatures,
)
from dht11_data_pipeline_spark.streaming.rollup import EVENT_SCHEMA
from dht11_data_pipeline_spark.streaming.runner import json_stream, start_batches


def start_countmin_stream(spark: SparkSession, source_path: str,
                          state_dir: str, checkpoint_dir: str,
                          key_col: str = "event_id",
                          d: int = CM_ROWS, w: int = CM_WIDTH
                          ) -> StreamingQuery:
    """readStream JSON-lines events → per-batch count-min cell partial
    + per-batch exact key-count partial."""
    _cm_check_grid(d, w)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.select(
            F.col(key_col).cast("bigint").alias("key"))
        cm_cells(keyed, d, w).write.mode("overwrite").parquet(
            f"{state_dir}/cm_cells/b{batch_id}")
        (keyed.groupBy("key").agg(F.count(F.lit(1)).alias("true_n"))
         .write.mode("overwrite").parquet(
             f"{state_dir}/cm_truth/b{batch_id}"))

    return start_batches(json_stream(spark, EVENT_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_countmin(spark: SparkSession, state_dir: str,
                     d: int = CM_ROWS, w: int = CM_WIDTH) -> DataFrame:
    """Merge-on-read count-min estimates — identical rows to
    ``countmin_frequencies`` over everything streamed so far: cell
    partials re-reduce by SUM, truth partials by SUM, then the shared
    ``cm_estimate`` probe runs on the merged sketch."""
    cells = (spark.read.option("recursiveFileLookup", "true")
             .parquet(f"{state_dir}/cm_cells")
             .groupBy("j", "bucket").agg(F.sum("cell_n").alias("cell_n")))
    truth = (spark.read.option("recursiveFileLookup", "true")
             .parquet(f"{state_dir}/cm_truth")
             .groupBy("key").agg(F.sum("true_n").alias("true_n")))
    return cm_estimate(cells, truth, d, w)


def start_kmv_stream(spark: SparkSession, source_path: str,
                     state_dir: str, checkpoint_dir: str,
                     set_col: str = "event_type",
                     member_col: str = "user_id", k: int = KMV_K
                     ) -> StreamingQuery:
    """readStream JSON-lines events → one KMV signature partial
    (set_key, mh: the batch's bottom-k per set) per micro-batch."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        kmv_signatures(batch_df, set_col, member_col, k) \
            .write.mode("overwrite").parquet(
                f"{state_dir}/kmv_sig/b{batch_id}")

    return start_batches(json_stream(spark, EVENT_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_kmv_signatures(spark: SparkSession, state_dir: str,
                           k: int = KMV_K) -> DataFrame:
    """Merge-on-read KMV signatures — identical rows to
    ``kmv_signatures`` over everything streamed so far: union the
    per-batch bottom-k piles, dedup (the same member in two batches
    hashes identically), re-take the bottom-k per set. The re-reduce
    IS ``kmv_signatures`` with the identity hash already applied, so
    the window/top-k code path is shared, not twinned."""
    from pyspark.sql.window import Window
    pile = (spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{state_dir}/kmv_sig")
            .select("set_key", "mh").distinct())
    w = Window.partitionBy("set_key").orderBy("mh")
    return (pile.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k).select("set_key", "mh"))
