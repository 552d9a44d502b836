"""The micro-batch runner every file-fed stream in this package shares.

The reference micro-batches by hand: a daily cron polls the Firebase
subtree and filters it on the previous run's timestamp
(STG_Firebase2Oracle.py:52-58, Airflow-DAG.py:39). Here the file
source, the checkpoint and the ``availableNow`` drain replace that, and
the policy lives in this one module:

- ``json_stream``: the file source — a declared schema (no inference
  pass) and at most ``max_files_per_trigger`` files per micro-batch;
- ``start_batches``: the ``foreachBatch`` sink — checkpointed, drains
  everything currently in the source and stops (the cron-batch
  replacement), and skips empty micro-batches;
- ``prior_store``: a batch-partitioned state store (``batch=N``) as
  micro-batch N must see it — every partition except its own, so a
  replayed batch (crash between sink write and checkpoint commit)
  probes exactly the state its first run probed instead of matching
  its own rows.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException


def json_stream(spark: SparkSession, schema: T.StructType | str, path: str,
                max_files_per_trigger: int | None = 1) -> DataFrame:
    """File-source stream of JSON lines under ``path``; ``None`` lets
    one micro-batch take every file present."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def start_batches(stream: DataFrame,
                  process: Callable[[DataFrame, int], None],
                  checkpoint_dir: str) -> StreamingQuery:
    """Run ``process(batch_df, batch_id)`` on every non-empty
    micro-batch of ``stream`` until the source is drained."""

    # wraps: keep process's __module__, which perfbench's traced run
    # reads to attribute a sink's time to its layer
    @functools.wraps(process)
    def _nonempty(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        process(batch_df, batch_id)

    return (stream.writeStream.foreachBatch(_nonempty)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def prior_store(spark: SparkSession, path: str, schema: str,
                batch_id: int) -> DataFrame:
    """The ``schema`` columns of the ``batch=N``-partitioned store at
    ``path``, minus partition ``batch_id``; an empty frame before the
    first batch has written it."""
    try:
        store = spark.read.parquet(path)
    except AnalysisException:  # first batch: store not created yet
        return spark.createDataFrame([], schema)
    cols = [f.split()[0] for f in schema.split(",")]
    return store.filter(F.col("batch") != batch_id).select(*cols)
