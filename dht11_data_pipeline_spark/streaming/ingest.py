"""Structured Streaming ingest of the sensor feed — the streaming twin
of ``sources/firebase_tree`` (reference S1+N1+P1).

The reference polls the whole Firebase subtree once a day on a cron
(Airflow-DAG.py:39 ``30 09 * * *``) and filters client-side on the
previous run's timestamp (STG_Firebase2Oracle.py:52-58) — hand-rolled
micro-batching. Spark-native, the feed is a stream: each new reading
(or file of readings) arrives as a JSON line; ``readStream`` assigns
it to a micro-batch, the checkpoint replaces the control-table cursor,
and ``withWatermark`` replaces the manual ``Timestamp >=`` filter
(SURVEY §2.9 T1).

Scale: the file source lists and splits input in parallel; schema is
fixed (no inference pass); the typed projection is narrow — no shuffle
until an aggregation asks for one. A production deployment would swap
the directory for a Kafka topic — same downstream code, the source is
the only line that changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dht11_data_pipeline_spark.sources.firebase_tree import EPOCH_SENTINEL
from dht11_data_pipeline_spark.streaming.runner import json_stream

# one reading per JSON line: the flattened leaf record plus its device —
# what a Firebase change-feed / Kafka bridge would emit per update
READING_SCHEMA = T.StructType([
    T.StructField("device_id", T.StringType()),
    T.StructField("TimeZone", T.StringType()),
    T.StructField("Humidity", T.StringType()),
    T.StructField("Temperature", T.StringType()),
    T.StructField("Timestamp", T.StringType()),
])


def read_reading_stream(spark: SparkSession, path: str,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of JSON-line readings (micro-batch per file
    group). ``maxFilesPerTrigger`` bounds batch size — the streaming
    analogue of the reference's one-day batch window; the default
    ``None`` puts every file present in one micro-batch."""
    return json_stream(spark, READING_SCHEMA, path, max_files_per_trigger)


def typed_readings(raw: DataFrame, watermark: str | None = "1 hour") -> DataFrame:
    """Apply the reference's sentinel defaulting + typing to a reading
    stream (missing field → 'N/A'/epoch, STG_Firebase2Oracle.py:57,80-83)
    and declare the event-time watermark (replaces the manual
    ``Timestamp >= prev_run_ts`` cursor, SURVEY §2.9 T1)."""
    out = raw.select(
        "device_id",
        F.coalesce(F.col("TimeZone"), F.lit("N/A")).alias("timezone"),
        F.coalesce(F.col("Humidity"), F.lit("N/A")).alias("humidity"),
        F.coalesce(F.col("Temperature"), F.lit("N/A")).alias("temperature"),
        F.to_timestamp(
            F.coalesce(F.col("Timestamp"), F.lit(EPOCH_SENTINEL)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts"),
    )
    if watermark is not None:
        out = out.withWatermark("ts", watermark)
    return out


def deduplicated_readings(readings: DataFrame) -> DataFrame:
    """In-stream duplicate drop on the natural key (device_id, ts).

    The reference tolerates re-reads by delete+reload of landing plus
    the SCD2 hash no-op (SURVEY §2.9 T2 'overlap-and-overwrite');
    streaming-native, ``dropDuplicates`` within the watermark makes the
    transport exactly-once *before* the sink, and state is bounded by
    the watermark horizon (old keys age out — no unbounded state)."""
    return readings.dropDuplicates(["device_id", "ts"])


def observed_readings(readings: DataFrame, name: str = "ingest_metrics"):
    """Attach zero-cost inline metrics to the reading flow via the
    Observation API: rows, epoch-sentinel count (missing Timestamp —
    the reference's '1970-01-01' default, STG_Firebase2Oracle.py:57),
    and non-numeric sensor values. The metrics ride the existing job
    (observe() adds an accumulator, NOT a second pass/scan — unlike a
    separate audit aggregation) and surface per-batch through
    ``StreamingQueryListener``/``lastProgress`` in streams, or through
    the returned Observation in batch mode.

    Returns (observed_df, observation_or_None): on a streaming
    DataFrame, observe() takes just the name (read metrics from query
    progress); on a batch frame it takes an Observation handle.
    """
    from pyspark.sql import Observation

    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ts") == F.lit(EPOCH_SENTINEL).cast("timestamp"),
                     1).otherwise(0)).alias("n_epoch_sentinel"),
        F.sum(F.when(F.col("humidity").try_cast("double").isNull()
                     & (F.col("humidity") != "N/A"), 1).otherwise(0)
              ).alias("n_bad_humidity"),
    ]
    if readings.isStreaming:
        return readings.observe(name, *metrics), None
    obs = Observation(name)
    return readings.observe(obs, *metrics), obs
