"""Continuous graph maintenance: ``foreachBatch`` → incremental
triangle counts and connected-component labels.

Unlike the mergeable sketches (streaming/sketches.py), wedge counts
are NOT a monoid over edge batches — a triangle closed by edges from
three different batches belongs to none of their partials. The
continuous version is therefore a stateful FOLD: each micro-batch
folds its new edges into the maintained (edge set, per-node triangle
counts) state with the SAME ``update_triangle_counts`` delta operator
the batch pipeline uses (operators/graph.py), whose cost is
Σ deg(batch endpoints) — independent of the accumulated graph's full
wedge volume. That per-batch delta cost is the entire point of
maintaining counts between batches instead of recomputing.

State layout under ``state_dir``:
  edges/b<N>/   the batch's TRULY-NEW canonical edges (after the
                anti-join against everything accumulated before it)
  counts/b<N>/  the complete per-node count table AFTER folding batch N

Replay safety: a restarted batch N re-reads only partials with id < N
(its own torn leftovers are ignored and overwritten), and
``update_triangle_counts`` anti-joins redelivered edges, so the fold
is idempotent — pinned in tests/test_streaming_graph.py. Reads pick
the LATEST counts table, so merge-on-read is one directory listing +
one parquet scan of an O(|V|)-row table. On a cluster the two piles
become txlog-managed tables (operators/txlog.py) and the listing a
manifest read; the seams are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.graph import (
    _canonical_edges,
    triangle_counts,
    update_triangle_counts,
)
from dht11_data_pipeline_spark.streaming.runner import json_stream, start_batches

EDGE_SCHEMA = "id_a bigint, id_b bigint"


def _partials(state_dir: str, kind: str, below: int | None = None) -> list[str]:
    """Batch partial dirs under state_dir/kind, optionally only ids
    strictly below ``below`` (replay safety: a restarted batch must not
    see its own torn leftovers as prior state)."""
    root = os.path.join(state_dir, kind)
    if not os.path.isdir(root):
        return []
    # Sort NUMERICALLY by batch id: lexicographic listing puts b10
    # before b2, so "latest" (dirs[-1]) would stick at b9 forever once
    # ids reach double digits, silently losing every fold after it
    # (round-6 ADVICE, high).  Pinned by an 11-batch parity test.
    found: list[tuple[int, str]] = []
    for name in os.listdir(root):
        if not name.startswith("b"):
            continue
        try:
            bid = int(name[1:])
        except ValueError:
            continue
        if below is not None and bid >= below:
            continue
        found.append((bid, os.path.join(root, name)))
    return [path for _, path in sorted(found)]


def _read_pile(spark: SparkSession, paths: list[str],
               schema: str) -> DataFrame:
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def start_triangle_stream(spark: SparkSession, source_path: str,
                          state_dir: str, checkpoint_dir: str) -> StreamingQuery:
    """readStream JSON-lines edges (id_a, id_b) → maintained per-node
    triangle counts, one ``update_triangle_counts`` fold per batch."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        old = _read_pile(spark, _partials(state_dir, "edges", batch_id),
                         "x bigint, y bigint")
        counts_dirs = _partials(state_dir, "counts", batch_id)
        batch = _canonical_edges(batch_df, "id_a", "id_b", False)
        d = batch.join(old, ["x", "y"], "left_anti").persist()
        if counts_dirs:
            prev = spark.read.schema(
                "node bigint, n_triangles bigint").parquet(counts_dirs[-1])
            new_counts = update_triangle_counts(
                prev,
                old.withColumnRenamed("x", "id_a")
                   .withColumnRenamed("y", "id_b"),
                d.withColumnRenamed("x", "id_a")
                 .withColumnRenamed("y", "id_b"),
                assume_canonical=True)
        else:
            new_counts = triangle_counts(
                d.withColumnRenamed("x", "id_a")
                 .withColumnRenamed("y", "id_b"),
                assume_canonical=True)
        new_counts.write.mode("overwrite").parquet(
            f"{state_dir}/counts/b{batch_id}")
        d.write.mode("overwrite").parquet(f"{state_dir}/edges/b{batch_id}")
        d.unpersist()

    return start_batches(json_stream(spark, EDGE_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_triangle_counts(spark: SparkSession,
                            state_dir: str) -> DataFrame:
    """The maintained per-node triangle counts after every batch folded
    so far — equal to ``triangle_counts`` over the union of all edges
    streamed (pinned in tests)."""
    dirs = _partials(state_dir, "counts")
    return _read_pile(spark, dirs[-1:], "node bigint, n_triangles bigint")


def start_components_stream(spark: SparkSession, source_path: str,
                            state_dir: str, checkpoint_dir: str) -> StreamingQuery:
    """readStream JSON-lines edges → maintained (node, cluster_id)
    dedup-cluster labels, one ``update_components`` fold per batch.

    Even lighter state than the triangle stream: the label table IS
    the state (a star-shaped edge set with identical connectivity —
    the contraction argument in operators/graph.update_components), so
    no edge pile accumulates; per-batch cost is O(|labels| + |batch|)
    regardless of how many edges ever streamed. Replay is idempotent:
    folding an already-folded batch leaves connectivity (and min-member
    cluster ids) unchanged."""
    from dht11_data_pipeline_spark.operators.graph import (
        connected_components,
        update_components,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = batch_df.select(F.col("id_a").alias("doc_a"),
                                F.col("id_b").alias("doc_b"))
        label_dirs = _partials(state_dir, "labels", batch_id)
        if label_dirs:
            prev = spark.read.schema(
                "node bigint, cluster_id bigint").parquet(label_dirs[-1])
            new_labels = update_components(prev, pairs)
        else:
            new_labels = connected_components(pairs)
        new_labels.write.mode("overwrite").parquet(
            f"{state_dir}/labels/b{batch_id}")

    return start_batches(json_stream(spark, EDGE_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_components(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained labels after every batch folded so far — equal to
    ``connected_components`` over the union of all streamed edges."""
    dirs = _partials(state_dir, "labels")
    return _read_pile(spark, dirs[-1:], "node bigint, cluster_id bigint")
