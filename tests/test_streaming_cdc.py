"""Streaming CDC chunk dedup: the accumulated chunk store converges to
the batch operator (current_cdc_stats == cdc_chunk_stats over the full
corpus), per-batch verdicts are prefix-correct, and replays are
idempotent."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import dedup
from dht11_data_pipeline_spark.streaming.cdc import (
    current_cdc_stats, start_cdc_dedup_stream)


def _write_feed(tmp_path, chunks):
    src = str(tmp_path / "feed")
    os.makedirs(src)
    for i, chunk in enumerate(chunks):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps({"doc_id": r["doc_id"],
                                    "text": r["text"]}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return src


def test_cdc_stream_converges_to_batch_operator(spark, tmp_path, sf_dir):
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect())
    third = len(docs) // 3
    # batch 3 re-crawls 30 earlier docs under new ids so cross-batch
    # duplicate chunks certainly exist
    replayed = [{"doc_id": r["doc_id"] + 100_000, "text": r["text"]}
                for r in docs[:30]]
    chunks = [docs[:third], docs[third:2 * third],
              list(docs[2 * third:]) + replayed]

    src = _write_feed(tmp_path, chunks)
    state_dir = str(tmp_path / "state")
    q = start_cdc_dedup_stream(
        spark, src, state_dir=state_dir,
        verdicts_dir=str(tmp_path / "verdicts"),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    corpus = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for c in chunks for r in c],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in current_cdc_stats(spark, state_dir).collect()}
    want = {r["doc_id"]: r for r in dedup.cdc_chunk_stats(corpus).collect()}
    assert set(got) == set(want)
    for k in want:
        assert tuple(got[k]) == tuple(want[k]), k

    # prefix verdicts: every replayed doc is fully covered by the store
    # (all of its chunks were seen in batches 1-2), and dup counts per
    # doc can only be <= the final (full-corpus) count
    verd = spark.read.parquet(str(tmp_path / "verdicts"))
    rep = {r["doc_id"]: r for r in
           verd.filter(F.col("doc_id") >= 100_000).collect()}
    assert len(rep) == len(replayed)
    for r in rep.values():
        assert r["dup_chunk_chars_so_far"] == r["n_chars"]
    for r in verd.collect():
        assert r["dup_chunk_chars_so_far"] <= want[r["doc_id"]]["dup_chunk_chars"]

    # one verdict row per non-empty doc, exactly once across batches
    assert verd.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert verd.count() == corpus.filter(F.length("text") > 0).count()


def test_cdc_stream_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch id must reproduce its original verdicts: the
    probe excludes the batch's own store partition, so a redelivered
    document does not match its own chunks."""
    from dht11_data_pipeline_spark.streaming.cdc import DOC_SCHEMA  # noqa: F401

    docs = [{"doc_id": i, "text": f"replay idempotency probe text {i} " * 8}
            for i in range(20)]
    src = _write_feed(tmp_path, [docs])
    state_dir = str(tmp_path / "state")
    verdicts_dir = str(tmp_path / "verdicts")
    q = start_cdc_dedup_stream(
        spark, src, state_dir=state_dir, verdicts_dir=verdicts_dir,
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    first = sorted(tuple(r) for r in
                   spark.read.parquet(verdicts_dir).drop("batch").collect())

    # simulate redelivery of batch 0: fresh checkpoint, same source,
    # same state/verdict dirs — the foreachBatch body must overwrite
    # its own partitions and not self-match
    q2 = start_cdc_dedup_stream(
        spark, src, state_dir=state_dir, verdicts_dir=verdicts_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"))
    q2.awaitTermination(300)
    second = sorted(tuple(r) for r in
                    spark.read.parquet(verdicts_dir).drop("batch").collect())
    assert first == second
