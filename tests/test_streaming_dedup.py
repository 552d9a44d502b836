"""Streaming incremental dedup: union of per-batch pairs == one-shot
full-corpus run (each pair reported exactly once, by its later member's
batch)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import dedup
from dht11_data_pipeline_spark.streaming.dedup import start_minhash_dedup_stream


def test_streamed_pairs_equal_full_run(spark, tmp_path, sf_dir):
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect())
    src = str(tmp_path / "feed")
    os.makedirs(src)
    third = len(docs) // 3
    for i, chunk in enumerate([docs[:third], docs[third:2 * third],
                               docs[2 * third:]]):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    pairs_dir = str(tmp_path / "pairs")
    q = start_minhash_dedup_stream(
        spark, src, state_dir=str(tmp_path / "state"), pairs_dir=pairs_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.5)
    q.awaitTermination(300)

    streamed = spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "jaccard")
    full = dedup.minhash_near_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), threshold=0.5)
    assert streamed.count() > 0
    assert streamed.exceptAll(full).count() == 0
    assert full.exceptAll(streamed).count() == 0
    # no pair reported twice across batches
    assert streamed.groupBy("doc_a", "doc_b").count().filter("count > 1").count() == 0



def test_minhash_stream_replay_is_idempotent(spark, tmp_path, sf_dir):
    """Re-running a batch id must reproduce its original pairs: the
    batch reads the doc and signature stores without its own partition,
    so a redelivered document does not pair with its own copy."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect())
    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in docs:
            f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    state_dir = str(tmp_path / "state")
    pairs_dir = str(tmp_path / "pairs")
    q = start_minhash_dedup_stream(
        spark, src, state_dir=state_dir, pairs_dir=pairs_dir,
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    first = sorted(tuple(r) for r in
                   spark.read.parquet(pairs_dir).drop("batch").collect())
    assert first

    # simulate redelivery of batch 0: fresh checkpoint, same source,
    # same state/pairs dirs
    q2 = start_minhash_dedup_stream(
        spark, src, state_dir=state_dir, pairs_dir=pairs_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"))
    q2.awaitTermination(300)
    second = sorted(tuple(r) for r in
                    spark.read.parquet(pairs_dir).drop("batch").collect())
    assert first == second

def test_bloom_stream_matches_batch_operator(spark, tmp_path, sf_dir):
    """The streaming bloom-dedup state path (per-batch OR-merged word
    tables + hash store) emits exactly the verdicts the batch operator
    gives with store = union of all strictly-earlier batches; replayed
    identical content is flagged 'dup', first sightings are not."""
    from dht11_data_pipeline_spark.operators.dedup import bloom_probe_new_docs
    from dht11_data_pipeline_spark.streaming.dedup import start_bloom_dedup_stream

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").collect())
    # chunk 2 replays the first 50 docs under new ids (re-crawled
    # identical content) — these MUST come back 'dup'; it also carries
    # one WITHIN-batch duplicate (same text, two ids in the same
    # micro-batch) that the bloom store can't see — the intra-batch
    # hash window must flag the higher id 'dup'
    intra_dup_id = docs[300]["doc_id"] + 200_000
    chunks = [
        docs[0:150],
        docs[150:300],
        docs[300:400] + [{"doc_id": r["doc_id"] + 100_000, "text": r["text"]}
                         for r in docs[0:50]]
        + [{"doc_id": intra_dup_id, "text": docs[300]["text"]}],
    ]
    src = str(tmp_path / "feed")
    os.makedirs(src)
    for i, chunk in enumerate(chunks):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps({"doc_id": r["doc_id"],
                                    "text": r["text"]}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    verdicts_dir = str(tmp_path / "verdicts")
    q = start_bloom_dedup_stream(
        spark, src, state_dir=str(tmp_path / "state"),
        verdicts_dir=verdicts_dir, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    out = spark.read.parquet(verdicts_dir)  # batch partition column
    assert out.count() == sum(len(c) for c in chunks)

    # map each stream batch to its chunk by doc_id membership, then
    # compare against the batch operator with store = earlier chunks
    batch_ids = [r["batch"] for r in out.select("batch").distinct().collect()]
    chunk_ids = [frozenset(r["doc_id"] for r in c) for c in chunks]
    seen_rows: list = []
    order: dict[int, int] = {}
    for b in batch_ids:
        ids = frozenset(r["doc_id"] for r in
                        out.filter(F.col("batch") == b).select("doc_id").collect())
        order[b] = chunk_ids.index(ids)
    for b in sorted(batch_ids, key=lambda x: order[x]):
        i = order[b]
        store_rows = [r for j in range(i) for r in chunks[j]]
        store = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in store_rows] or [],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in chunks[i]],
            "doc_id long, text string")
        want = {(r["doc_id"], r["bloom_hit"], r["verdict"])
                for r in bloom_probe_new_docs(store, batch).collect()}
        # overlay the stream-only within-batch semantics: for texts
        # appearing twice in ONE chunk, every copy after the min doc_id
        # is 'dup' whatever the (earlier-batches-only) store said
        first_id: dict[str, int] = {}
        for r in chunks[i]:
            first_id[r["text"]] = min(first_id.get(r["text"], r["doc_id"]),
                                      r["doc_id"])
        intra = {r["doc_id"] for r in chunks[i]
                 if r["doc_id"] != first_id[r["text"]]}
        want = {(d, bh, "dup" if d in intra else v) for d, bh, v in want}
        got = {(r["doc_id"], r["bloom_hit"], r["verdict"])
               for r in out.filter(F.col("batch") == b)
               .select("doc_id", "bloom_hit", "verdict").collect()}
        assert got == want, f"batch {b} (chunk {i})"
        seen_rows += chunks[i]
    # the replayed-content docs plus the within-batch copy are exactly
    # the dup set
    dups = {r["doc_id"] for r in out.filter("verdict = 'dup'").collect()}
    assert dups == ({r["doc_id"] + 100_000 for r in docs[0:50]}
                    | {intra_dup_id})


def test_streamed_clusters_equal_one_shot(spark, tmp_path, sf_dir):
    """The continuous cluster-label store equals cluster_documents over
    the full corpus after all batches drain."""
    from dht11_data_pipeline_spark.operators.graph import cluster_documents
    from dht11_data_pipeline_spark.streaming.dedup import (
        current_labels, start_cluster_stream)

    full_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = full_docs.select("doc_id", "text").orderBy("doc_id").collect()
    src = str(tmp_path / "feed")
    os.makedirs(src)
    half = len(docs) // 2
    for i, chunk in enumerate([docs[:half], docs[half:]]):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps({"doc_id": r["doc_id"],
                                    "text": r["text"]}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    labels_dir = str(tmp_path / "labels")
    q = start_cluster_stream(
        spark, src, state_dir=str(tmp_path / "state"),
        labels_dir=labels_dir, checkpoint_dir=str(tmp_path / "ckpt"),
        threshold=0.5)
    q.awaitTermination(300)

    got = {r["node"]: r["cluster_id"]
           for r in current_labels(spark, labels_dir).collect()}
    want = {r["doc_id"]: r["cluster_id"]
            for r in cluster_documents(
                full_docs,
                dedup.minhash_near_duplicates(full_docs, threshold=0.5)
            ).collect()}
    assert got == want


def test_phash_stream_matches_batch_operator(spark, tmp_path, sf_dir):
    """Union of the streamed per-batch phash pairs == the one-shot
    mm_phash_near_dup run; every NEW doc matching earlier content is
    flagged near_dup."""
    from dht11_data_pipeline_spark.operators import multimodal
    from dht11_data_pipeline_spark.streaming.dedup import start_phash_dedup_stream

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").orderBy("doc_id").limit(180).collect())
    src = str(tmp_path / "feed")
    os.makedirs(src)
    third = len(docs) // 3
    for i, chunk in enumerate([docs[:third], docs[third:2 * third],
                               docs[2 * third:]]):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps({"doc_id": r["doc_id"],
                                    "text": r["text"]}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    pairs_dir = str(tmp_path / "pairs")
    verdicts_dir = str(tmp_path / "verdicts")
    q = start_phash_dedup_stream(
        spark, src, state_dir=str(tmp_path / "state"), pairs_dir=pairs_dir,
        verdicts_dir=verdicts_dir, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    streamed = spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "hamming")
    sub = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in docs], "doc_id long, text string")
    full = dedup.phash_hamming_pairs(multimodal.phash_payloads(
        multimodal.attach_image_payload(sub, width=32)))
    assert streamed.count() > 0
    assert streamed.exceptAll(full).count() == 0
    assert full.exceptAll(streamed).count() == 0
    assert streamed.groupBy("doc_a", "doc_b").count().filter("count > 1").count() == 0
    # verdicts: exactly the docs appearing as the later member are near_dup
    verdicts = spark.read.parquet(verdicts_dir)
    assert verdicts.count() == len(docs)
    dup_ids = {r["doc_id"] for r in verdicts
               .filter(F.col("status") == "near_dup").collect()}
    assert len(dup_ids) > 0
    # the later-ARRIVING member of every pair is flagged; micro-batch
    # file order is not guaranteed to follow doc ids (same-mtime files
    # can reorder), so assert the order-agnostic form: at least one
    # member of every pair carries the near_dup verdict
    for r in full.collect():
        assert r["doc_a"] in dup_ids or r["doc_b"] in dup_ids
