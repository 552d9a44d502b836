"""Streaming continuous aggregate: partial-per-batch sink, merge-on-
read, LSM compaction, and checkpoint-resume idempotency."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.rollup import read_rollup, rollup_batch
from dht11_data_pipeline_spark.sources.tables import load_table
from dht11_data_pipeline_spark.streaming import rollup as SR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_feed(spark, sf_dir, src):
    """sf0.001 events as 3 JSON files (one micro-batch each)."""
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id", "event_type", "value",
    ).collect()
    for i in range(3):
        with open(os.path.join(src, f"f{i}.json"), "w") as f:
            for r in ev:
                if r["event_id"] % 3 == i:
                    f.write(json.dumps(r.asDict()) + "\n")
    return len(ev)


def _expected(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.to_timestamp(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("ts"),
        "user_id", "event_type", "value",
    ).withColumn("day", F.date_trunc("day", "ts").cast("date").cast("string"))
    return read_rollup(rollup_batch(ev, SR.DEFAULT_KEYS))


def test_stream_rollup_equals_batch_recompute(spark, sf_dir, tmp_path):
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_feed(spark, sf_dir, src)
    q = SR.start_rollup_stream(spark, src, state, ckpt)
    q.awaitTermination(120)
    # one partial directory per micro-batch (maxFilesPerTrigger=1)
    parts = [d for d in os.listdir(os.path.join(state, "partials")) if d.startswith("b")]
    assert len(parts) == 3, parts
    assert _rows(SR.current_rollup(spark, state)) == _rows(_expected(spark, sf_dir))

    # compaction folds the pile into one flat generation, same answer
    SR.compact_rollup(spark, state)
    assert not any(d.startswith("b") for d in os.listdir(os.path.join(state, "partials")))
    assert _rows(SR.current_rollup(spark, state)) == _rows(_expected(spark, sf_dir))

    # checkpoint resume with no new data: no new partials, same answer
    q2 = SR.start_rollup_stream(spark, src, state, ckpt)
    q2.awaitTermination(60)
    assert _rows(SR.current_rollup(spark, state)) == _rows(_expected(spark, sf_dir))


def test_post_compaction_batches_coexist(spark, sf_dir, tmp_path):
    """New micro-batches after a compaction nest beside the flat
    generation and the recursive merge-on-read sees both."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id", "event_type", "value",
    ).collect()
    half = [r for r in ev if r["event_id"] % 2 == 0]
    rest = [r for r in ev if r["event_id"] % 2 == 1]
    with open(os.path.join(src, "f0.json"), "w") as f:
        for r in half:
            f.write(json.dumps(r.asDict()) + "\n")
    q = SR.start_rollup_stream(spark, src, state, ckpt)
    q.awaitTermination(120)
    SR.compact_rollup(spark, state)
    with open(os.path.join(src, "f1.json"), "w") as f:
        for r in rest:
            f.write(json.dumps(r.asDict()) + "\n")
    q2 = SR.start_rollup_stream(spark, src, state, ckpt)
    q2.awaitTermination(120)
    assert _rows(SR.current_rollup(spark, state)) == _rows(_expected(spark, sf_dir))


def test_empty_batch_writes_no_partial(spark, tmp_path):
    """An empty feed file is a micro-batch with no rows: the runner
    skips it, so only the one-row file's batch leaves a partial."""
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    os.makedirs(src)
    row = {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7,
           "event_type": "click", "value": 1.5}
    for i, lines in enumerate([[], [row]]):
        path = os.path.join(src, f"f{i}.json")
        with open(path, "w") as f:
            for r in lines:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    q = SR.start_rollup_stream(spark, src, state, ckpt)
    q.awaitTermination(120)
    assert sorted(os.listdir(os.path.join(state, "partials"))) == ["b1"]
    assert SR.current_rollup(spark, state).count() == 1

def test_streamed_affinity_equals_batch(spark, sf_dir, tmp_path):
    """Item-item affinity over the continuously-maintained count
    matrix must equal the one-shot batch affinity over all events —
    the monoid-merge argument, end to end through the stream."""
    from dht11_data_pipeline_spark.operators.cooccur import item_affinity

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    _write_feed(spark, sf_dir, src)
    q = SR.start_rollup_stream(spark, src, state, ckpt,
                               keys=["user_id", "event_type"])
    q.awaitTermination(120)
    streamed = SR.affinity_over_rollup(spark, state)
    batch = item_affinity(load_table(spark, sf_dir, "events"))
    assert _rows(streamed) == _rows(batch)
