"""Streaming weighted_keep twin: fed the true corpus max as the
declared ceiling, the stream keeps the IDENTICAL subset the batch
operator keeps (exact row parity), restarts are idempotent, and the
ceiling precondition is enforced."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import curation
from dht11_data_pipeline_spark.streaming.curation import (
    start_weighted_keep_stream, weighted_keep_stream)


def _write_feed(tmp_path, rows, n_batches=3):
    src = str(tmp_path / "feed")
    os.makedirs(src)
    per = (len(rows) + n_batches - 1) // n_batches
    for i in range(n_batches):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in rows[i * per:(i + 1) * per]:
                f.write(json.dumps(r) + "\n")
        # the file source orders by mtime (ms resolution): files written
        # within one millisecond would reach the batches in listing order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return src


def test_weighted_keep_stream_matches_batch(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = curation.weighted_keep(docs, F.length("text"),
                                   rate_ppm=500_000)
    expected = {tuple(r) for r in batch.collect()}
    w_max = max(w for (_, w, *_rest) in expected)

    rows = [{"doc_id": r["doc_id"], "weight": len(r["text"])}
            for r in docs.select("doc_id", "text").collect()]
    src = _write_feed(tmp_path, rows)
    out = str(tmp_path / "out")
    q = start_weighted_keep_stream(
        spark, src, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"), w_max=w_max)
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == expected

    # restart over the fully-consumed feed: no duplicate emission
    q2 = start_weighted_keep_stream(
        spark, src, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"), w_max=w_max)
    q2.awaitTermination(300)
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == expected


def test_weighted_keep_stream_is_pure_projection(spark):
    """The same transform applied to a BATCH frame equals the batch
    operator when the ceiling is the true max — the drift-proofing
    contract behind the shared gate projection."""
    df = spark.createDataFrame(
        [(i, (i * 7) % 23 + 1) for i in range(200)],
        "doc_id long, weight long")
    via_stream_form = weighted_keep_stream(df, w_max=23, rate_ppm=300_000)
    via_batch = curation.weighted_keep(df, F.col("weight"),
                                       rate_ppm=300_000)
    assert ({tuple(r) for r in via_stream_form.collect()}
            == {tuple(r) for r in via_batch.collect()})


def test_weighted_keep_stream_enforces_ceiling(spark):
    df = spark.createDataFrame([(1, 10), (2, 99)],
                               "doc_id long, weight long")
    with pytest.raises(Exception, match="weighted_keep_stream"):
        weighted_keep_stream(df, w_max=50).collect()
    with pytest.raises(ValueError, match="ceiling"):
        weighted_keep_stream(df, w_max=0)


def test_cluster_balanced_stream_matches_batch(spark, tmp_path, sf_dir):
    """Fed the batch pass's own centroids and quota map, the stateless
    stream gate keeps the identical subset (true stream run over a
    JSON-lines feed, then the pure-projection form)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.operators.kmeans import (
        select_centroids)
    from dht11_data_pipeline_spark.streaming.curation import (
        cluster_balanced_stream)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = curation.cluster_balanced_sample(emb, k=20,
                                             budget_ppm=400_000)
    expected = {(r["vec_id"], r["cluster_id"], r["keep_ppm"],
                 r["keep_flag"]) for r in batch.collect()}
    quotas = {r["cluster_id"]: r["keep_ppm"] for r in
              batch.select("cluster_id", "keep_ppm").distinct().collect()}
    cents = select_centroids(emb, 20)

    # pure-projection parity on the batch frame
    got = {tuple(r) for r in
           cluster_balanced_stream(emb, cents, quotas).collect()}
    assert got == expected

    # true micro-batched stream over a parquet feed
    feed = str(tmp_path / "feed")
    emb.repartition(3).write.parquet(feed)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(feed))
    out = str(tmp_path / "out")
    q = (cluster_balanced_stream(src, cents, quotas)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got_stream = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got_stream == expected


def test_cluster_balanced_stream_rejects_uncovered_cluster(spark):
    import pytest

    from dht11_data_pipeline_spark.streaming.curation import (
        cluster_balanced_stream)

    df = spark.createDataFrame([(1, [0.9, 0.9]), (2, [-0.9, -0.9])],
                               "vec_id long, embedding array<float>")
    cents = [(1, [1.0, 1.0]), (2, [-1.0, -1.0])]
    with pytest.raises(Exception, match="no quota"):
        cluster_balanced_stream(df, cents, {1: 500_000}).collect()
    with pytest.raises(ValueError, match="quota map"):
        cluster_balanced_stream(df, cents, {})


def test_oov_rate_stream_matches_batch(spark, tmp_path, sf_dir):
    """Fed the batch pass's own top-V vocabulary, the stateless stream
    audit emits the identical per-doc rows — projection parity AND a
    true availableNow stream run."""
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.operators.ranking import (
        global_row_number)
    from dht11_data_pipeline_spark.operators.textops import oov_rate
    from dht11_data_pipeline_spark.streaming.textops import (
        oov_rate_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = oov_rate(docs, vocab_size=20)
    expected = {tuple(r) for r in batch.collect()}

    # reproduce the batch vocab cut exactly (count DESC, token)
    toks = docs.selectExpr(
        "explode(filter(split(text, ' '), t -> t != '')) AS token")
    types = toks.groupBy("token").count()
    vocab = [r["token"] for r in
             global_row_number(types, [F.col("count").desc(),
                                       F.col("token")], "rk")
             .filter("rk <= 20").collect()]

    got = {tuple(r) for r in
           oov_rate_stream(docs.select("doc_id", "text"), vocab)
           .collect()}
    assert got == expected

    feed = str(tmp_path / "feed")
    docs.select("doc_id", "text").repartition(3).write.parquet(feed)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(feed))
    out = str(tmp_path / "out")
    q = (oov_rate_stream(src, vocab)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == expected


def test_oov_rate_stream_rejects_empty_vocab(spark):
    import pytest

    from dht11_data_pipeline_spark.streaming.textops import (
        oov_rate_stream)

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="vocabulary"):
        oov_rate_stream(df, [])


def test_source_temperature_stream_matches_batch(spark, tmp_path, sf_dir):
    """Fed the batch pass's own per-source rates as the declared mix,
    the stateless stream gate keeps the identical subset — run once as
    a true stream over a JSON-lines feed, once as a batch projection."""
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.streaming.curation import (
        source_temperature_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = curation.source_temperature_sample(docs, tau=2,
                                               rate_ppm=500_000)
    rates = {r["source"]: r["keep_ppm"] for r in
             batch.select("source", "keep_ppm").distinct().collect()}
    want = {(r["doc_id"], r["source"], r["keep_ppm"], r["keep_flag"])
            for r in batch.select("doc_id", "source", "keep_ppm",
                                  "keep_flag").collect()}
    assert any(r["keep_flag"] == "N"
               for r in batch.collect())  # non-vacuous gate

    rows = [{"doc_id": r["doc_id"], "source": r["source"]}
            for r in docs.select("doc_id", "source").collect()]
    src = _write_feed(tmp_path, rows)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("source", T.StringType())])
    out_dir = str(tmp_path / "out")
    gated = source_temperature_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src), rates)
    q = (gated.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got == want

    # unknown source raises; empty / out-of-range maps refuse
    bad = spark.createDataFrame([(1, "nosuch")], "doc_id long, source string")
    with pytest.raises(Exception, match="no declared rate"):
        source_temperature_stream(bad, rates).collect()
    with pytest.raises(ValueError, match="non-empty"):
        source_temperature_stream(bad, {})
    with pytest.raises(ValueError, match="ppm"):
        source_temperature_stream(bad, {"a": 2_000_000})


def test_dsir_keep_stream_matches_batch(spark, tmp_path, sf_dir):
    """The declared-model DSIR gate == the batch score→keep composition
    (cur_dsir_resample: textops.dsir_weights ∘ curation.weighted_keep)
    when fed the batch pass's own bucket table and observed score max —
    completing stream==batch parity for the full DSIR stage."""
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.operators import textops
    from dht11_data_pipeline_spark.streaming.curation import dsir_keep_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = (textops.dsir_weights(docs, target_col="lang", target_value="en")
         .select("doc_id", "score_ppm"))
    batch = curation.weighted_keep(w, F.col("score_ppm"), rate_ppm=500_000)
    want = {tuple(r) for r in batch.collect()}
    w_max = max(r["weight"] for r in batch.collect())

    ratios = {r["bucket"]: r["ratio_ppm"] for r in
              textops.dsir_bucket_stats(docs, target_col="lang",
                                        target_value="en").collect()}
    rows = [{"doc_id": r["doc_id"], "text": r["text"], "lang": r["lang"]}
            for r in docs.select("doc_id", "text", "lang").collect()]
    src = _write_feed(tmp_path, rows)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("lang", T.StringType())])
    out_dir = str(tmp_path / "out")
    gated = dsir_keep_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src),
        ratios, w_max=w_max, rate_ppm=500_000)
    q = (gated.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got == want
    assert any(r[-1] == "N" for r in want)  # the gate actually gates

    # precondition guards: ceiling range, ratio range, unseen bucket
    with pytest.raises(ValueError, match="ceiling"):
        dsir_keep_stream(docs, ratios, w_max=0)
    with pytest.raises(ValueError, match="ratios"):
        dsir_keep_stream(docs, {0: 2_000_000})
    # an empty table must refuse cleanly (ValueError), not fall
    # through to a NullType map_from_arrays analysis error (ADVICE r10)
    with pytest.raises(ValueError, match="non-empty"):
        dsir_keep_stream(docs, {})
    import hashlib

    lone = spark.createDataFrame([(1, "zq zr")], "doc_id long, text string")
    b = int(hashlib.sha256("dsir1\x1fzq zr".encode()).hexdigest()[:8],
            16) % 128
    with pytest.raises(Exception, match="no declared ratio"):
        dsir_keep_stream(lone, {(b + 1) % 128: 0}, w_max=10).collect()


def test_quality_gate_stream_matches_batch(spark, tmp_path, sf_dir):
    """The declared-weights quality classifier is stateless by design,
    so the streaming twin IS the batch projection — pin that the two
    produce the identical verdict set when the corpus arrives as a
    file stream in batches."""
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.operators import textops
    from dht11_data_pipeline_spark.streaming.curation import (
        quality_gate_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = textops.declared_weight_buckets(textops.QUALITY_WORD_WEIGHTS_V1)
    want = {tuple(r) for r in textops.quality_classifier_score(
        docs, w, threshold_milli=25).collect()}
    assert any(r[-1] == "Y" for r in want)   # the gate keeps some
    assert any(r[-1] == "N" for r in want)   # ... and rejects some

    rows = [{"doc_id": r["doc_id"], "text": r["text"]}
            for r in docs.select("doc_id", "text").collect()]
    src = _write_feed(tmp_path, rows)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    out_dir = str(tmp_path / "out")
    gated = quality_gate_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src),
        w, threshold_milli=25)
    q = (gated.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got == want

    # precondition guards shared with the batch operator
    with pytest.raises(ValueError, match="non-empty"):
        quality_gate_stream(docs, {})
    with pytest.raises(ValueError, match="outside"):
        quality_gate_stream(docs, {999: 5}, buckets=128)


def test_source_divergence_stream_matches_batch(spark, tmp_path, sf_dir):
    """Streaming per-source drift monitor vs the batch declared-profile
    operator: per micro-batch, the stream emits exactly the batch
    audit rows for that batch's documents; a restart over the consumed
    feed re-emits nothing (partition-overwrite idempotency)."""
    from dht11_data_pipeline_spark.operators.textops import (
        REFERENCE_UNIGRAM_PPM_V1, source_divergence_declared)
    from dht11_data_pipeline_spark.streaming.curation import (
        start_source_divergence_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text")
    rows = [r.asDict() for r in docs.collect()]
    n_batches = 3
    src = _write_feed(tmp_path, rows, n_batches=n_batches)
    out = str(tmp_path / "div_out")
    q = start_source_divergence_stream(
        spark, src, out_dir=out,
        checkpoint_dir=str(tmp_path / "div_ckpt"),
        ref_ppm=REFERENCE_UNIGRAM_PPM_V1)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    per = (len(rows) + n_batches - 1) // n_batches
    for i in range(n_batches):
        chunk = rows[i * per:(i + 1) * per]
        if not chunk:
            continue
        bdf = spark.createDataFrame(chunk, docs.schema)
        expected = {tuple(r) for r in source_divergence_declared(
            bdf, REFERENCE_UNIGRAM_PPM_V1).collect()}
        batch_rows = {tuple(r) for r in got.filter(F.col("batch_id") == i)
                      .drop("batch_id").collect()}
        assert batch_rows == expected, f"batch {i}"

    q2 = start_source_divergence_stream(
        spark, src, out_dir=out,
        checkpoint_dir=str(tmp_path / "div_ckpt"),
        ref_ppm=REFERENCE_UNIGRAM_PPM_V1)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == got.count()

    # deploy-time validation fires before any query starts
    with pytest.raises(ValueError, match="non-empty"):
        start_source_divergence_stream(
            spark, src, out_dir=out,
            checkpoint_dir=str(tmp_path / "div_ckpt2"), ref_ppm={})


def test_bpe_encode_stream_matches_batch(spark, sf_dir):
    """Fed the batch pass's own learned merges as the declared
    artifact, the stream-form encoder reproduces bpe_encode row for
    row — the frozen-tokenizer deployment loop is closed."""
    from dht11_data_pipeline_spark.operators.textops import (
        bpe_encode, bpe_vocab)
    from dht11_data_pipeline_spark.streaming.textops import (
        bpe_encode_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = [(r["pair"], r["merged"])
             for r in bpe_vocab(docs, k=6).orderBy("merge_rank").collect()]
    batch = {tuple(r) for r in bpe_encode(docs, k=6).collect()}
    stream_form = {tuple(r) for r in bpe_encode_stream(
        docs.select("doc_id", "text"), rules).collect()}
    assert stream_form == batch

    with pytest.raises(ValueError, match="merge-rule"):
        bpe_encode_stream(docs, [])


def test_contamination_gate_stream_matches_batch(spark, tmp_path, sf_dir):
    """The declared-artifact contamination gate is a pure projection
    (array_intersect against the published flagged-gram set), so the
    streaming twin IS the batch operator — pin that a file-streamed
    corpus produces the identical verdict set, and that the artifact
    is validated at the deployment seam."""
    from pyspark.sql import types as T

    from dht11_data_pipeline_spark.operators import textops
    from dht11_data_pipeline_spark.streaming.curation import (
        contamination_gate_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the audit publishes the artifact: every cross-source-band gram
    flagged = sorted({r["gram"] for r in
                      textops.contamination_index(docs)
                      .select("gram").distinct().collect()})
    assert flagged, "sf0.001 corpus must witness cross-source grams"
    feed_cols = docs.select("doc_id", "source", "text")
    want = {tuple(r) for r in textops.contamination_gate_declared(
        feed_cols, flagged).collect()}
    assert any(r[-1] == "QUARANTINE" for r in want)
    assert any(r[-1] == "PASS" for r in want)

    rows = [r.asDict() for r in feed_cols.collect()]
    src = _write_feed(tmp_path, rows)
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("source", T.StringType()),
                           T.StructField("text", T.StringType())])
    out_dir = str(tmp_path / "gate_out")
    gated = contamination_gate_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src), flagged)
    q = (gated.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    assert got == want

    # deploy-time artifact validation, shared with the batch operator
    with pytest.raises(ValueError, match="non-empty"):
        contamination_gate_stream(docs, [])
    with pytest.raises(ValueError, match="space-separated"):
        contamination_gate_stream(docs, ["too short"])


def test_contamination_gate_declared_matches_audit_form(spark, sf_dir):
    """Fed the audit's own flagged-gram set as the declared artifact,
    the projection gate reproduces the audit gate row for row — the
    publish→gate deployment loop is closed (the bpe_encode_stream
    contract, round-12 verdict item 5)."""
    from dht11_data_pipeline_spark.operators import textops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = textops.contamination_index(docs)
    flagged = sorted({r["gram"] for r in
                      index.select("gram").distinct().collect()})
    audit = {tuple(r) for r in
             textops.contamination_gate(docs, index=index).collect()}
    declared = {tuple(r) for r in textops.contamination_gate_declared(
        docs, flagged).collect()}
    assert declared == audit
