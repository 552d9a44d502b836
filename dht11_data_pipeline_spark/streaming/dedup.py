"""Streaming near-duplicate detection: the incremental minhash
operator in its production home.

Each micro-batch of documents is checked against everything ingested
before it (operators/dedup.minhash_incremental_pairs: sketch only the
batch, band-join vs the signature store, verify by point lookups) and
then appended to the store. Every state/output write is keyed by
``batch=<id>`` with per-partition overwrite, and every store read
leaves out the batch's own partition (``streaming/runner.prior_store``),
so a replayed batch neither matches its own documents nor duplicates
rows — the same idempotency-by-batch-key discipline as the reference's
load_key ledger (STG_to_INT.py:16-20) and our foreachBatch SCD2 sink.

Pair-completeness invariant (tested): a duplicate pair is emitted by
exactly one batch — the one where its later member arrives — so the
union of all batches' pairs equals the one-shot run over the full
corpus. At 100 TB the store is a table (Delta/Iceberg in production;
hive-partitioned parquet here) and per-batch cost is independent of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.dedup import (
    minhash_incremental_pairs, minhash_signature)
from dht11_data_pipeline_spark.streaming.runner import (
    json_stream, prior_store, start_batches)

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

# Must track minhash_signature's output type: since the 1-sha256 +
# multiply-mod hash family (operators/dedup.py) signatures are
# array<bigint>, not the old sha256-hex array<string>. Signature
# stores written under the old scheme are INCOMPATIBLE with new
# signatures (old-vs-new band keys can never match) and must be
# rebuilt after any hash-family change.
_SIG_SCHEMA = "doc_id long, signature array<bigint>"


def _batch_pairs(batch_df: DataFrame, batch_id: int, state_dir: str,
                 threshold: float) -> DataFrame:
    """Near-dup pairs of the batch's documents against the store (minus
    the batch's own partitions) and against each other."""
    s = batch_df.sparkSession
    old_docs = prior_store(s, f"{state_dir}/docs", "doc_id long, text string",
                           batch_id)
    old_sigs = prior_store(s, f"{state_dir}/sigs", _SIG_SCHEMA, batch_id)
    corpus = old_docs.unionByName(batch_df.select("doc_id", "text"))
    return minhash_incremental_pairs(corpus, old_sigs, batch_df,
                                     threshold=threshold)


def _append_store(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    minhash_signature(batch_df).write.mode("overwrite").parquet(
        f"{state_dir}/sigs/batch={batch_id}")
    batch_df.select("doc_id", "text").write.mode("overwrite").parquet(
        f"{state_dir}/docs/batch={batch_id}")


def start_minhash_dedup_stream(spark: SparkSession, source_path: str,
                               state_dir: str, pairs_dir: str,
                               checkpoint_dir: str,
                               threshold: float = 0.5) -> StreamingQuery:
    """readStream JSON-lines documents → per-batch near-dup pairs at
    ``pairs_dir`` (columns doc_a, doc_b, jaccard, partition batch=N)
    while growing the doc/signature store under ``state_dir``."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        pairs = _batch_pairs(batch_df, batch_id, state_dir, threshold)
        # batch-keyed overwrites: replays rewrite, never duplicate
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
        _append_store(batch_df, batch_id, state_dir)
        batch_df.unpersist()

    return start_batches(json_stream(spark, DOC_SCHEMA, source_path),
                         _process, checkpoint_dir)


def start_cluster_stream(spark: SparkSession, source_path: str,
                         state_dir: str, labels_dir: str,
                         checkpoint_dir: str,
                         threshold: float = 0.5) -> StreamingQuery:
    """Continuous duplicate CLUSTERING: each micro-batch's near-dup
    pairs (vs the growing store, as above) are folded into a persistent
    label table via graph.update_components — the streaming form of
    cluster_documents. ``labels_dir`` always holds the complete
    (node, cluster_id) assignment; batch cost is O(labels + batch
    pairs), never a recompute over all historical pairs.

    The label table is REWRITTEN per batch (it is the reduced state —
    doc-count rows, not pair-count) into a FRESH attempt-unique subdir
    + an atomic _LATEST pointer swap: a replayed batch reads the
    previous snapshot and writes a new directory, never overwriting the
    files its own plan is reading (orphaned attempt dirs are swept by
    the next successful batch)."""
    import os
    import shutil
    import time as _time

    from dht11_data_pipeline_spark.operators.graph import update_components

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        s = batch_df.sparkSession
        pairs = _batch_pairs(batch_df, batch_id, state_dir,
                             threshold).persist()

        # fold pairs + this batch's singletons into the label store
        latest = os.path.join(labels_dir, "_LATEST")
        if os.path.exists(latest):
            with open(latest) as fh:
                labels = s.read.parquet(fh.read().strip())
        else:
            labels = s.createDataFrame([], "node bigint, cluster_id bigint")
        new_nodes = (batch_df.select(F.col("doc_id").alias("node"))
                     .join(labels.select("node"), "node", "left_anti")
                     .withColumn("cluster_id", F.col("node")))
        updated = update_components(
            labels.unionByName(new_nodes),
            pairs.select("doc_a", "doc_b"))
        # attempt-unique dir: a replay READS the previous snapshot, so
        # writing a fixed batch=N path would overwrite its own input
        out = os.path.join(
            labels_dir, f"batch={batch_id}.{int(_time.time() * 1000)}")
        updated.write.mode("overwrite").parquet(out)
        with open(latest + ".tmp", "w") as fh:
            fh.write(out)
        os.replace(latest + ".tmp", latest)  # atomic pointer swap
        # sweep superseded snapshots (previous batches + failed attempts)
        for d in os.listdir(labels_dir):
            p = os.path.join(labels_dir, d)
            if d.startswith("batch=") and p != out:
                shutil.rmtree(p, ignore_errors=True)

        _append_store(batch_df, batch_id, state_dir)
        pairs.unpersist()
        batch_df.unpersist()

    return start_batches(json_stream(spark, DOC_SCHEMA, source_path),
                         _process, checkpoint_dir)


def start_bloom_dedup_stream(spark: SparkSession, source_path: str,
                             state_dir: str, verdicts_dir: str,
                             checkpoint_dir: str,
                             num_bits: int = 65536, num_hashes: int = 4
                             ) -> StreamingQuery:
    """Streaming EXACT dedup with the Bloom front door
    (operators/dedup.bloom_probe_new_docs): each micro-batch is probed
    against the accumulated filter; hits are exact-verified against the
    content-hash store; per-doc verdicts (dup / false_positive / clean)
    land under ``verdicts_dir/batch=N``. Duplicates WITHIN one
    micro-batch are also flagged: a cheap content-hash window keeps the
    min-doc_id copy 'clean' and marks the rest 'dup' (the bloom store
    only covers strictly-earlier batches, so without this window two
    identical docs arriving together would both pass). ``bloom_hit``
    still reports the cross-batch filter alone.

    State is two append-only, batch-partitioned tables under
    ``state_dir``: ``words`` (this batch's OR-mergeable bloom words —
    ≤ num_bits/64 rows per batch, merged with one tiny groupBy bit_or
    at probe time) and ``hashes`` (sha256 per doc, read ONLY to verify
    the bloom-hit subset). Replays are idempotent: a batch's own state
    partitions are excluded from the filter it probes (otherwise a
    replayed batch would flag itself as already seen) and every write
    is a batch-keyed overwrite. At 100 TB the words table stays
    kilobytes per batch regardless of corpus size — the probe never
    touches the hash store for provably-unseen docs."""
    from dht11_data_pipeline_spark.operators.dedup import (
        _bloom_positions, _content_key, bloom_build_words)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        s = batch_df.sparkSession
        words = (prior_store(s, f"{state_dir}/words",
                             "word_idx int, word long", batch_id)
                 .groupBy("word_idx").agg(F.bit_or("word").alias("word")))
        hashes = prior_store(s, f"{state_dir}/hashes",
                             "content_hash string", batch_id)

        bpos = batch_df.select(
            "doc_id",
            F.explode(_bloom_positions(_content_key("text"),
                                       num_bits, num_hashes)).alias("pos"),
        ).select(
            "doc_id",
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("mask"),
        )
        probed = (
            bpos.join(F.broadcast(words), "word_idx", "left")
            .select(
                "doc_id",
                F.when(F.col("word").isNotNull()
                       & (F.col("word").bitwiseAND(F.col("mask")) != 0), 1)
                .otherwise(0).alias("bit_set"))
            .groupBy("doc_id").agg(F.min("bit_set").alias("all_hit"))
        )
        hashed = batch_df.select(
            "doc_id", F.sha2("text", 256).alias("content_hash"))
        # exact-verify ONLY the bloom-hit subset (the whole point)
        hits = probed.filter(F.col("all_hit") == 1).join(hashed, "doc_id")
        confirmed = (
            hits.join(hashes.distinct().withColumn("_seen", F.lit(1)),
                      "content_hash", "left")
            .select("doc_id",
                    F.when(F.col("_seen") == 1, "dup")
                    .otherwise("false_positive").alias("verdict"))
        )
        # within-batch exact dups: every copy after the min-doc_id one
        # is 'dup' regardless of the (earlier-batches-only) bloom verdict
        from pyspark.sql.window import Window
        intra = (
            hashed.withColumn(
                "_first",
                F.min("doc_id").over(Window.partitionBy("content_hash")))
            .filter(F.col("doc_id") != F.col("_first"))
            .select("doc_id", F.lit(1).alias("_intra"))
        )
        verdicts = (
            probed.join(confirmed, "doc_id", "left")
            .join(intra, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("all_hit") == 1, "Y").otherwise("N").alias("bloom_hit"),
                F.when(F.col("_intra") == 1, "dup")
                .otherwise(F.coalesce("verdict", F.lit("clean"))).alias("verdict"))
        )
        verdicts.write.mode("overwrite").parquet(f"{verdicts_dir}/batch={batch_id}")
        bloom_build_words(batch_df, "text", num_bits, num_hashes).write.mode(
            "overwrite").parquet(f"{state_dir}/words/batch={batch_id}")
        hashed.select("content_hash").write.mode("overwrite").parquet(
            f"{state_dir}/hashes/batch={batch_id}")
        batch_df.unpersist()

    return start_batches(json_stream(spark, DOC_SCHEMA, source_path),
                         _process, checkpoint_dir)


def current_labels(spark: SparkSession, labels_dir: str) -> DataFrame:
    """The complete (node, cluster_id) assignment as of the last
    committed batch (atomic _LATEST pointer)."""
    import os

    with open(os.path.join(labels_dir, "_LATEST")) as fh:
        return spark.read.parquet(fh.read().strip())


def start_phash_dedup_stream(spark: SparkSession, source_path: str,
                             state_dir: str, pairs_dir: str,
                             verdicts_dir: str, checkpoint_dir: str,
                             max_hamming: int = 3) -> StreamingQuery:
    """Streaming IMAGE near-dup: the perceptual-hash pipeline in its
    incremental home. Each micro-batch synthesizes + decodes its image
    payloads (real codec, Arrow batches), computes the 64-bit aHash,
    probes the ACCUMULATED hash store with the 16-bit-chunk pigeonhole
    join (operators/dedup.phash_hamming_pairs ``other=`` probe shape —
    batch cost independent of corpus size), flags within-batch pairs
    with the same canonical self-join, and appends its hashes to the
    store keyed by ``batch=N``.

    Pair-completeness invariant (tested): every Hamming-≤k pair is
    emitted by exactly ONE batch — the one where its later-ARRIVING
    member lands (cross-batch pairs are canonicalized to (least,
    greatest), so the union over batches equals the one-shot
    ``mm_phash_near_dup`` over the full corpus). Replays are
    idempotent: a batch excludes its own store partition from the
    probe and every write is a batch-keyed overwrite."""
    from dht11_data_pipeline_spark.operators.dedup import phash_hamming_pairs
    from dht11_data_pipeline_spark.operators.multimodal import (
        attach_image_payload, phash_payloads)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        ph = phash_payloads(attach_image_payload(batch_df)).select(
            "doc_id", "phash_hi", "phash_lo").localCheckpoint()
        store = prior_store(s, f"{state_dir}/hashes",
                            "doc_id long, phash_hi long, phash_lo long",
                            batch_id)
        cross = (phash_hamming_pairs(ph, max_hamming=max_hamming, other=store)
                 .select(F.least("doc_a", "doc_b").alias("doc_a"),
                         F.greatest("doc_a", "doc_b").alias("doc_b"),
                         "hamming"))
        within = phash_hamming_pairs(ph, max_hamming=max_hamming)
        pairs = cross.unionByName(within).localCheckpoint()
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
        # a NEW doc is near_dup if it matched the store (either role in
        # cross) or is the later (doc_b) member of a within-batch pair
        matched = (cross.select(F.col("doc_a").alias("doc_id"))
                   .unionByName(cross.select(F.col("doc_b").alias("doc_id")))
                   .unionByName(within.select(F.col("doc_b").alias("doc_id")))
                   .join(ph.select("doc_id"), "doc_id", "left_semi")
                   .distinct())
        verdicts = (ph.select("doc_id")
                    .join(matched.withColumn("_m", F.lit(1)), "doc_id", "left")
                    .select("doc_id",
                            F.when(F.col("_m").isNotNull(), "near_dup")
                            .otherwise("clean").alias("status")))
        verdicts.write.mode("overwrite").parquet(
            f"{verdicts_dir}/batch={batch_id}")
        ph.write.mode("overwrite").parquet(f"{state_dir}/hashes/batch={batch_id}")

    return start_batches(json_stream(spark, DOC_SCHEMA, source_path),
                         _process, checkpoint_dir)
