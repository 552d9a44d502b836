"""Round-13 OPTIMIZATION equivalence pins: every restructure in the
optimization round must be bit-identical to the shape it replaced.

- similarity side-projected norms (dot/(qn·cn) vs per-pair cosine)
- `_normalized`'s array_repeat divisor (vs the per-element-inlined norm)
- multiprobe single (table, bucket) self-join (vs L per-table joins)
- BPE driver-tier merge loop (vs the distributed per-round loop)
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dht11_data_pipeline_spark.functions.vectors import (
    cosine, dot, hyperplane_sign_bits, make_planes, norm)
from dht11_data_pipeline_spark.operators import similarity, textops

SF0001 = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF0001}/embeddings.parquet")


def _docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# side-projected norms: dot/(qn*cn) must equal round(cosine(q, c), 4)
# ---------------------------------------------------------------------------

def test_cosine_topk_matches_per_pair_cosine(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = similarity.cosine_topk(emb, queries, k=5)
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cv"))
    scored = (F.broadcast(q).crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("sim",
                          F.round(cosine(F.col("qv"), F.col("cv")), 4)))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("neighbor_id"))
    ref = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 5)
           .select("query_id", "neighbor_id", "sim", "rank"))
    assert _rows(got) == _rows(ref)


def test_side_norm_product_is_bit_identical_to_cosine(spark):
    """The raw (unrounded) doubles must agree, not just the rounded
    ranking — dot/(norm_a·norm_b) is the SAME expression cosine()
    builds, only evaluated per side instead of per pair."""
    emb = _emb(spark)
    a = emb.select(F.col("vec_id").alias("ia"),
                   F.col("embedding").alias("va"),
                   norm(F.col("embedding")).alias("na"),
                   (F.col("vec_id") % 10).alias("k"))
    b = emb.select(F.col("vec_id").alias("ib"),
                   F.col("embedding").alias("vb"),
                   norm(F.col("embedding")).alias("nb"),
                   (F.col("vec_id") % 10).alias("k"))
    pairs = a.join(b, "k").filter(F.col("ia") < F.col("ib"))
    mism = (pairs.select(
        cosine(F.col("va"), F.col("vb")).alias("s1"),
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .alias("s2"))
        .filter(~F.col("s1").eqNullSafe(F.col("s2"))).count())
    assert mism == 0


# ---------------------------------------------------------------------------
# _normalized: array_repeat divisor vs per-element transform divide
# ---------------------------------------------------------------------------

def test_normalized_matches_transform_form(spark):
    emb = _emb(spark)
    got = similarity._normalized(emb, "vec_id", "embedding", "id", "v")
    with_norm = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("_v"),
        norm(F.col("embedding")).alias("_n"))
    ref = with_norm.select(
        "id", F.transform("_v", lambda x: x.cast("double") / F.col("_n"))
        .alias("v"))
    mism = (got.alias("g").join(ref.alias("r"), "id")
            .filter(F.expr("NOT (g.v <=> r.v)")).count())
    assert mism == 0 and got.count() == ref.count()


# ---------------------------------------------------------------------------
# multiprobe: single (table, bucket) join vs L per-table joins
# ---------------------------------------------------------------------------

def test_multiprobe_matches_per_table_reference(spark):
    emb = _emb(spark)
    got = similarity.embedding_near_duplicates_multiprobe(
        emb, threshold=0.25)
    base = similarity._normalized(emb, "vec_id", "embedding", "id", "v")
    per_table = []
    for t in range(3):
        planes = make_planes(4, 64, seed=123456789 + t)
        side = base.withColumn(
            "bucket", hyperplane_sign_bits(F.col("v"), planes))
        a = side.select(F.col("id").alias("id_a"),
                        F.col("v").alias("va"), "bucket")
        b = side.select(F.col("id").alias("id_b"),
                        F.col("v").alias("vb"), "bucket")
        per_table.append(
            a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", F.round(dot(F.col("va"), F.col("vb")), 4))
            .filter(F.col("sim") >= 0.25).select("id_a", "id_b", "sim"))
    ref = per_table[0]
    for nxt in per_table[1:]:
        ref = ref.unionByName(nxt)
    assert _rows(got) == _rows(ref.distinct())


# ---------------------------------------------------------------------------
# BPE driver tier vs distributed tier
# ---------------------------------------------------------------------------

def test_bpe_vocab_driver_tier_matches_distributed(spark):
    docs = _docs(spark)
    drv = [tuple(r) for r in textops.bpe_vocab(docs, k=6)
           .orderBy("merge_rank").collect()]
    dist = [tuple(r) for r in
            textops.bpe_vocab(docs, k=6, driver_vocab_limit=0)
            .orderBy("merge_rank").collect()]
    assert drv == dist and len(drv) == 6


def test_lloyd_init_assigned_reuse_is_bit_identical(spark):
    """Handing lloyd_kmeans the materialized round-0 assignment must
    change nothing: assign_clusters is deterministic given (corpus,
    centroids), so round 1 consuming the frame instead of re-scoring
    produces the same centroids and the same final assignment."""
    from dht11_data_pipeline_spark.operators.kmeans import (
        assign_clusters, lloyd_kmeans, select_centroids)
    emb = _emb(spark).localCheckpoint(eager=True)
    init = select_centroids(emb, k=10)
    a0 = assign_clusters(emb, init).persist()
    got_a, got_c = lloyd_kmeans(spark, emb, k=10, max_iter=2,
                                init_centroids=init, init_assigned=a0)
    ref_a, ref_c = lloyd_kmeans(spark, emb, k=10, max_iter=2,
                                init_centroids=init)
    a0.unpersist()
    assert got_c == ref_c
    assert _rows(got_a) == _rows(ref_a)


def test_bigram_rarity_zipwith_matches_substring_form(spark):
    """The O(len) char-array bigram build must reproduce the previous
    substring-per-position form exactly."""
    from dht11_data_pipeline_spark.operators.textops import bigram_rarity
    docs = _docs(spark)
    got = bigram_rarity(docs)
    bg = (docs.filter(F.char_length(F.col("text")) >= 2)
          .select(F.col("doc_id"),
                  F.explode(F.expr(
                      "transform(sequence(1, char_length(text) - 1), "
                      "i -> substring(text, i, 2))")).alias("bigram"))
          .withColumn("pre", F.substring(F.col("bigram"), 1, 1)))
    c2 = (bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
          .withColumn("pre", F.substring("bigram", 1, 1)))
    c1 = bg.groupBy("pre").agg(F.count(F.lit(1)).alias("c1"))
    model = (c2.join(c1, "pre")
             .select("bigram", F.expr("c1 * 1000000 DIV c2").alias("rarity")))
    ref = (bg.join(F.broadcast(model), "bigram")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("rarity").alias("rarity_sum"))
           .select("doc_id",
                   F.col("n_bigrams").cast("int").alias("n_bigrams"),
                   F.expr("rarity_sum DIV n_bigrams").alias("rarity_score")))
    assert _rows(got) == _rows(ref)


def test_bpe_vocab_driver_tier_gate_falls_through(spark):
    """A gate below the vocabulary size must route to the distributed
    loop and still produce identical merges."""
    df = spark.createDataFrame(
        [(1, "banana bandana"), (2, "banana"), (3, "ana banana")],
        "doc_id long, text string")
    drv = [tuple(r) for r in textops.bpe_vocab(df, k=4).collect()]
    forced_dist = [tuple(r) for r in
                   textops.bpe_vocab(df, k=4, driver_vocab_limit=1)
                   .collect()]
    assert drv == forced_dist
