"""Job-count tripwire for the hybrid operators' driver tiers.

Each driver tier gates and collects its reduced frame (edge list, word
table) through ``collect.bounded_collect``, so on a small in-memory
input the whole operator call runs a small, fixed number of Spark jobs.
The ceilings are the counts measured with the seam on these inputs; a
gate that goes back to ``persist → count → toPandas`` runs more jobs
and fails here."""

from __future__ import annotations

import itertools

import pytest

from dht11_data_pipeline_spark.operators import graph, textops

_GROUPS = itertools.count()


def _jobs_during(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"driver-tier-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _pairs(spark):
    """A chain with skip-one chords: x<y distinct, plenty of triangles."""
    rows = ([(i, i + 1) for i in range(1, 40)]
            + [(i, i + 2) for i in range(1, 38)])
    return spark.createDataFrame(rows, "id_a bigint, id_b bigint")


def _docs(spark):
    return spark.createDataFrame(
        [(1, "banana bandana ana"), (2, "banana cabana")],
        "doc_id long, text string")


CASES = {
    "triangle_counts": (1, lambda spark: graph.triangle_counts(
        _pairs(spark), assume_canonical=True)),
    "kcore_peel": (1, lambda spark: graph.kcore_peel(
        _pairs(spark), assume_canonical=True)),
    "connected_components": (3, lambda spark: graph.connected_components(
        _pairs(spark), "id_a", "id_b")),
    "bpe_vocab": (2, lambda spark: textops.bpe_vocab(_docs(spark), k=3)),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_driver_tier_job_ceiling(spark, name):
    ceiling, build = CASES[name]
    build(spark)  # warm-up: first-use jobs are not the gate's
    n = _jobs_during(spark, lambda: build(spark))
    assert 1 <= n <= ceiling, f"{name}: {n} jobs (ceiling {ceiling})"
