"""connected_components / near_dup_clusters vs a union-find reference."""

import random

import pytest
from pyspark.sql import functions as F

from osmptparser_spark.operators.components import (
    connected_components,
    near_dup_clusters,
)


def _uf_reference(edges):
    """Plain union-find ground truth: {node: min-id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(edges, 4), "id_a BIGINT, id_b BIGINT"
    )
    out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_long_chain(spark):
    # a 64-node path: diameter 63, but large-star/small-star must
    # converge in O(log n) rounds — max_iterations=40 would fail a
    # diameter-bound algorithm here only if it were label propagation;
    # this asserts the log-round contract indirectly via convergence.
    edges = [(i, i + 1) for i in range(63)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(64)}


def test_duplicates_loops_direction_ignored(spark):
    edges = [(2, 1), (1, 2), (2, 2), (5, 4), (9, 9)]
    got = _run(spark, edges)
    # 9's only edge is a self-loop: it vanishes from the canonical
    # edge set, so 9 is an isolated node the caller must re-add.
    assert got == {1: 1, 2: 1, 4: 4, 5: 4}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n) * 7, rng.randrange(n) * 7) for _ in range(150)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _run(spark, edges) == _uf_reference(edges)


def test_missing_observation_falls_back_to_aggregate(spark, monkeypatch):
    from pyspark.sql import Observation

    from osmptparser_spark.operators import components

    # the bounded wait gives up on metrics that never arrive
    never_run = Observation()
    spark.range(3).observe(never_run, F.count(F.lit(1)).alias("n"))
    assert components._observed(never_run, 0.05) is None

    # with no observed fingerprint at all, every round aggregates its
    # checkpointed edge set and still converges to union-find
    waits = []

    def missing(obs, timeout_s):
        waits.append(timeout_s)
        return None

    monkeypatch.setattr(components, "_observed", missing)
    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _uf_reference(edges)
    assert waits


def test_non_convergence_raises(spark):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2)], 1), "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(df, max_iterations=0)


def test_near_dup_clusters_end_to_end(spark):
    # three exact groups + one singleton; minhash at threshold 0.5
    # links the planted variants, clustering makes keep/drop total
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy dog again and again!",
        3: "the quick brown fox jumps over the lazy dog again and again!!",
        10: "completely different content about spark shuffles and joins",
        11: "completely different content about spark shuffles and joins ok",
        99: "a singleton document that resembles nothing else in the corpus",
    }
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(list(texts.items()), 2),
        "doc_id BIGINT, text STRING",
    )
    out = near_dup_clusters(df)
    got = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    # keep rule: doc_id == component_id keeps exactly one per cluster
    keep = sorted(d for d, c in got.items() if d == c)
    assert keep == [1, 10, 99]
