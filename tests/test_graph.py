"""Connected-components / dedup-cluster tests (operators/graph.py),
checked against a pure-Python union-find reference."""

import random

import pyspark.sql.functions as F
import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import graph
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _union_find(nodes, edges):
    """Reference labels: the minimum node id of each component. Union
    always hangs the larger root under the smaller, so every root is
    its component's minimum."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _components(spark, nodes, edges, max_iter=25):
    v = spark.createDataFrame([(n,) for n in nodes], "node long")
    e = spark.createDataFrame(edges or [(None, None)], "src long, dst long").where(
        F.col("src").isNotNull()
    )
    rows = connected_components(v, e, max_iter=max_iter).collect()
    return {r["node"]: r["comp"] for r in rows}


def _recording_checkpoint(monkeypatch):
    """Wrap graph._observed_checkpoint; return the list it appends each
    call's (checkpointed DataFrame, metrics) to."""
    calls = []
    real = graph._observed_checkpoint

    def wrapped(df, *metric_exprs):
        out, metrics = real(df, *metric_exprs)
        calls.append((out, metrics))
        return out, metrics

    monkeypatch.setattr(graph, "_observed_checkpoint", wrapped)
    return calls


def test_chain_converges_across_rounds(spark):
    # a 7-node path needs several contraction rounds, not just one
    comp = _components(spark, range(1, 8), [(i, i + 1) for i in range(1, 7)])
    assert comp == {n: 1 for n in range(1, 8)}


def test_two_cliques_and_singleton(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 10)]
    comp = _components(spark, [1, 2, 3, 10, 11, 99], edges)
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_orientation_irrelevant(spark):
    # same component regardless of src/dst order
    assert _components(spark, [1, 2, 3], [(3, 2), (2, 1)]) == {1: 1, 2: 1, 3: 1}


def test_dedup_clusters_keep_list(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in [5, 6, 7, 8]], "doc_id long, text string")
    pairs = spark.createDataFrame([(6, 7)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[6]["cluster_id"] == 6 and rows[7]["cluster_id"] == 6
    assert rows[6]["keep"] and not rows[7]["keep"]
    # singletons keep themselves
    assert rows[5]["keep"] and rows[8]["keep"]
    assert sum(r["keep"] for r in rows.values()) == 3


def test_star_matches_union_find_on_path_graph(spark):
    """50-node path: diameter 49, past the default max_iter of 25 —
    one round per hop could not finish. The star contraction needs
    O(log d) rounds."""
    nodes = list(range(1, 51))
    edges = [(i, i + 1) for i in range(1, 50)]
    assert _components(spark, nodes, edges) == _union_find(nodes, edges)


def test_star_raises_when_unconverged(spark):
    """Out of rounds → RuntimeError, never silently wrong labels."""
    nodes = list(range(1, 51))
    edges = [(i, i + 1) for i in range(1, 50)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _components(spark, nodes, edges, max_iter=1)


def test_star_matches_union_find_on_random_graphs(spark):
    """Property check: random sparse graphs (self-loops and repeated
    edges included) get the union-find labels (min node id per
    component)."""
    rng = random.Random(17)
    for trial in range(3):
        n = 40
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(10, 45))
        ]
        got = _components(spark, nodes, edges)
        want = _union_find(nodes, edges)
        assert got == want, (trial, got, want)


def test_star_handles_cliques_singletons_and_orientation(spark):
    nodes = [1, 2, 3, 10, 11, 99]
    edges = [(1, 2), (2, 3), (1, 3), (11, 10), (10, 11)]
    comp = _components(spark, nodes, edges)
    assert comp == _union_find(nodes, edges) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_long_chain_within_max_iter(spark, monkeypatch):
    """A 60-node chained near-dup graph is labelled in at most
    ``max_iter`` rounds of one loop: no doomed pass runs first."""
    calls = _recording_checkpoint(monkeypatch)
    n = 60
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, n + 1)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs, max_iter=10).collect()}
    assert all(rows[i]["cluster_id"] == 1 for i in range(1, n + 1))
    assert rows[1]["keep"] and sum(r["keep"] for r in rows.values()) == 1
    # the first call checkpoints the canonical input edges; every
    # later call is one contraction round
    assert 1 < len(calls) and len(calls) - 1 <= 10


def test_observed_checksum_equals_explicit_agg(spark, monkeypatch):
    """The convergence probe rides each checkpoint via observe(); on
    every round it must equal an explicit aggregate over the rows that
    checkpoint returned."""
    calls = _recording_checkpoint(monkeypatch)
    nodes = list(range(1, 21))
    edges = [(i, i + 1) for i in range(1, 12)] + [(15, 14), (16, 14), (17, 20)]
    assert _components(spark, nodes, edges) == _union_find(nodes, edges)
    assert len(calls) >= 3
    for out, metrics in calls:
        want = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
        assert (metrics["n"], metrics["h"]) == (want["n"], want["h"])
