"""PageRank and personalized PageRank vs an independent pure-Python
implementation (same fold order → exact float equality), plus
structural sanity."""

import pyspark.sql.functions as F
import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.graph import (
    pagerank,
    personalized_pagerank,
)

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select((-F.col("l_suppkey")).alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )


def _py_pagerank(edges, n_iter=3, d=0.85, seeds=None):
    """``seeds=None``: uniform teleport over all nodes; otherwise the
    teleport mass returns to seeds ∩ nodes only."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    tele_set = set(nodes) if seeds is None else set(seeds) & set(nodes)
    n = len(tele_set)
    tele = {v: (1.0 - d) / float(n) if v in tele_set else 0.0 for v in nodes}
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: 1.0 / float(n) if v in tele_set else 0.0 for v in nodes}
    for _ in range(n_iter):
        inc = {}
        for s, t in edges:
            inc.setdefault(t, []).append((s, d * (r[s] / float(deg[s]))))
        r = {}
        for v in nodes:
            acc = 0.0
            for _, c in sorted(inc.get(v, [])):
                acc += c
            r[v] = tele[v] + acc
    return r


def test_pagerank_matches_pure_python_exactly(spark):
    edf = _edges(spark)
    edges = [(row["src"], row["dst"]) for row in edf.collect()]
    expected = _py_pagerank(edges)
    got = {row["node"]: row["r"] for row in pagerank(edf).collect()}
    assert got == expected  # bit-identical: same fold order, same trees


def test_pagerank_mass_and_positivity(spark):
    edf = _edges(spark)
    rows = pagerank(edf).collect()
    total = sum(r["r"] for r in rows)
    assert all(r["r"] > 0 for r in rows)
    # dangling nodes leak mass, so total <= 1, but the teleport floor
    # keeps at least (1-d) of it
    assert 0.15 <= total <= 1.0 + 1e-9


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def test_personalized_pagerank_matches_pure_python_exactly(spark):
    edf = _edges(spark)
    edges = [(row["src"], row["dst"]) for row in edf.collect()]
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    # every 7th node, plus an id outside the graph (ignored)
    seeds = nodes[::7] + [10**9]
    expected = _py_pagerank(edges, seeds=seeds)
    got = {
        row["node"]: row["r"]
        for row in personalized_pagerank(edf, _seeds(spark, seeds)).collect()
    }
    assert got == expected
    assert any(v == 0.0 for v in got.values())  # unreached non-seeds stay 0


def test_personalized_pagerank_rejects_seeds_outside_graph(spark):
    with pytest.raises(ValueError, match="no seed appears in the graph"):
        personalized_pagerank(_edges(spark), _seeds(spark, [10**9]))


def test_personalized_pagerank_with_all_seeds_is_pagerank(spark):
    """Every node a seed = uniform teleport: the shared round loop must
    give pagerank's ranks bit for bit."""
    edf = _edges(spark)
    nodes = [
        row["node"]
        for row in edf.select(F.col("src").alias("node"))
        .unionByName(edf.select(F.col("dst").alias("node")))
        .distinct()
        .collect()
    ]
    ppr = {row["node"]: row["r"] for row in personalized_pagerank(edf, _seeds(spark, nodes)).collect()}
    pr = {row["node"]: row["r"] for row in pagerank(edf).collect()}
    assert ppr == pr
