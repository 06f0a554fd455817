"""Distributed graph operators — connected components (the clustering
step of near-dup deduplication: group pairwise matches into clusters,
keep one canonical document per cluster) and PageRank.

The reference repo has no graph step (its dedup is `distinct()`,
`utils.py:18`); this is part of the beyond-reference training-data
pipeline surface: MinHash/Jaccard emit *pairs*, but a keep/drop
decision needs *clusters* (A~B, B~C ⇒ {A,B,C} keeps exactly one doc).

Connected components: alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond") over
the canonical undirected edge set. It needs O(log d) rounds for graph
diameter d, so dense near-dup cliques (d ~ 2-3) and long semantic
chains both finish well inside ``max_iter``. Each round is a constant
number of shuffles of (edge, two longs) payloads, all JVM-side;
``localCheckpoint`` truncates the lineage so round N's plan does not
replay rounds 1..N-1. The loop RAISES if it exits at ``max_iter``
unconverged rather than silently returning mislabeled components.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def _observed_checkpoint(df: DataFrame, *metric_exprs):
    """Materialize ``df`` as a localCheckpoint with aggregate metrics
    riding the SAME pass via ``observe`` (CollectMetrics): the
    convergence probes below used to be a separate agg whose exchange
    + collect added two driver jobs per loop round on top of the
    checkpoint materialization. An observation is computed inside the
    materializing job itself — zero extra pass, zero extra shuffle,
    exact (the metrics run the identical aggregate expressions over
    the identical rows). ``Observation.get`` blocks until an ACTION
    completes; ``localCheckpoint(eager=True)`` runs through
    ``Dataset.withAction``, which posts the SQL-execution-end event
    the observation listens for, so the get below never hangs.
    r16 interleaved A/B at sf0.1 (5-rep medians, q190's real graph):
    star loop 3.52 → 3.26 s (55 → 49 jobs); labels identical."""
    obs = Observation()
    out = df.observe(obs, *metric_exprs).localCheckpoint(eager=True)
    return out, obs.get


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge list as canonical (a < b) pairs, self-loops
    dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself)."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal
    neighborhood (incl. itself) to that neighborhood's minimum. On
    canonical (a < b) pairs the ≤-neighborhood of b is exactly its a
    side."""
    m = e.groupBy("b").agg(F.min("a").alias("m"))
    center = m.select(F.col("m").alias("a"), F.col("b"))
    others = (
        e.join(m, "b")
        .where(F.col("a") != F.col("m"))
        .select(F.col("m").alias("a"), F.col("a").alias("b"))
    )
    return center.unionByName(others).distinct()


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """``vertices``: one column ``node``; ``edges``: columns
    ``src``/``dst`` (undirected, any orientation). Returns
    ``(node, comp)`` where ``comp`` is the minimum node id reachable
    from ``node`` — a deterministic cluster id on any cluster shape.

    Alternating large-star/small-star contraction to star graphs,
    O(log diameter) rounds. Convergence = stable canonical edge set
    (count + order-insensitive hash checksum), then a final star-shape
    assertion that every non-center node has exactly one center — so
    a checksum collision cannot return a mislabeled result silently.
    RAISES if still unconverged after ``max_iter`` rounds."""
    # convergence checksum = an OBSERVATION riding the checkpoint
    # materialization (see _observed_checkpoint): one job per round
    # materializes the round AND yields the checksum — the former
    # separate checksum aggregate cost its own exchange + collect jobs
    # on every round, and at this loop's scale the per-job driver
    # latency IS the wall (r15/r16 profiles). bit_xor:
    # order-insensitive and overflow-free under ANSI mode (a SUM of
    # 64-bit hashes overflows long).
    _checksum_exprs = (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
    )

    e, m = _observed_checkpoint(_canonical_edges(edges), *_checksum_exprs)
    prev_sum = (m["n"], m["h"])
    for _ in range(max_iter):
        new_e, m = _observed_checkpoint(_small_star(_large_star(e)), *_checksum_exprs)
        # NB: unpersist() does NOT free localCheckpoint blocks (they
        # live in the checkpoint RDD, not the Dataset cache); it only
        # clears any cache-manager entry. The checkpoint blocks are
        # reclaimed by Spark's ContextCleaner once the round's
        # DataFrame (and its JVM RDD) is dereferenced — here each
        # round drops the previous reference, so at most two rounds'
        # edge lists (two longs per edge) are live at once, bounded
        # GC-based reclamation we accept and document rather than
        # reach into the RDD internals per round.
        e.unpersist()
        e = new_e
        cur = (m["n"], m["h"])
        if cur == prev_sum:
            break
        prev_sum = cur
    else:
        raise RuntimeError(
            f"star connected-components did not converge in {max_iter} rounds"
        )
    # star graphs: comp(b) = a; centers and isolated vertices are their
    # own component. Assert star shape — one center per node. Plain
    # count, not count_distinct: e is a distinct canonical (a, b) set
    # (every round ends in distinct()), so rows-per-b equals
    # centers-per-b — same answer without the distinct-agg
    # Expand + second exchange in the assert's plan.
    multi = e.groupBy("b").agg(F.count(F.lit(1)).alias("nc")).where("nc > 1")
    if multi.limit(1).count() > 0:
        raise RuntimeError(
            "star contraction checksum converged on a non-star edge set "
            "(hash collision or bug) — rerun with a larger max_iter"
        )
    comp = vertices.join(
        e.select(F.col("b").alias("node"), F.col("a").alias("comp")), "node", "left"
    ).select("node", F.coalesce("comp", "node").alias("comp"))
    e.unpersist()
    return comp


def dedup_clusters(
    docs: DataFrame,
    match_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup keep-list: every document labelled with its cluster id
    (min doc id in its connected component; singletons are their own
    cluster) and ``keep`` = is-the-canonical-member. Downstream corpus
    filtering is then ``WHERE keep``."""
    comp = connected_components(
        docs.select(F.col(id_col).alias("node")),
        match_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        max_iter,
    )
    return comp.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


def _edges_and_nodes(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distinct directed edges (checkpointed — every round rescans
    them) and the node set they touch."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, nodes


def _rank_rounds(e: DataFrame, tagged: DataFrame, n_iter: int, damping: float) -> DataFrame:
    """The PageRank round loop shared by :func:`pagerank` and
    :func:`personalized_pagerank`. ``tagged`` is the checkpointed
    per-node ``(node, tele, r0)`` table: the teleport mass each round
    returns to the node and its starting rank.

    Each round is one join of the rank vector against the edge list
    plus one aggregation on ``dst`` — the payload shuffled per round
    is (edge, one double), never the corpus. Dangling nodes (no
    out-edges) simply leak their mass, the standard simplification.

    Cross-engine float parity (the q163/q201 oracles unroll the same
    rounds in DuckDB CTEs): contributions fold per target in sorted
    source order — ``aggregate(array_sort(collect_list(...)))`` vs
    ``list_sum(list(... ORDER BY src))`` — and every arithmetic
    expression uses one fixed tree, so the ranks are bit-identical
    before any rounding."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    r = tagged.select("node", F.col("r0").alias("r"))
    prev: DataFrame | None = None
    for _ in range(n_iter):
        contribs = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                "dst",
                "src",
                (F.lit(damping) * (F.col("r") / F.col("deg").cast("double"))).alias("c"),
            )
        )
        agg = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        # checkpoint each round — without truncation the unrolled plan
        # re-evaluates the previous ranks O(n_iter^2) times
        r = (
            tagged.join(agg, tagged["node"] == agg["dst"], "left")
            .select(
                "node",
                (F.col("tele") + F.coalesce(F.col("s"), F.lit(0.0))).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        # the new round is eagerly materialized from its own blocks, so
        # the previous round's checkpoint is dead weight — drop the
        # reference so the ContextCleaner reclaims its blocks (see the
        # connected_components note: unpersist() itself cannot free
        # localCheckpoint storage; dereferencing is what releases it)
        if prev is not None:
            prev.unpersist()
        prev = r
    e.unpersist()
    tagged.unpersist()
    return r


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` — the
    link-graph importance score a web-scale corpus pipeline uses for
    quality weighting (the original crawl-prioritization signal).
    Uniform teleport: every node gets ``(1-d)/n`` per round and starts
    at ``1/n``. ``n_iter`` is a small constant: at any scale the cost
    is n_iter scans of the edge list (see :func:`_rank_rounds`)."""
    e, nodes = _edges_and_nodes(edges)
    nstat = nodes.agg(F.count("*").alias("n"))
    n = F.col("n").cast("double")
    tagged = (
        nodes.crossJoin(F.broadcast(nstat))
        .select(
            "node",
            ((F.lit(1.0) - F.lit(damping)) / n).alias("tele"),
            (F.lit(1.0) / n).alias("r0"),
        )
        .localCheckpoint(eager=True)
    )
    return _rank_rounds(e, tagged, n_iter, damping)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to a SEED set
    instead of uniformly — scores become 'importance relative to the
    seeds', the propagation signal quality-weighting pipelines use to
    spread a small trusted-label set over a link graph (TrustRank
    family). Same round loop as :func:`pagerank`; only the teleport
    table differs: ``(1-d)/|S|`` per round and ``1/|S|`` at start on
    seeds, 0 elsewhere. Seeds not present in the graph are ignored
    (mass is normalized over seeds ∩ nodes)."""
    e, nodes = _edges_and_nodes(edges)
    s = seeds.select("node").distinct().join(nodes, "node")
    # degenerate seed set (seeds ∩ nodes = ∅) would divide by ns=0 and
    # silently turn every rank NULL — fail loudly instead; the probe is
    # a driver-side count on the (tiny) seed intersection only
    if s.limit(1).count() == 0:
        raise ValueError(
            "personalized_pagerank: no seed appears in the graph "
            "(seeds ∩ nodes is empty) — ranks would be undefined"
        )
    sstat = s.agg(F.count("*").alias("ns"))
    ns = F.col("ns").cast("double")
    tagged = (
        nodes.join(s.select(F.col("node"), F.lit(True).alias("is_seed")), "node", "left")
        .crossJoin(F.broadcast(sstat))
        .select(
            "node",
            F.when(F.col("is_seed"), (F.lit(1.0) - F.lit(damping)) / ns)
            .otherwise(F.lit(0.0))
            .alias("tele"),
            F.when(F.col("is_seed"), F.lit(1.0) / ns).otherwise(F.lit(0.0)).alias("r0"),
        )
        .localCheckpoint(eager=True)
    )
    return _rank_rounds(e, tagged, n_iter, damping)
