"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: PageRank to 1e-6 convergence on the part
co-purchase graph derived from sf0.001 (the BASELINE.json metric's query
shape: iterative PageRank over a derived edge table).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators, checked against
DuckDB at sf0.01. Graph queries run over the co-purchase / customer-order
edge tables (sources/edges.py) so oracles stay ANSI-SQL. Fixed-round
iterative kernels (PageRank x3 variants, label propagation, k-core) are
oracle-checked via UNROLLED materialized CTEs (generators below);
converged-fixpoint variants and hash-function-defined operators
(MinHash/SimHash/LSH, IVF) remain rows-only here and are
exact-oracle-tested in tests/ instead.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import md5_60, portable_hash
from paragrapher_spark.functions.text import detect_language, fingerprint, text_stats
from paragrapher_spark.graph import Graph, edges_from_corpus, undirected_pairs
from paragrapher_spark.kernels.bfs import bfs
from paragrapher_spark.kernels.components import component_sizes, connected_components
from paragrapher_spark.kernels.degrees import degree_distribution, top_k_degrees
from paragrapher_spark.kernels.hits import hits
from paragrapher_spark.kernels.hyperball import hyperball
from paragrapher_spark.kernels.labelprop import label_propagation, modularity
from paragrapher_spark.kernels.betweenness import (
    betweenness,
    closeness_centrality,
    harmonic_centrality,
    shortest_path_levels,
)
from paragrapher_spark.kernels.linkpred import assortativity, link_prediction
from paragrapher_spark.kernels.coreness import coreness
from paragrapher_spark.kernels.ktruss import ktruss
from paragrapher_spark.kernels.mis import maximal_independent_set
from paragrapher_spark.kernels.neighborhood import neighbor_feature_agg
from paragrapher_spark.kernels.scc import condensation, scc
from paragrapher_spark.kernels.coloring import greedy_coloring
from paragrapher_spark.kernels.katz import eigencentrality, katz
from paragrapher_spark.kernels.toposort import topo_levels
from paragrapher_spark.kernels.walks import random_walks
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.kcore import kcore
from paragrapher_spark.kernels.sssp import sssp
from paragrapher_spark.kernels.triangles import (
    clustering_coefficient,
    triangle_count,
    triangles_per_vertex,
)
from paragrapher_spark.operators.dedup import (
    dedup_exact,
    embedding_dup_pairs,
    exact_dup_groups,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from paragrapher_spark.operators.multimodal import media_stats, synth_media
from paragrapher_spark.operators.sampling import sample_hash, threshold_for
from paragrapher_spark.streaming.events import funnel_stages
from paragrapher_spark.operators.indexing import prefix_sum
from paragrapher_spark.operators.similarity import knn_bruteforce, knn_ivf, knn_lsh
from paragrapher_spark.sources.corpus import (
    N_PATH_DIRS,
    callgraph_vertex_count,
    synth_callgraph_corpus_sql,
    synth_corpus,
    synth_corpus_sql,
)
from paragrapher_spark.sources.edges import (
    COPURCHASE_EDGES_SQL,
    COPURCHASE_WEIGHTED_EDGES_SQL,
    CUSTOMER_ORDER_EDGES_SQL,
    copurchase_edges,
    copurchase_weighted_edges,
    customer_order_edges,
    load_table,
    md5_vertex_graph,
    md5_vertex_graph_sql,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    edges = copurchase_edges(spark, "/root/testdata/sf0.001")
    res = pagerank(edges, tol=1e-6, max_iter=50)
    return res.ranks.select("id", "rank")


# ---------------------------------------------------------------------------
# graph kernel queries
# ---------------------------------------------------------------------------


def _q_graph_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|V|, |E|, max/avg degrees of the co-purchase graph — the reference's
    GET_VERTICES_COUNT / GET_EDGES_COUNT metadata options
    (`src/webgraph.c:456-462`) plus the degree extremes its test1 prints."""
    edges = copurchase_edges(spark, sf_dir)
    deg_out = edges.groupBy("src").count()
    deg_in = edges.groupBy("dst").count()
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        verts.agg(F.count(F.lit(1)).alias("vertices"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("edges")))
        .crossJoin(deg_out.agg(F.max("count").alias("max_out_degree")))
        .crossJoin(deg_in.agg(F.max("count").alias("max_in_degree")))
        .select(
            F.col("vertices").cast("long"),
            F.col("edges").cast("long"),
            F.col("max_out_degree").cast("long"),
            F.col("max_in_degree").cast("long"),
            F.round(
                F.col("edges").cast("double") / F.col("vertices").cast("double"), 6
            ).alias("avg_degree"),
        )
    )


def _q_in_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return degree_distribution(edges, direction="in").select(
        F.col("degree").cast("long").alias("degree"),
        F.col("frequency").cast("long").alias("frequency"),
    )


def _q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = customer_order_edges(spark, sf_dir)
    return top_k_degrees(edges, k=20, direction="out").select(
        F.col("id").cast("long").alias("id"),
        F.col("out_degree").cast("long").alias("out_degree"),
    )


def _q_csr_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = customer_order_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    out = prefix_sum(deg, ["id"], "out_degree", out_col="offset", num_partitions=8)
    return out.select(
        F.col("id").cast("long"),
        F.col("out_degree").cast("long"),
        F.col("offset").cast("long"),
    )


def _q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGED PageRank under the oracle gate: the DuckDB twin unrolls
    40 materialized rounds, computes the same per-round L-inf delta, and
    selects the FIRST round whose delta < tol — the kernel's exact
    termination rule (kernels/pagerank.py:300), so the data-dependent
    iteration count needs no carve-out. round(rank, 6) absorbs the
    ~1e-16 float-summation-order noise (same contract as the *_fixed
    variants)."""
    edges = copurchase_edges(spark, sf_dir)
    res = pagerank(edges, tol=1e-6, max_iter=60)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start (incremental) PageRank under the oracle gate: converge
    on yesterday's graph (a deterministic ~90% edge subset), then
    re-converge on today's full graph starting from yesterday's vector
    (kernels/pagerank.py ``init_ranks``) — the daily-delta update path a
    100 TB link graph actually runs, where re-starting from uniform
    wastes most of the supersteps. The unique fixpoint means the answer
    equals a cold run's; the oracle replays the SAME two-phase
    trajectory (phase-1 delta-terminated unroll nested as phase 2's pr0)
    so both engines stop on the same superstep and round(6) gates
    exactly. tests/test_pagerank.py asserts the warm phase takes fewer
    supersteps than cold."""
    edges = copurchase_edges(spark, sf_dir)
    old = edges.where((F.col("src") * 7919 + F.col("dst")) % 10 != 0)
    warm = pagerank(old, tol=1e-6, max_iter=60)
    res = pagerank(edges, tol=1e-6, max_iter=60, init_ranks=warm.ranks)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_wcc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = connected_components(edges)
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


def _q_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental WCC under the oracle gate
    (kernels/components.py incremental_components): label yesterday's
    ~90% edge subset cold, then merge only the delta's edges into the
    resulting star forest. Labels are min-ids, so the warm result is
    bit-identical to a cold full-graph run — the oracle is the SAME
    closure SQL as wcc_labels (trajectory-independent), which is the
    strongest possible gate: any warm-start shortcut error shows as a
    label mismatch."""
    from paragrapher_spark.kernels.components import incremental_components

    edges = copurchase_edges(spark, sf_dir)
    in_old = (F.col("src") * 7919 + F.col("dst")) % 10 != 0
    prev = connected_components(edges.where(in_old))
    delta = edges.where(~in_old)
    res = incremental_components(prev.components, delta)
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


def _q_wcc_decremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental WCC under the oracle gate
    (kernels/components.py decremental_components — the deletion half of
    the daily-delta story): label the FULL graph cold, delete a ~10% edge
    batch, then re-solve only the components the deleted edges touched,
    keeping every untouched label verbatim. Labels are min-ids, so the
    warm-with-removals result is bit-identical to a cold run on the
    reduced edge set — the oracle is the trajectory-independent closure
    SQL over the REMAINING edges (with the original vertex set, so
    vertices isolated by the removal stay as singletons on both sides).
    Any affected-set under-reach or stale-label leak shows as a label
    mismatch."""
    from paragrapher_spark.kernels.components import decremental_components

    edges = copurchase_edges(spark, sf_dir)
    removed_pred = (F.col("src") * 7919 + F.col("dst")) % 10 == 3
    prev = connected_components(edges)
    res = decremental_components(
        prev.components,
        remaining_edges=edges.where(~removed_pred),
        removed_edges=edges.where(removed_pred),
    )
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


def _q_wcc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = connected_components(edges)
    return component_sizes(res.components).select(
        F.col("component").cast("long"), F.col("size").cast("long")
    )


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return triangle_count(edges).select(F.col("triangles").cast("long"))


def _q_triangle_count_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance under the oracle gate
    (kernels/triangles.py delta_triangles): count yesterday's ~90% edge
    subset cold, then add exactly the distinct full-graph triangles that
    touch a delta edge — work proportional to the delta's degree mass,
    not |E|. The oracle is the SAME trajectory-independent full-graph
    count as `triangle_count`, so any double-count or miss in the
    incremental path shows as a value mismatch."""
    from paragrapher_spark.kernels.triangles import delta_triangles

    edges = copurchase_edges(spark, sf_dir)
    in_old = (F.col("src") * 7919 + F.col("dst")) % 10 != 0
    prev = triangle_count(edges.where(in_old)).select(
        F.col("triangles").alias("c")
    )
    delta = delta_triangles(edges, edges.where(~in_old)).select(
        F.col("new_triangles").alias("c")
    )
    return (
        prev.unionByName(delta)
        .agg(F.sum("c").cast("long").alias("triangles"))
    )


def _q_triangle_count_decremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental triangle maintenance under the oracle gate: count the
    FULL graph cold, then SUBTRACT exactly the distinct full-graph
    triangles that contain at least one edge of a ~10% removal batch
    (kernels/triangles.py delta_triangles applied to the removal side: a
    triangle survives a deletion batch iff it contains no removed edge,
    so total_after = total_before - |triangles touching removed|; the
    sorted-triple distinct counts a triangle losing 2-3 edges once).
    Work is proportional to the removal's degree mass, not |E|. Oracle:
    the trajectory-independent cold count over the remaining edges."""
    from paragrapher_spark.kernels.triangles import delta_triangles

    edges = copurchase_edges(spark, sf_dir)
    removed_pred = (F.col("src") * 7919 + F.col("dst")) % 10 == 3
    full = triangle_count(edges).select(F.col("triangles").alias("c"))
    lost = delta_triangles(edges, edges.where(removed_pred)).select(
        (-F.col("new_triangles")).alias("c")
    )
    return full.unionByName(lost).agg(
        F.sum("c").cast("long").alias("triangles")
    )


def _q_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global 4-cycle count (kernels/triangles.py square_count —
    the diagonal identity sum C(lam,2)/2, all-integer) on the
    copurchase graph; oracle replays the identical identity in SQL."""
    from paragrapher_spark.kernels.triangles import square_count

    edges = copurchase_edges(spark, sf_dir)
    return square_count(edges).select(F.col("squares").cast("long"))


def _q_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected hop distances from the smallest vertex id, capped at 6
    hops — frontier-superstep BFS vs the DuckDB recursive-CTE oracle."""
    edges = copurchase_edges(spark, sf_dir)
    src = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    res = bfs(edges, [int(src)], directed=False, max_depth=6)
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long")
    )


_SSSP_UNROLL = 24


def _q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the arc-labelled (WG404-
    style) co-purchase graph from the smallest vertex id, undirected.
    Oracle: synchronous Bellman-Ford unrolled as materialized CTE rounds
    (frontier relaxation reaches the identical round-k state; past the
    fixpoint extra rounds are exact — the k-core argument)."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    src = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    res = sssp(edges, [int(src)], directed=False, max_iter=_SSSP_UNROLL + 1)
    # the oracle materializes _SSSP_UNROLL relaxation rounds; fail HERE
    # with the cause if a bigger SF ever needs more (the k-core guard)
    if not res.converged or res.iterations > _SSSP_UNROLL:
        raise AssertionError(
            f"sssp took {res.iterations} rounds (converged={res.converged}) "
            f"vs the oracle's {_SSSP_UNROLL}-round unroll; raise _SSSP_UNROLL"
        )
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long")
    )


def _q_hyperball_balls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (the WebGraph framework's companion algorithm) at radius 3
    on the undirected co-purchase graph: per-vertex ball-size estimate +
    harmonic centrality. A SKETCH under the exact-hash gate: registers use
    the portable md5 hash family and an exact-integer estimator, so DuckDB
    reproduces every register and every rounded double bit-for-bit."""
    edges = copurchase_edges(spark, sf_dir)
    res = hyperball(edges, radius=3, directed=False)
    return res.states.select(
        F.col("id").cast("long"),
        F.col("ball").cast("double"),
        F.col("harmonic").cast("double"),
    )


_NF_RADIUS = 6


def _q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperANF use-case on top of the HyperBall kernel: the
    neighborhood function nf(t) (how many (v, u) pairs lie within
    distance t) per radius 0..6, coverage fraction vs the final radius,
    and the effective diameter — the minimal t with nf(t) >= 0.9*nf(R),
    decided by the all-integer comparison nf(t)*10 >= 9*nf(R) (Boldi-
    Vigna-Rosa, HyperANF WWW'11; WebGraph's own diameter analytic).
    Driver work is O(radius) ints — the per-radius nf values ride the
    kernel's existing one-action-per-round sums."""
    edges = copurchase_edges(spark, sf_dir)
    res = hyperball(edges, radius=_NF_RADIUS, directed=False)
    nf = res.nf
    nf_r = nf[-1]
    eff = min(t for t in range(len(nf)) if nf[t] * 10 >= 9 * nf_r)
    rows = [
        (t, nf[t], float(nf[t]) / float(nf_r), t == eff)
        for t in range(len(nf))
    ]
    return spark.createDataFrame(
        rows,
        "radius int, nf long, coverage double, is_effective_diameter boolean",
    )


def _q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient C = 3*T/W of the co-purchase graph
    (kernels/triangles.py transitivity): exact triangle and wedge longs
    (wedges summed with integer div — no double accumulation), C is ONE
    IEEE division."""
    from paragrapher_spark.kernels.triangles import transitivity

    edges = copurchase_edges(spark, sf_dir)
    return transitivity(edges)


def _q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural embeddedness (common-neighbor count) per canonical
    undirected co-purchase edge (kernels/triangles.py edge_embeddedness) —
    all-integer, zero-support edges (local bridges) included."""
    from paragrapher_spark.kernels.triangles import edge_embeddedness

    edges = copurchase_edges(spark, sf_dir)
    return edge_embeddedness(edges).select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("embeddedness").cast("long"),
    )


_PSEUDO_DIAM_SWEEPS = 3
_PSEUDO_DIAM_UNROLL = 16


def _q_pseudo_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep pseudo-diameter lower bound of the co-purchase graph
    (kernels/bfs.py pseudo_diameter): BFS from the max-degree vertex,
    re-BFS from the farthest vertex, 3 sweeps; one row per sweep
    (sweep, source, ecc, farthest) — all-integer, deterministic
    tie-breaks (min id), gated bit-for-bit against the unrolled-BFS
    oracle. The result table is O(sweeps) rows by construction."""
    from paragrapher_spark.kernels.bfs import pseudo_diameter

    edges = copurchase_edges(spark, sf_dir)
    res = pseudo_diameter(edges, sweeps=_PSEUDO_DIAM_SWEEPS, max_depth=64)
    if res.max_depth_seen > _PSEUDO_DIAM_UNROLL:
        raise AssertionError(
            f"BFS depth {res.max_depth_seen} > the oracle's "
            f"{_PSEUDO_DIAM_UNROLL}-level unroll; raise _PSEUDO_DIAM_UNROLL"
        )
    return spark.createDataFrame(
        [
            (int(r["sweep"]), int(r["source"]), int(r["ecc"]), int(r["farthest"]))
            for r in res.sweeps
        ],
        "sweep long, source long, ecc long, farthest long",
    )


def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club curve of the co-purchase graph (kernels/degrees.py
    rich_club): phi(k) per degree threshold from suffix sums over two
    tiny histograms — n_k/e_k exact longs, phi ONE IEEE division."""
    from paragrapher_spark.kernels.degrees import rich_club

    edges = copurchase_edges(spark, sf_dir)
    return rich_club(edges).select(
        F.col("k").cast("long"),
        F.col("n_k").cast("long"),
        F.col("e_k").cast("long"),
        "phi",
    )


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc reciprocity of the DIRECTED import graph (the Newman-style
    directed-graph scalar: the fraction of arcs whose reverse arc also
    exists — mutual imports are the precursor of the cyclic-import SCCs
    `scc_imports` detects). Exact longs + ONE IEEE division; one
    self-left-join over the deduped arc set."""
    corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    e = (
        g.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("has_rev", F.lit(1))
    flagged = e.join(rev, on=["src", "dst"], how="left")
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("arcs"),
        F.coalesce(F.sum("has_rev"), F.lit(0)).cast("long").alias("reciprocated"),
    ).withColumn(
        "reciprocity",
        F.col("reciprocated").cast("double") / F.col("arcs").cast("double"),
    )


def _q_hits_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS, 8 synchronous rounds, end-normalized, on the
    directed customer->order graph. Oracle: 8 unrolled materialized CTE
    rounds. At sf<=0.01 every intermediate is an exact integer in double
    (max degree^8 < 2^53), so the hash match is exact, not rounding-luck."""
    edges = customer_order_edges(spark, sf_dir)
    res = hits(edges, iterations=8)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("authority").cast("double"),
        F.col("hub").cast("double"),
    )


def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return triangles_per_vertex(edges).select(
        F.col("id").cast("long"), F.col("triangles").cast("long")
    )


def _q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return clustering_coefficient(edges).select(
        F.col("id").cast("long"),
        F.col("degree").cast("long"),
        F.col("triangles").cast("long"),
        "coeff",
    )


_KCORE_UNROLL = 32


def _q_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the 64-core of the co-purchase graph. Oracle: the peel
    unrolled as materialized DuckDB CTEs (idempotent past the fixpoint, so
    over-unrolling is exact). k=64 sits just above the graph's min degree
    at these SFs, so the peel actually cascades before stabilizing."""
    edges = copurchase_edges(spark, sf_dir)
    res = kcore(edges, k=64)
    # the oracle below materializes _KCORE_UNROLL peel rounds; if a bigger
    # SF ever needs more, fail HERE with the cause rather than letting the
    # gate report an opaque hash mismatch (ADVICE r2)
    if res.rounds > _KCORE_UNROLL:
        raise AssertionError(
            f"k-core peel took {res.rounds} rounds > the oracle's "
            f"{_KCORE_UNROLL}-round unroll; raise _KCORE_UNROLL"
        )
    return res.vertices.select(F.col("id").cast("long"))


_MIS_UNROLL = 16


def _q_mis_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographically-first maximal independent set (deterministic
    Luby, kernels/mis.py) of the co-purchase graph, with the Luby round
    that decided each member. Oracle: the rounds unrolled as materialized
    DuckDB CTEs — past the fixpoint the undecided set is empty so every
    further round's winner CTE is empty (over-unrolling exact, the kcore
    pattern)."""
    edges = copurchase_edges(spark, sf_dir)
    res = maximal_independent_set(edges)
    if res.rounds > _MIS_UNROLL:
        raise AssertionError(
            f"MIS took {res.rounds} rounds > the oracle's "
            f"{_MIS_UNROLL}-round unroll; raise _MIS_UNROLL"
        )
    return res.members.select(
        F.col("id").cast("long"), F.col("round").cast("int")
    )


_CORENESS_UNROLL = 24


def _q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number of EVERY vertex of the co-purchase graph via the
    neighborhood H-index iteration (kernels/coreness.py) — the full
    decomposition completing the single-k `kcore_members` peel. Oracle:
    the iteration unrolled as materialized DuckDB CTEs (all-integer,
    idempotent at the fixpoint, so over-unrolling is exact). 19 rounds
    converge at sf0.01; the guard fails loudly if a bigger SF ever needs
    more than the unroll."""
    edges = copurchase_edges(spark, sf_dir)
    res = coreness(edges)
    if res.rounds > _CORENESS_UNROLL:
        raise AssertionError(
            f"coreness took {res.rounds} rounds > the oracle's "
            f"{_CORENESS_UNROLL}-round unroll; raise _CORENESS_UNROLL"
        )
    return res.vertices.select(
        F.col("id").cast("long"), F.col("coreness").cast("long")
    )


_KTRUSS_K = 12
_KTRUSS_UNROLL = 12


def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-truss of the co-purchase graph (kernels/ktruss.py): surviving
    canonical edges with their fixpoint triangle support. k=12 sits just
    above the sf0.01 median support (10), so the peel cascades for several
    rounds before stabilizing on a non-empty truss. Oracle: the peel
    unrolled as materialized DuckDB CTEs — support recounted per round via
    the common-neighbor join; past the fixpoint each extra round recomputes
    the same support over the same edge set (over-unrolling exact, the
    kcore pattern)."""
    edges = copurchase_edges(spark, sf_dir)
    res = ktruss(edges, k=_KTRUSS_K)
    if res.rounds > _KTRUSS_UNROLL:
        raise AssertionError(
            f"k-truss peel took {res.rounds} rounds > the oracle's "
            f"{_KTRUSS_UNROLL}-round unroll; raise _KTRUSS_UNROLL"
        )
    return res.edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("support").cast("long"),
    )


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = label_propagation(edges, max_iter=10)
    return res.labels.select(F.col("id").cast("long"), F.col("label").cast("long"))


def _q_import_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline end-to-end: synthetic source-code corpus ->
    vectorized import extraction -> dense-id edge table -> CONVERGED
    PageRank. The corpus hash family is md5-derived (sources/corpus.py),
    so the DuckDB oracle regenerates the exact skewed link structure from
    the generator's formulas and runs the same delta-terminated unrolled
    supersteps — the full pipeline sits under the gate."""
    corpus = synth_corpus(spark, n_files=2000, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(g.edges, vertices=g.vertices, tol=1e-6, max_iter=60)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_import_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted variant: rank flows proportionally to import-site counts
    (edge weight) — the reference's WG404 arc-labelled capability
    (`src/WG404AP.java:171-182`). Oracle: same md5-regenerated corpus
    edges, weighted coef = w / Σ_out w, delta-terminated unroll."""
    corpus = synth_corpus(spark, n_files=2000, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(
        g.edges, vertices=g.vertices, tol=1e-6, max_iter=60, weight_col="weight"
    )
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings / events)
# ---------------------------------------------------------------------------


def _q_import_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline END TO END under the oracle gate: synthetic
    source-code corpus (SQL-reproducible arithmetic twin) -> vectorized
    import extraction (regexp over content) -> dense-id minting by global
    (repo, path) rank -> weighted PageRank, 8 fixed supersteps. The DuckDB
    oracle regenerates the identical link structure from the generator's
    formulas (no string parsing needed — verifying that extraction
    recovered exactly the generated imports IS the check) and unrolls the
    same superstep arithmetic."""
    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(g.edges, tol=0.0, max_iter=8, weight_col="weight")
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the 10 smallest least(src,dst)
    values — restart + dangling mass return to the seed set. Converged
    variant under the oracle gate via the same delta-terminated unroll as
    pagerank_copurchase (numpy twin additionally in tests/test_pagerank.py)."""
    edges = copurchase_edges(spark, sf_dir)
    seeds = [r[0] for r in edges.select(F.least("src", "dst")).distinct().orderBy(F.least("src", "dst")).limit(10).collect()]
    res = pagerank(edges, tol=1e-6, max_iter=60, teleport=seeds)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_pagerank_fixed8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship kernel under the oracle gate: exactly 8 damped
    supersteps (tol=0 disables early exit) with dangling redistribution,
    ranks rounded to 6 decimals on both sides. The converged variant
    (pagerank_copurchase) stays rows-only; this pins the superstep
    arithmetic itself against an unrolled DuckDB CTE."""
    edges = copurchase_edges(spark, sf_dir)
    res = pagerank(edges, tol=0.0, max_iter=8)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_pagerank_personalized_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized variant under the oracle gate: teleport = 10 smallest
    vertex ids (uniform), 8 fixed supersteps; restart AND dangling mass
    return to the seed set per the teleport vector."""
    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = [r[0] for r in verts.orderBy("id").limit(10).collect()]
    res = pagerank(edges, tol=0.0, max_iter=8, teleport=seeds)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_pagerank_weighted_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted variant under the oracle gate: co-purchase arcs weighted by
    shared-order count, rank distributed proportionally to weights
    (coef = w / Σ_out w), 8 fixed supersteps."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    res = pagerank(edges, tol=0.0, max_iter=8, weight_col="weight")
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dup_groups(docs).select(
        "content_hash",
        F.col("n_docs").cast("long"),
        F.col("rep_id").cast("long"),
    )


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_stats(docs)


_STRAT_FRACTIONS = {"en": 0.5, "zh": 0.9}
_STRAT_DEFAULT = 0.2
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sample of the documents table
    (operators/sampling.py): en at 0.5, zh at 0.9, everything else at the
    0.2 default — keyed on doc_id, so every keep decision is a pure
    function of the row and the DuckDB oracle replays it bit-for-bit."""
    from paragrapher_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", _STRAT_FRACTIONS, ["doc_id"], default_fraction=_STRAT_DEFAULT
    ).select(F.col("doc_id").cast("long"), "lang")


def _q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) of the
    documents table (operators/sampling.py): the 60-bit md5 hash space
    cut at the cumulative-weight boundaries; disjoint, exhaustive, and
    stable when the corpus grows."""
    from paragrapher_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return assign_splits(docs, _SPLIT_WEIGHTS, ["doc_id"]).select(
        F.col("doc_id").cast("long"), "split"
    )


def _q_vocab_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size per language, twice: exact COUNT(DISTINCT) and the
    deterministic HLL sketch (operators/sketches.py — the hyperball
    register machinery lifted to relational group-by shape). BOTH columns
    sit under the gate: the sketch replays bit-for-bit in SQL, so this is
    an approximate operator with exact-hash correctness evidence."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    est = hll_distinct(toks, ["lang"], "term", tag="vocab")
    exact = toks.groupBy("lang").agg(
        F.countDistinct("term").cast("long").alias("exact_distinct")
    )
    return est.join(exact, on="lang").select(
        "lang", "exact_distinct", "approx_distinct"
    )


def _vocab_per_lang_sql() -> str:
    """_q_vocab_per_lang's twin: sparse (lang, reg, rho) register rows
    merged by GROUP BY max, estimator transliterated from
    hyperball.ball_estimate (exact-BIGINT denominator, literal ln table)."""
    from paragrapher_spark.kernels.hyperball import (
        EST_NUM,
        LN_TABLE,
        M,
        RHO_CAP,
        SMALL_RANGE,
    )

    ln_case = " ".join(
        f"WHEN {z} THEN {LN_TABLE[z - 1]!r}" for z in range(1, M + 1)
    )
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT lang, unnest({_TOKENS}) AS term FROM documents
    ),
    hv AS MATERIALIZED (
        SELECT lang,
               ('0x' || substr(md5(concat_ws(':', 'vocab', '42', term)),
                   1, 15))::BIGINT AS h
        FROM (SELECT DISTINCT lang, term FROM toks)
    ),
    regs AS MATERIALIZED (
        SELECT lang, h % {M} AS reg,
               MAX(CASE WHEN h // {M} = 0 THEN {RHO_CAP}
                        ELSE LEAST(1 + bit_count(((h // {M}) & -(h // {M})) - 1),
                                   {RHO_CAP})
                   END) AS rho
        FROM hv GROUP BY lang, reg
    ),
    est AS (
        SELECT lang, ROUND(CASE WHEN raw <= {SMALL_RANGE!r} AND zeros > 0
                                THEN CASE zeros {ln_case} END
                           ELSE raw END, 6) AS approx_distinct
        FROM (
            SELECT lang, {EST_NUM!r} / CAST(denom AS DOUBLE) AS raw, zeros
            FROM (
                SELECT lang,
                       SUM(CAST(1 AS BIGINT) << ({RHO_CAP} - rho))
                           + ({M} - COUNT(*)) * CAST({2**RHO_CAP} AS BIGINT)
                           AS denom,
                       {M} - COUNT(*) AS zeros
                FROM regs GROUP BY lang
            )
        )
    ),
    exact AS (
        SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct
        FROM toks GROUP BY lang
    )
    SELECT e.lang, x.exact_distinct, e.approx_distinct
    FROM est e JOIN exact x ON x.lang = e.lang
    """


_BM25_TERMS = ("spark", "vector", "hash")
_BM25_K = 10
_BM25_SCALE = 1_000_000


_INVIDX_TOPK = 20
_INVIDX_MIN_DF = 2


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index (functions/text.py inverted_index):
    the 20 highest-df terms with their full ascending posting lists
    (comma-joined — strings survive every engine's value compare) — the
    batch index bm25_topk-style retrieval serves from; an inverted
    index is a bipartite adjacency, so the gap-bits analytic prices its
    compression."""
    from paragrapher_spark.functions.text import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_index(docs, min_df=_INVIDX_MIN_DF)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_INVIDX_TOPK)
    )


def _inverted_index_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id AS id, unnest({_TOKENS}) AS term FROM documents
    ),
    idx AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(list_sort(list(id)), ',') AS postings
        FROM toks GROUP BY term
        HAVING COUNT(*) >= {_INVIDX_MIN_DF}
    )
    SELECT term, df, postings FROM idx
    ORDER BY df DESC, term
    LIMIT {_INVIDX_TOPK}
"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped retrieval (functions/text.py bm25_topk): top-10 docs
    for the query terms (spark, vector, hash) with k1=6/5, b=3/4 and the
    log-free RSJ odds-ratio term weight, every step exact integer fixed
    point at 1e6 scale — probabilistic ranking under the exact-hash
    gate, no libm between engines."""
    from paragrapher_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, list(_BM25_TERMS), k=_BM25_K, scale=_BM25_SCALE).select(
        F.col("doc_id").cast("long"), "score_fp", "n_hit"
    )


def _bm25_topk_sql() -> str:
    """_q_bm25_topk's twin: same integer fixed-point pipeline — dl/tf/df
    aggregates, avgdl = total div N, per-term score one ``//`` division,
    exact long sum, (score DESC, id) top-k."""
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS id, unnest({_TOKENS}) AS term FROM documents
    ),
    dl AS MATERIALIZED (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY id
    ),
    corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgdl
        FROM dl
    ),
    tf AS MATERIALIZED (
        SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        WHERE term IN ({terms_sql}) GROUP BY id, term
    ),
    dft AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT t.id,
               (CAST({_BM25_SCALE} AS BIGINT) * (2*c.n_docs - 2*d.df + 1)
                    * t.tf * 44 * c.avgdl)
                   // ((2*d.df + 1)
                       * (20*c.avgdl*t.tf + 6*c.avgdl + 18*l.dl)) AS term_fp
        FROM tf t
        JOIN dft d USING (term)
        JOIN dl l ON l.id = t.id
        CROSS JOIN corpus c
    )
    SELECT id AS doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp,
           CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM scored GROUP BY id
    ORDER BY score_fp DESC, id
    LIMIT {_BM25_K}
    """


_CMS_D = 4
_CMS_W = 256
_CMS_TOPK = 20


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens under a Count-Min sketch
    (operators/sketches.py cms_sketch/cms_estimate, Cormode &
    Muthukrishnan 2005): the 20 most frequent whitespace tokens with
    exact count, the CMS estimate (d=4, w=256, md5 hash family), and the
    sketch's never-underestimates guarantee as a gated boolean column —
    an approximate operator under exact-hash correctness evidence, the
    vocab_per_lang pattern."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import cms_estimate, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = cms_sketch(toks, "term", depth=_CMS_D, width=_CMS_W)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(_CMS_TOPK)
    )
    est = cms_estimate(sketch, top, "term", depth=_CMS_D, width=_CMS_W)
    return est.select(
        "term",
        "exact_cnt",
        F.col("cms_est").cast("long"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimates"),
    )


def _cms_heavy_hitters_sql() -> str:
    """_q_cms_heavy_hitters' twin: the d x w counter table rebuilt by
    GROUP BY, probes replayed with the same 'cms:i' tags, MIN over the
    depth rows."""
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT unnest({_TOKENS}) AS term FROM documents
    ),
    top AS MATERIALIZED (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY term
        ORDER BY exact_cnt DESC, term
        LIMIT {_CMS_TOPK}
    ),
    sk AS MATERIALIZED (
        SELECT r.i AS row,
               ('0x' || substr(md5(concat_ws(':',
                   'cms:' || CAST(r.i AS VARCHAR), '42', term)),
                   1, 15))::BIGINT % {_CMS_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks CROSS JOIN range({_CMS_D}) r(i)
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT t.term, t.exact_cnt, r.i AS row,
               ('0x' || substr(md5(concat_ws(':',
                   'cms:' || CAST(r.i AS VARCHAR), '42', t.term)),
                   1, 15))::BIGINT % {_CMS_W} AS bucket
        FROM top t CROSS JOIN range({_CMS_D}) r(i)
    )
    SELECT p.term, p.exact_cnt,
           CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_est,
           MIN(COALESCE(s.cnt, 0)) >= p.exact_cnt AS overestimates
    FROM probe p LEFT JOIN sk s ON s.row = p.row AND s.bucket = p.bucket
    GROUP BY p.term, p.exact_cnt
    """


_BLOOM_BITS = 1024
_BLOOM_HASHES = 5
_BLOOM_PROBE_K = 30


def _q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-pass (operators/sketches.py
    bloom_build/bloom_probe, Bloom CACM 1970): the filter is built over
    the vocabulary of 'en' documents (a stand-in benchmark set — the
    decontamination shape: ship the broadcast-sized filter, not the
    set), probed with the 30 most frequent global terms; exact
    membership, the bloom verdict, AND the no-false-negatives guarantee
    are all gated columns."""
    from paragrapher_spark.functions.text import tokens
    from paragrapher_spark.operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    members = toks.where(F.col("lang") == "en").select("term").distinct()
    bloom = bloom_build(
        members, "term", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_BLOOM_PROBE_K)
        .select("term")
    )
    exact = members.withColumn("exact_member", F.lit(True))
    probed = bloom_probe(
        bloom, top, "term", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES
    )
    return (
        probed.join(exact, on="term", how="left")
        .select(
            "term",
            F.coalesce(F.col("exact_member"), F.lit(False)).alias("exact_member"),
            "maybe_member",
            # Bloom's one-sided guarantee: member => maybe_member
            (F.col("maybe_member") | ~F.coalesce(
                F.col("exact_member"), F.lit(False)
            )).alias("no_false_negative"),
        )
    )


def _bloom_membership_sql() -> str:
    """_q_bloom_membership's twin: set-bit relation rebuilt by DISTINCT,
    probes replayed with the same 'bloom:i' tags, ALL-bits-found
    verdict."""
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT lang, unnest({_TOKENS}) AS term FROM documents
    ),
    members AS MATERIALIZED (
        SELECT DISTINCT term FROM toks WHERE lang = 'en'
    ),
    bits AS MATERIALIZED (
        SELECT DISTINCT
               ('0x' || substr(md5(concat_ws(':',
                   'bloom:' || CAST(r.i AS VARCHAR), '42', term)),
                   1, 15))::BIGINT % {_BLOOM_BITS} AS bit
        FROM members CROSS JOIN range({_BLOOM_HASHES}) r(i)
    ),
    top AS MATERIALIZED (
        SELECT term FROM (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY term
            ORDER BY cnt DESC, term
            LIMIT {_BLOOM_PROBE_K}
        )
    ),
    probe AS (
        SELECT t.term, r.i,
               ('0x' || substr(md5(concat_ws(':',
                   'bloom:' || CAST(r.i AS VARCHAR), '42', t.term)),
                   1, 15))::BIGINT % {_BLOOM_BITS} AS bit
        FROM top t CROSS JOIN range({_BLOOM_HASHES}) r(i)
    ),
    verdict AS (
        SELECT p.term,
               COUNT(b.bit) = {_BLOOM_HASHES} AS maybe_member
        FROM probe p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY p.term
    )
    SELECT v.term,
           m.term IS NOT NULL AS exact_member,
           v.maybe_member,
           (v.maybe_member OR m.term IS NULL) AS no_false_negative
    FROM verdict v LEFT JOIN members m ON m.term = v.term
    """


_PACK_BUDGET = 200
_PACK_BUCKETS = 8


def _q_doc_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing (operators/packing.py): documents
    next-fit packed into 200-token packs within 8 md5 hash buckets —
    bucket, running token total, and pack id are all exact integer
    functions of the rows, replayed bit-for-bit by the oracle."""
    from paragrapher_spark.operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(
        docs, _PACK_BUDGET, n_buckets=_PACK_BUCKETS
    ).select(
        F.col("doc_id").cast("long"),
        F.col("bucket").cast("int"),
        F.col("n_tokens").cast("long"),
        F.col("tokens_before").cast("long"),
        F.col("pack_id").cast("long"),
    )


def _q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone: the whole training-data pipeline composed under ONE
    oracle — exact dedup (keep-min-id) -> MinHash near-dup clusters ->
    canonical representatives -> quality/length filter -> per-language
    stratified sample -> train/val/test split -> token-budget sequence
    packing. Six subsystems chained (dedup, components, text, sampling,
    splits, packing), every stage deterministic, the final
    (doc_id, lang, split, n_tokens, bucket, pack_id) assignment replayed
    bit-for-bit by the DuckDB twin."""
    from paragrapher_spark.operators.sampling import (
        assign_splits,
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(docs)
    pairs = minhash_candidates(kept, num_hashes=64, bands=16, threshold=0.35)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).components
    canon = (
        kept.join(comp, kept["doc_id"] == comp["id"], "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "text")
    )
    qual = text_stats(canon).where(
        (F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 8)
    )
    surv = qual.select("doc_id", "n_tokens").join(
        docs.select("doc_id", "lang"), on="doc_id"
    )
    sampled = stratified_sample(
        surv, "lang", _STRAT_FRACTIONS, ["doc_id"], default_fraction=_STRAT_DEFAULT
    )
    split = assign_splits(sampled, _SPLIT_WEIGHTS, ["doc_id"])
    h = portable_hash("pack", 42, "doc_id")
    withb = split.withColumn(
        "bucket", F.pmod(h, F.lit(_PACK_BUCKETS)).cast("int")
    )
    return withb.select(
        F.col("doc_id").cast("long"),
        "lang",
        "split",
        F.col("n_tokens").cast("long"),
        "bucket",
        F.expr(
            f"coalesce(sum(n_tokens) over (partition by split, bucket "
            f"order by doc_id rows between unbounded preceding and 1 "
            f"preceding), 0) div {_PACK_BUDGET}"
        ).cast("long").alias("pack_id"),
    )


def _q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION audit (operators/dedup.py
    split_contamination): per test-split document, how many of its
    distinct word 3-grams also occur anywhere in the train split — the
    n-gram collision rule every LLM pipeline runs before training. The
    split assignment is the deterministic md5 cut (doc_splits); the scale
    path is a left-semi join against the distinct train gram set (linear,
    no pair blow-up)."""
    from paragrapher_spark.operators.dedup import split_contamination
    from paragrapher_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    sp = assign_splits(docs, _SPLIT_WEIGHTS, ["doc_id"])
    res = split_contamination(sp, n=3)
    return res.select(
        F.col("doc_id").cast("long"),
        F.col("n_grams").cast("long"),
        F.col("n_shared").cast("long"),
        F.round("frac_shared", 6).alias("frac_shared"),
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py redact_pii) with deterministic
    planted PII: every 5th document gets a synthetic email + numeric id
    appended, then the scrub must find exactly them and the md5 of the
    scrubbed text must match the oracle's byte-for-byte (proving the
    replacement itself, not just the counts, is identical). Map-only JVM
    regex stage — the Dolma/CCNet redaction pass shape."""
    from paragrapher_spark.functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com ref "),
                (F.col("doc_id") * 7919 + 1000000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    res = redact_pii(planted)
    return res.select(
        F.col("doc_id").cast("long"),
        "n_email",
        "n_number",
        F.md5(F.col("scrubbed")).alias("scrubbed_md5"),
    )


def _q_doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document (functions/text.py
    top_terms): integer-exact TF/DF keyword extraction ranked
    (tf DESC, df ASC, term ASC) — the log-free TF-IDF ordering,
    WindowGroupLimit-bounded top-k. No df cap here: the synthetic corpus
    has a ~31-term vocabulary, so a boilerplate cap would empty the
    result (the cap itself is exercised in tests/test_top_terms.py)."""
    from paragrapher_spark.functions.text import top_terms

    docs = load_table(spark, sf_dir, "documents")
    return top_terms(docs, k=3)


def _q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data cleaning pipeline COMPOSED end-to-end: exact
    dedup (keep-min-id) -> token/quality stats -> language ID -> quality
    and length filters. One oracle-checked query proving the operators
    chain (the pipeline brief's actual shape, not just isolated pieces)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_exact(docs)
    stats = text_stats(kept)
    langs = kept.select(
        F.col("doc_id"), detect_language(F.col("text")).alias("lang_pred")
    )
    return (
        stats.join(langs, on="doc_id")
        .where((F.col("quality_score") >= 0.3) & (F.col("n_tokens") >= 8))
        .select(
            F.col("doc_id").cast("long"),
            F.col("n_tokens").cast("long"),
            "quality_score",
            "lang_pred",
        )
    )


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(detect_language(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(
        docs, num_hashes=64, bands=16, threshold=0.35
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "est_jaccard"
    )


def _q_near_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup and graph subsystems COMPOSED: MinHash+LSH candidate
    pairs (operators/dedup.py) become an undirected dup graph, Jayanti-
    Tarjan-equivalent WCC (kernels/components.py, min-id roots) groups
    transitive near-dups, and every document maps to the minimum doc_id
    of its dup cluster (itself when it has no near-dup) — the canonical-
    representative assignment a 100 TB cleaning pipeline actually runs.
    Oracle: the minhash SQL twin feeding a recursive-CTE closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs, num_hashes=64, bands=16, threshold=0.35)
    dup_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(dup_edges).components
    return (
        docs.select(F.col("doc_id").cast("long"))
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("canonical_id"),
        )
    )


def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, max_hamming=8).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("hamming").cast("long"),
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, threshold=0.4, method="exact").select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "score"
    )


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprints (order-sensitive content ids —
    the reference's converter checksum, test3:303). Oracle: DuckDB HUGEINT
    (int128) Horner fold over the hex-decoded utf-8 bytes — no int64
    overflow; also exact-tested in tests/test_dedup_text.py."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select(F.col("doc_id").cast("long"), "fingerprint")


def _q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregate over the deterministic synthetic
    media table (arithmetic-derived metadata => the DuckDB oracle
    regenerates it exactly from range()); payload decode paths are covered
    by the real PPM/WAV codec tests in tests/test_similarity_multimodal.py."""
    media = synth_media(spark, n=200)
    return media_stats(media)


def _q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 50)
    return knn_bruteforce(emb, queries=probes, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_lsh(emb, k=5, n_bits=16, bands=8).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paragrapher_spark.streaming.events import sessionize_batch

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30).select(
        F.col("user_id").cast("long"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long"),
        "sum_value",
    )


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed approximate all-pairs top-k (coarse k-means quantizer +
    probed buckets) — the scale path beside knn_lsh. Since r3 the Lloyd
    trainer is fixed-point (order-free int64 centroid sums) with a
    portable md5 seed hash, so the FULL pipeline — training included —
    sits under the DuckDB oracle (_knn_ivf_oracle_sql unrolls the same
    3 Lloyd rounds); recall vs brute force additionally pinned in
    tests/test_similarity_multimodal.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_ivf(emb, k=5, n_centroids=16, n_probe=4).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


# ---------------------------------------------------------------------------
# on-disk format roundtrips: BVGraph codec + binary CSR under the gate
# ---------------------------------------------------------------------------

# Arithmetic graph fixture (SQL-reproducible): deg(i) = (i % 7) + 37 hub
# boost every 97th vertex; dst(i,j) = (i*53 + j*j*19 + 11) % N, dedup'd.
_WG_FIXTURE_N = 1200


def _format_fixture_edges(spark: SparkSession) -> DataFrame:
    n = _WG_FIXTURE_N
    return (
        spark.range(n)
        .select(
            F.col("id").alias("src"),
            (
                (F.col("id") % 7)
                + F.when(F.col("id") % 97 == 0, F.lit(37)).otherwise(F.lit(0))
            ).alias("deg"),
        )
        .where(F.col("deg") > 0)
        .select(
            "src", F.explode(F.sequence(F.lit(1), F.col("deg"))).alias("j")
        )
        .select(
            "src",
            (
                (F.col("src") * 53 + F.col("j") * F.col("j") * 19 + 11)
                % F.lit(_WG_FIXTURE_N)
            ).alias("dst"),
        )
        .distinct()
    )


_FORMAT_FIXTURE_SQL = f"""
    SELECT DISTINCT CAST(i AS BIGINT) AS src,
           CAST((i * 53 + j * j * 19 + 11) % {_WG_FIXTURE_N} AS BIGINT) AS dst
    FROM (
        SELECT i,
               unnest(range(1, ((i % 7)
                   + CASE WHEN i % 97 = 0 THEN 37 ELSE 0 END) + 1)) AS j
        FROM range(0, {_WG_FIXTURE_N}) t(i)
    )
"""


def _format_fixture_graph(spark: SparkSession) -> Graph:
    edges = _format_fixture_edges(spark).withColumn(
        "weight", F.lit(1).cast("long")
    )
    m = edges.count()
    verts = spark.range(_WG_FIXTURE_N).select(
        "id",
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
    )
    return Graph(
        vertices=verts, edges=edges, num_vertices=_WG_FIXTURE_N, num_edges=m
    )


def _q_webgraph_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual input format end-to-end: encode the fixture
    graph as a BVGraph (`.graph`/`.offsets`/`.properties`, published
    Boldi–Vigna codes — `src/webgraph.c:84-390` decodes the same streams),
    then decode it back distributed (random-access via the offsets
    stream). The oracle regenerates the edge set arithmetically, so every
    bit of the codec sits under the gate."""
    import os
    import tempfile

    from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

    g = _format_fixture_graph(spark)
    base = os.path.join(
        tempfile.gettempdir(), f"pg_webgraph_fixture_{_WG_FIXTURE_N}"
    )
    write_webgraph(g, base, num_partitions=8)
    back = read_webgraph(spark, base, num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


def _q_binary_csr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test4's uncompressed binary CSR interchange file end-to-end:
    positioned parallel writes (`test/test4_bin_converter_WG400.c:25-63`
    layout), then the edge-balanced distributed reader. Same arithmetic
    oracle as the BVGraph roundtrip — a different IO path must yield the
    identical edge set."""
    import os
    import tempfile

    from paragrapher_spark.sources.binary import (
        read_binary_csr,
        write_binary_csr,
    )

    g = _format_fixture_graph(spark)
    path = os.path.join(
        tempfile.gettempdir(), f"pg_bincsr_fixture_{_WG_FIXTURE_N}.bin"
    )
    write_binary_csr(g, path, fmt="bin", num_partitions=8)
    back = read_binary_csr(spark, path, fmt="bin", num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus interchange (sources/sinks.py write_jsonl/read_jsonl
    — the format LLM pipelines exchange corpora in): the documents table
    roundtrips through JSON Lines and comes back with per-lang doc
    counts, an md5 content digest over (doc_id, lang, text), and total
    chars; the oracle computes the same digests straight from parquet,
    so any write/read lossiness (escaping, unicode, empty strings)
    hash-mismatches."""
    import hashlib
    import os
    import tempfile

    from paragrapher_spark.sources.sinks import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_jsonl_docs_{tag}")
    write_jsonl(docs, path, num_files=8)
    back = read_jsonl(spark, path)
    h = md5_60(F.concat_ws(":", F.col("doc_id").cast("string"), "lang", "text"))
    # fold each 60-bit hash to 32 bits before summing: the digest sum
    # stays a valid long to ~2^31 docs per group (the raw sum overflows
    # at ~8 rows)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.pmod(h, F.lit(2**32))).cast("long").alias("content_digest"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


_JSONL_ROUNDTRIP_SQL = """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(('0x' || substr(md5(concat_ws(':',
               CAST(doc_id AS VARCHAR), lang, text)), 1, 15))::BIGINT
               % 4294967296) AS BIGINT) AS content_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
"""


def _q_matrix_market_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixMarket coordinate COO end-to-end — the graph kind the
    reference DECLARED (`PARAGRAPHER_COO_MM_400_SS`/`_404_SS`,
    `include/paragrapher.h:28-29`) but left commented out
    (`src/paragrapher.c:56-57`). Distributed write (global (section,row,
    col) sort key, part-concat = file), distributed read (loud-malformed-
    input). Same arithmetic oracle as the other format roundtrips — a
    third IO path must yield the identical edge set."""
    import os
    import tempfile

    from paragrapher_spark.sources.sinks import (
        read_matrix_market,
        write_matrix_market,
    )

    g = _format_fixture_graph(spark)
    path = os.path.join(
        tempfile.gettempdir(), f"pg_mtx_fixture_{_WG_FIXTURE_N}.mtx"
    )
    write_matrix_market(g, path, weight_col="weight", num_partitions=8)
    back = read_matrix_market(spark, path)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


def _q_webgraph_weighted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc-labelled BVGraph (the reference's WG404 graph type: labels in
    `.labels`/`.labeloffsets`, `src/webgraph.c:115-122,297-334`): the
    fixture edges carry weight (src + dst) % 9 + 1, written with_labels
    and decoded back as the weight column."""
    import os
    import tempfile

    from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

    g = _format_fixture_graph(spark)
    weighted = Graph(
        vertices=g.vertices,
        edges=g.edges.withColumn(
            "weight", ((F.col("src") + F.col("dst")) % 9 + 1).cast("long")
        ),
        num_vertices=g.num_vertices,
        num_edges=g.num_edges,
    )
    base = os.path.join(
        tempfile.gettempdir(), f"pg_webgraph_wfixture_{_WG_FIXTURE_N}"
    )
    write_webgraph(weighted, base, num_partitions=8, with_labels=True)
    back = read_webgraph(spark, base, num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("weight").cast("long"),
    )


def _q_knn_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a FIXED deterministic quantizer (the vectors of the 16
    smallest vec_ids): bucket assignment, probing, and exact-cosine
    re-rank all sit under the oracle — retiring the 'iterative k-means =>
    rows-only' carve-out for everything except Lloyd training itself
    (still covered by knn_ivf + recall tests)."""
    from paragrapher_spark.operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    rows = with_norm(emb).orderBy("vec_id").limit(16).collect()
    cents = [(i, list(r["vec"])) for i, r in enumerate(rows)]
    return knn_ivf(emb, k=5, n_probe=4, centroids=cents).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "score",
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


_WALK_LEN = 6
_WALK_START_MOD = 97
_SCC_FILES = 800
_NF_OUT_DEG = 4


def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus (kernels/walks.py): md5-picked
    6-step walks over the undirected co-purchase graph from every vertex
    divisible by 97. The neighbor choice is a pure function of
    (walk_id, step), so the DuckDB oracle replays the walks exactly with
    6 unrolled pick-joins — a 'random' algorithm under the exact gate."""
    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    res = random_walks(edges, starts, length=_WALK_LEN, directed=False)
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


_N2V_LEN = 5
# (alpha_return, alpha_in, alpha_out) integer bias weights — node2vec's
# rational (1/p, 1, 1/q) scaled to integers; (1, 6, 3) favors
# triangle-closing 2x over outward steps and penalizes immediate
# backtracking 6x (an exploratory, backtrack-averse walker)
_N2V_ALPHAS = (1, 6, 3)


def _q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec corpus (kernels/walks.py node2vec_walks,
    Grover & Leskovec 2016): 5-step walks with integer bias triple
    (return=1, in=6, out=3) — a BFS-ish explorer that discourages
    immediate backtracking — from every vertex divisible by 97 on the
    undirected co-purchase graph. Step 1 is the first-order index pick;
    each later step classifies cur's neighbors by distance from prev
    (returns / triangle-closing / outward) and picks by cumulative
    integer alpha-weight interval, so the DuckDB oracle replays every
    walk row for row with unrolled candidate/window CTEs."""
    from paragrapher_spark.kernels.walks import node2vec_walks

    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    a_ret, a_in, a_out = _N2V_ALPHAS
    res = node2vec_walks(
        edges,
        starts,
        length=_N2V_LEN,
        alpha_return=a_ret,
        alpha_in=a_in,
        alpha_out=a_out,
        directed=False,
    )
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


_NSAMP_FANOUTS = (4, 3)


def _q_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE minibatch sampler (kernels/walks.py neighbor_sampling):
    2-hop deterministic fan-out sample (4 then 3 neighbors, md5-ranked)
    from every vertex divisible by 97 on the undirected co-purchase
    graph — a mega-hub contributes fanout edges, not its adjacency. The
    oracle replays both hops with the same hash rank."""
    from paragrapher_spark.kernels.walks import neighbor_sampling

    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = verts.where(F.col("id") % _WALK_START_MOD == 0)
    return neighbor_sampling(
        edges, seeds, fanouts=list(_NSAMP_FANOUTS), directed=False
    ).select(
        F.col("hop").cast("long"),
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
    )


def _nsamp_oracle_sql(fanouts: tuple, start_mod: int) -> str:
    hv = (
        "('0x' || substr(md5('nsamp:42:{hop}:' || src::VARCHAR || ':' || "
        "dst::VARCHAR), 1, 15))::BIGINT"
    )
    ctes = []
    selects = []
    for hop, fanout in enumerate(fanouts):
        h = hv.format(hop=hop)
        ctes.append(f"""h{hop} AS MATERIALIZED (
            SELECT {hop} AS hop, src, dst FROM (
                SELECT a.src, a.dst,
                       row_number() OVER (PARTITION BY a.src
                           ORDER BY {h}, a.dst) AS rn
                FROM f{hop} f JOIN adj a ON a.src = f.id
            ) WHERE rn <= {int(fanout)}
        )""")
        ctes.append(
            f"f{hop + 1} AS (SELECT DISTINCT dst AS id FROM h{hop})"
        )
        selects.append(
            f"SELECT CAST(hop AS BIGINT) AS hop, src, dst FROM h{hop}"
        )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst FROM sym WHERE src <> dst),
        f0 AS MATERIALIZED (
            SELECT DISTINCT src AS id FROM sym WHERE src % {start_mod} = 0),
        {joined}
        {' UNION ALL '.join(selects)}
    """


def _q_random_walks_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional walks (kernels/walks.py, weight_col set) over
    the arc-labelled co-purchase graph — the reference's WG404 weighted
    capability driving the DeepWalk corpus generator: step picks land in
    cumulative-weight intervals, md5-deterministic, replayed exactly by
    the oracle's unrolled interval-joins."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    res = random_walks(
        edges, starts, length=_WALK_LEN, directed=False, weight_col="weight"
    )
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


#: The one session whose substrates ``_substrate`` holds, and those
#: substrates by key.
_SUBSTRATE_CACHE: dict = {"spark": None, "values": {}}


def _substrate(spark: SparkSession, key, build: Callable[[], object]):
    """``build()``'s value, built once per (session, key) and shared.

    Query families that consume one deterministic, pinned substrate (the
    import-graph SCC, the sampled-BFS levels, the extracted call graph)
    read it through here, so it is computed once per session. Reuse is
    bit-identical to recomputation, so every consumer stays oracle-gated
    end to end. Only the latest session's entries are kept: a call with
    a different session object drops all others, so a stopped session and
    its pinned frames are not held for the life of the process."""
    cache = _SUBSTRATE_CACHE
    if cache["spark"] is not spark:
        cache["spark"], cache["values"] = spark, {}
    values = cache["values"]
    if key not in values:
        values[key] = build()
    return values[key]


def _import_scc(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(edges, components) of the north-rule import graph, shared by
    scc_imports, scc_condensation and build_order. Edges are pinned so
    all three consumers share one scan."""

    def build():
        corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
        g = edges_from_corpus(corpus, num_partitions=8)
        e = g.edges.select("src", "dst").localCheckpoint(eager=True)
        return e, scc(e, num_partitions=8).components

    return _substrate(spark, "import_scc", build)


def _q_scc_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic-import detection (kernels/scc.py): strongly connected
    components of the DIRECTED import graph from the hash-skew corpus —
    an SCC of size > 1 is a set of source files whose imports form a
    cycle (the giant hub SCC covers ~1/3 of the reachable files at this
    size). Oracle: DuckDB recursive-CTE transitive closure -> mutual
    reachability -> min-id per component, over the md5-regenerated edge
    set (the import_graph_pagerank discipline)."""
    _, comp = _import_scc(spark)
    return comp.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


#: scc_random_digraph fixture: the EXACT input class that crashed the r4
#: SCC kernel (tests/test_walks_scc_neighborhood.py::
#: test_scc_md5_graph_has_giant_component) — a sparse md5 random digraph
#: whose giant SCC forces ~10 propagation supersteps, i.e. a deep chain
#: of checkpoint generations through plans/iterstate.py. The gated SCC
#: queries (scc_imports/call_scc) settle in few supersteps, which is why
#: the r4 crash lived only in pytest; this query pins the deep-superstep
#: path under the driver's oracle gate forever (VERDICT r4 task #7).
_SCC_RAND_N = 80
_SCC_RAND_DEG = 2
#: Floor on total propagation supersteps: if a future fixture tweak (or
#: kernel change) settles this graph shallowly, the query fails loudly
#: instead of silently leaving the regression class ungated.
_SCC_RAND_MIN_STEPS = 8


def _q_scc_random_digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC labels of a deterministic sparse random digraph
    (sources/edges.py:md5_vertex_graph, n=80, out_deg=2) — the
    deep-superstep regression fixture for kernels/scc.py: a giant SCC
    plus rho-shaped tails that needs ~10 pointer-jumped propagation
    steps (many chained checkpoint generations), the input class whose
    accumulated-lineage constraint rewrite crashed the r4 kernel.
    Self-generated input (sf_dir unused, like rmat_degree_dist); oracle:
    DuckDB recursive-CTE transitive closure over the byte-identical
    md5-regenerated edge set."""
    g = md5_vertex_graph(spark, _SCC_RAND_N, out_deg=_SCC_RAND_DEG)
    res = scc(g.select("src", "dst"), num_partitions=8)
    steps = sum(
        h.get("forward_supersteps", 0) + h.get("backward_supersteps", 0)
        for h in res.history
    )
    if not res.converged or steps < _SCC_RAND_MIN_STEPS:
        raise RuntimeError(
            f"scc_random_digraph fixture degraded: converged={res.converged}, "
            f"{steps} total supersteps < floor {_SCC_RAND_MIN_STEPS} — the "
            "gated input no longer exercises the deep-superstep path"
        )
    return res.components.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


def _q_neighbor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 2-hop feature aggregation (kernels/neighborhood.py)
    over the embeddings table wired to a deterministic md5 vertex graph:
    sum_q = (A^2 q)(id, pos), cnt = (A^2 1)(id) with q the fixed-point
    quantized embeddings — EXACT integers end to end, so the oracle
    matches bit-for-bit (no float-summation-order ambiguity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    g = md5_vertex_graph(spark, n, out_deg=_NF_OUT_DEG)
    res = neighbor_feature_agg(
        g, emb, id_col="vec_id", vec_col="embedding", hops=2
    )
    return res.features.select(
        F.col("id").cast("long"),
        F.col("pos").cast("long"),
        F.col("sum_q").cast("long"),
        F.col("cnt").cast("long"),
    )


_BC_SOURCE_MOD = 499
_BC_UNROLL = 10


def _q_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the import graph (kernels/scc.py): one vertex
    per strongly connected component, distinct edges where imports cross
    components — the acyclic quotient that turns cyclic-import analysis
    into topological-order questions. Oracle: closure-derived SCC labels
    joined back onto the md5-regenerated edge set. Shares the memoized
    import-graph SCC labeling (see _import_scc)."""
    e, comp = _import_scc(spark)
    return condensation(e, comp).select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


def _q_modularity_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 10-round label-propagation partition of
    the co-purchase graph (kernels/labelprop.py:modularity) — the
    standard community-quality score, in the exact-integer formulation
    Q = (4·m·Σe_c − Σd_c²)/(4·m²) so every column gates exactly (q is a
    single IEEE division of two exact longs, bit-identical across
    engines)."""
    edges = copurchase_edges(spark, sf_dir)
    res = label_propagation(edges, max_iter=10)
    return modularity(edges, res.labels)


def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted links on the co-purchase graph by (common
    neighbors, resource allocation) — kernels/linkpred.py. Every score
    column is an exact integer (RA in 1e-12 fixed point via integer
    floor-division, summation-order-independent); jaccard is one IEEE
    division of exact longs. The (cn, ra_fp, u, v) sort key is total, so
    the top-50 SET is deterministic."""
    edges = copurchase_edges(spark, sf_dir)
    res = link_prediction(edges)
    return (
        res.scores.orderBy(
            F.col("cn").desc(), F.col("ra_fp").desc(), "u", "v"
        )
        .limit(50)
    )


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph
    (kernels/linkpred.py:assortativity) — exact-integer sums, final ``r``
    as one IEEE division."""
    edges = copurchase_edges(spark, sf_dir)
    return assortativity(edges)


def _bc_seeds(spark: SparkSession, sf_dir: str):
    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return edges, verts.where(F.col("id") % _BC_SOURCE_MOD == 0)


def _bc_result(spark: SparkSession, sf_dir: str):
    """The sampled-source Brandes result shared by sp_counts and
    betweenness_sampled."""

    def build():
        edges, seeds = _bc_seeds(spark, sf_dir)
        res = betweenness(edges, seeds, directed=False)
        # the oracle materializes _BC_UNROLL forward/backward levels; fail
        # HERE with the cause if a bigger SF ever outgrows the unroll
        # (the kcore-oracle guard pattern, ADVICE r2)
        if res.depth > _BC_UNROLL:
            raise AssertionError(
                f"BFS depth {res.depth} > the oracle's {_BC_UNROLL}-level "
                f"unroll; raise _BC_UNROLL"
            )
        return res

    return _substrate(spark, ("bc", sf_dir), build)


def _sp_levels(spark: SparkSession, sf_dir: str):
    """(levels, depth) of the sampled-source forward BFS — the shared
    substrate of harmonic/closeness/eccentricity."""

    def build():
        edges, seeds = _bc_seeds(spark, sf_dir)
        levels, depth, _ = shortest_path_levels(edges, seeds, directed=False)
        if depth > _BC_UNROLL:
            raise AssertionError(
                f"BFS depth {depth} > the oracle's {_BC_UNROLL}-level unroll; "
                f"raise _BC_UNROLL"
            )
        return levels, depth

    return _substrate(spark, ("sp_levels", sf_dir), build)


def _q_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality over the sampled source set
    (kernels/betweenness.py:harmonic_centrality): h(v) = Σ_s 1/dist(s,v)
    scaled by lcm(1..unroll) = 2520 so every term — and the gated sum —
    is an exact integer. Closes the centrality family next to HyperBall's
    approximate harmonic (this one is exact for the sample). Shares the
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    out = harmonic_centrality(levels, depth=_BC_UNROLL)
    return out.select(
        F.col("id").cast("long"),
        F.col("h_num").cast("long"),
        F.col("h_den").cast("long"),
    )


def _q_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closeness centrality over the sampled source set
    (kernels/betweenness.py:closeness_centrality): reached/dist_sum as
    exact longs, closeness = ONE IEEE division — completing the sampled
    centrality family (betweenness, harmonic, closeness) on the shared
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    out = closeness_centrality(levels)
    return out.select(
        F.col("id").cast("long"),
        F.col("reached").cast("long"),
        F.col("dist_sum").cast("long"),
        "closeness",
    )


def _q_eccentricity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled eccentricity lower bound per vertex: ecc(v) >= max over
    sampled sources s of dist(s, v) — the standard BFS-sample diameter
    lower-bounding technique (e.g. Crescenzi et al., iFUB). All-integer
    (max of exact BFS levels); the max over ALL vertices of this column
    is the graph's best sampled diameter lower bound. Shares the
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    return levels.groupBy("id").agg(
        F.max("dist").cast("long").alias("ecc_lb")
    ).select(F.col("id").cast("long"), "ecc_lb")


def _q_sp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes forward phase (kernels/betweenness.py): exact
    shortest-path counts σ(s, v) and hop distances from the sampled
    source set — INTEGER-exact end to end, gated bit-for-bit."""
    res = _bc_result(spark, sf_dir)
    return res.levels.select(
        F.col("source").cast("long"),
        F.col("id").cast("long"),
        F.col("dist").cast("long"),
        F.col("sigma").cast("long"),
    )


def _q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-sampled Brandes betweenness (Bader-style estimator, exact
    over the sample): per-vertex dependency sums δ accumulated backward
    over the shortest-path DAG. δ divides σ ratios so the gate compares
    a 4-decimal projection (summation-order noise ~1e-15 relative; the
    exact-integer half of the kernel gates via sp_counts)."""
    res = _bc_result(spark, sf_dir)
    return res.scores.select(
        F.col("id").cast("long"), F.round("bc", 4).alias("bc")
    )


def _q_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan–Newman edge betweenness over the sampled source set
    (kernels/betweenness.py:edge_betweenness): the backward sweep's
    per-DAG-edge credits σv/σw·(1+δw) summed per canonical undirected
    edge, zero-credit edges kept. Gated on a 4-decimal projection like
    the vertex scores (same σ-ratio float carve-out)."""
    from paragrapher_spark.kernels.betweenness import edge_betweenness

    edges = copurchase_edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = verts.where(F.col("id") % _BC_SOURCE_MOD == 0)
    res = edge_betweenness(edges, seeds)
    if res.depth > _BC_UNROLL:
        raise AssertionError(
            f"BFS depth {res.depth} > the oracle's {_BC_UNROLL}-level "
            f"unroll; raise _BC_UNROLL"
        )
    return res.scores.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.round("ebc", 4).alias("ebc"),
    )


_DENSEST_EPS = (1, 2)  # ε = 1/2 → (2+2ε)=3-approx, ~log_1.5|V| rounds
_DENSEST_UNROLL = 28


def _q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani-Kumar-Vassilvitskii densest-subgraph peel over the
    co-purchase graph (kernels/densest.py): members of the densest peel
    prefix with its exact (m, n, round) — every comparison integer
    cross-multiplied, so the whole peel gates bit-for-bit."""
    from paragrapher_spark.kernels.densest import densest_subgraph

    edges = copurchase_edges(spark, sf_dir)
    res = densest_subgraph(edges, *_DENSEST_EPS)
    if res.rounds > _DENSEST_UNROLL:
        raise AssertionError(
            f"peel ran {res.rounds} rounds > the oracle's "
            f"{_DENSEST_UNROLL}-round unroll; raise _DENSEST_UNROLL"
        )
    return res.members.select(
        F.col("id").cast("long"),
        F.lit(res.best_m).cast("long").alias("best_m"),
        F.lit(res.best_n).cast("long").alias("best_n"),
        F.lit(res.best_round).cast("long").alias("best_round"),
    )


_MSF_UNROLL = 16


def _q_msf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boruvka minimum spanning forest of the WEIGHTED co-purchase graph
    (kernels/msf.py): unique under the composite (weight, a, b) order, so
    the full forest edge set gates bit-for-bit against the unrolled-round
    oracle (each round: per-component min outgoing edge + hook-graph
    contraction)."""
    from paragrapher_spark.kernels.msf import boruvka_msf

    edges = copurchase_weighted_edges(spark, sf_dir)
    res = boruvka_msf(edges)
    if res.rounds > _MSF_UNROLL:
        raise AssertionError(
            f"Boruvka ran {res.rounds} rounds > the oracle's "
            f"{_MSF_UNROLL}-round unroll; raise _MSF_UNROLL"
        )
    return res.edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("weight").cast("long"),
    )


_SEMDEDUP_TAU = 0.3


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup): embedding-space
    dedup — fixed-quantizer bucket assignment (the knn_ivf_fixed
    convention: vectors of the 16 smallest vec_ids), keep-first cosine
    prune within each bucket. (vec_id, cluster, keep), fully gated."""
    from paragrapher_spark.operators.dedup import semantic_dedup
    from paragrapher_spark.operators.similarity import with_norm

    emb = load_table(spark, sf_dir, "embeddings")
    rows = with_norm(emb).orderBy("vec_id").limit(16).collect()
    cents = [(i, list(r["vec"])) for i, r in enumerate(rows)]
    return semantic_dedup(emb, cents, threshold=_SEMDEDUP_TAU).select(
        F.col("vec_id").cast("long"), F.col("cluster").cast("long"), "keep"
    )


_AFFINITY_LEVELS = 2


def _q_affinity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affinity clustering at contraction level 2 (Bateni et al.
    NeurIPS'17): the Boruvka component labels after 2 min-edge-hook
    rounds over the weighted co-purchase graph — a hierarchical
    clustering whose level-k cut is exactly round-k contraction
    (kernels/msf.py boruvka_msf(max_rounds=2).clusters)."""
    from paragrapher_spark.kernels.msf import boruvka_msf

    edges = copurchase_weighted_edges(spark, sf_dir)
    res = boruvka_msf(edges, max_rounds=_AFFINITY_LEVELS)
    return res.clusters.select(
        F.col("id").cast("long"), F.col("c").cast("long").alias("cluster")
    )


_WL_ROUNDS = 3


def _q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement of the co-purchase graph (kernels/wl.py):
    canonical structural-fingerprint colors after 3 rounds from degree
    colors. All-integer canonical ids (two-phase distributed dense rank),
    gated bit-for-bit; the kernel's sound early stop (class count
    fixpoint ⟹ identity relabeling) keeps it exact vs the fixed unroll."""
    from paragrapher_spark.kernels.wl import wl_refinement

    edges = copurchase_edges(spark, sf_dir)
    res = wl_refinement(edges, rounds=_WL_ROUNDS)
    return res.colors.select(
        F.col("id").cast("long"), F.col("color").cast("long")
    )


_KATZ_ROUNDS = 6
_KATZ_BASE = 16


def _q_katz_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (kernels/katz.py) of the undirected
    co-purchase graph, alpha = 1/16, 6 rounds — walk counting in scaled
    integers (y_t = 16^t * x_t), so katz_num/katz_den gate EXACTLY and the
    convenience double is ONE IEEE division of two exact longs. Oracle:
    the same all-integer recurrence unrolled as materialized CTEs."""
    edges = copurchase_edges(spark, sf_dir)
    res = katz(edges, rounds=_KATZ_ROUNDS, base=_KATZ_BASE, directed=False)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("katz_num").cast("long"),
        F.col("katz_den").cast("long"),
        F.col("katz"),
    )


_BUILD_ORDER_UNROLL = 24


def _q_build_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-order waves of the import graph (kernels/toposort.py): SCC
    condensation (cyclic imports collapse to one node) then the exact
    longest-path level of every condensation node — level 0 builds first,
    level L waits for a dependency chain of length L. The make/bazel
    scheduling query over the north-rule corpus. Oracle: closure-derived
    condensation + the all-integer relaxation unrolled as materialized
    CTEs (monotone and idempotent at the fixpoint, so over-unrolling is
    exact). Shares the memoized import-graph SCC labeling
    (see _import_scc)."""
    e, comp = _import_scc(spark)
    dag = condensation(e, comp)
    res = topo_levels(dag, max_rounds=64, num_partitions=8)
    if res.rounds > _BUILD_ORDER_UNROLL:
        raise ValueError(
            f"build_order needed {res.rounds} relaxation rounds vs the "
            f"oracle's {_BUILD_ORDER_UNROLL}-round unroll; raise "
            f"_BUILD_ORDER_UNROLL"
        )
    return res.levels.select(
        F.col("id").cast("long"), F.col("level").cast("long")
    )


_FUNNEL_STEPS = ["signup", "view", "purchase"]


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis over the events table
    (streaming/events.py:funnel_stages): deepest signup -> view ->
    purchase stage per user with strictly-increasing event times; every
    column an exact integer (epoch millis), so the oracle gates all of
    them."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, _FUNNEL_STEPS)


_COLOR_N = 2000
_COLOR_OUT_DEG = 4
_COLOR_UNROLL = 28


def _q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy coloring (kernels/coloring.py) of the md5
    vertex graph: Jones–Plassmann rounds with fixed md5 priorities, so the
    result is EXACTLY the sequential greedy coloring in (h, id) order —
    every (id, color) pair gates bit-for-bit. Oracle: the rounds unrolled
    as materialized CTEs with the candidates/anti-join min-gap."""
    g = md5_vertex_graph(spark, _COLOR_N, out_deg=_COLOR_OUT_DEG)
    res = greedy_coloring(g, num_partitions=8)
    if res.rounds > _COLOR_UNROLL:
        raise ValueError(
            f"coloring needed {res.rounds} rounds vs the oracle's "
            f"{_COLOR_UNROLL}-round unroll; raise _COLOR_UNROLL"
        )
    return res.colors.select(
        F.col("id").cast("long"), F.col("color").cast("long")
    )


_SUBG_FRACTION = 0.5


def _q_subgraph_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vertex-induced subgraph of the co-purchase graph
    (operators/sampling.py): keep vertices whose 60-bit md5 prefix falls
    under fraction 0.5 of the hash space, then edges with BOTH endpoints
    kept — the standard subgraph-extraction step for scaling experiments
    and graph-ML train/test splits, reproducible across engines (the
    oracle replays every keep decision bit-for-bit). Map-only: two
    pushed-down hash filters, no shuffle beyond the edge derivation."""
    edges = copurchase_edges(spark, sf_dir)
    sub = sample_hash(
        sample_hash(edges, _SUBG_FRACTION, ["src"], tag="subg"),
        _SUBG_FRACTION,
        ["dst"],
        tag="subg",
    )
    return sub.select(F.col("src").cast("long"), F.col("dst").cast("long"))


def _q_package_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Package-level dependency rollup of the file-level import graph
    (graph.py quotient_graph — the attribute-quotient twin of SCC
    condensation): vertices collapse to their ``repo:pkgdir`` group, edge
    weight = the exact total number of import sites between the two
    packages (intra-package imports dropped). The coarsening step every
    multilevel partitioner / architecture-dependency view starts with.
    Oracle: the shared md5 import-site CTE grouped by the same package
    keys — every (src_group, dst_group, weight) row exact."""
    from paragrapher_spark.graph import quotient_graph

    corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    mapping = g.vertices.select(
        "id",
        F.concat(
            F.col("repo"), F.lit(":"), F.split(F.col("path"), "/").getItem(0)
        ).alias("group"),
    )
    return quotient_graph(g.edges, mapping, weight_col="weight")


_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC = 900, 6, 3, 4


def _cg_corpus(spark: SparkSession) -> DataFrame:
    return synth_callgraph_corpus_sql(
        spark, n_files=_CG_FILES, n_repos=_CG_REPOS,
        max_funcs=_CG_MAXF, max_calls=_CG_MAXC,
    )


def _cg_graph(spark: SparkSession):
    """The extracted call graph, pinned and shared by call_graph_pagerank,
    call_scc and dead_functions. call_edges/call_file_fanout deliberately
    do NOT share it — extraction itself is what those queries gate."""
    from paragrapher_spark.graph import call_graph_from_corpus

    def build():
        g = call_graph_from_corpus(_cg_corpus(spark), num_partitions=8)
        g.vertices = g.vertices.localCheckpoint(eager=True)
        g.edges = g.edges.localCheckpoint(eager=True)
        return g

    return _substrate(spark, "call_graph", build)


def _q_call_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-level CALL-GRAPH extraction (functions/extract.py
    extract_call_sites over sources/corpus.synth_callgraph_corpus_sql):
    two-level vectorized regex parse — definition lines to (caller, body),
    bodies to call sites — aggregated to weighted (caller, callee) edges.
    The finer-granularity companion to the file-level import extraction;
    the oracle regenerates the exact call structure from the generator's
    arithmetic (verifying the parse recovered every generated call IS the
    check). Recursion (self-loop) edges are preserved."""
    from paragrapher_spark.functions.extract import extract_call_sites

    sites = extract_call_sites(_cg_corpus(spark))
    return sites.groupBy("caller", "callee").agg(
        F.count(F.lit(1)).cast("long").alias("n_sites")
    )


def _q_call_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline at FUNCTION granularity: callgraph corpus ->
    vectorized call-site extraction -> dense ids by global fname rank ->
    weighted PageRank, 8 fixed supersteps. Unlike the import fixture this
    graph is cyclic (recursion), so it exercises PageRank's behavior on
    strongly-connected mass flow. Isolated (never-calling, never-called)
    functions enter via vertices= and collect teleport-only rank."""
    g = _cg_graph(spark)
    res = pagerank(
        g.edges, vertices=g.vertices.select("id"), tol=0.0, max_iter=8,
        weight_col="weight",
    )
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _q_call_file_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-granularity rollup: per FILE, how many functions it defines,
    how many call sites its functions make, and how many distinct files
    those calls land in — the fan-out profile a build-system / impact
    analyzer reads off a call graph. Joins the function table back to the
    site table (callee fname -> defining file), then rolls up to (repo,
    path); files whose functions make no calls appear with zeros."""
    from paragrapher_spark.functions.extract import (
        extract_call_sites,
        extract_functions,
    )

    corpus = _cg_corpus(spark)
    funcs = extract_functions(corpus)
    sites = extract_call_sites(corpus)
    callee_files = funcs.select(
        F.col("fname").alias("callee"),
        F.col("repo").alias("callee_repo"),
        F.col("path").alias("callee_path"),
    )
    per_file_calls = (
        sites.join(callee_files, on="callee")
        .groupBy("repo", "path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sites"),
            F.countDistinct("callee_repo", "callee_path")
            .cast("long")
            .alias("n_callee_files"),
        )
    )
    per_file_funcs = funcs.groupBy("repo", "path").agg(
        F.count(F.lit(1)).cast("long").alias("n_funcs")
    )
    return per_file_funcs.join(
        per_file_calls, on=["repo", "path"], how="left"
    ).select(
        "repo",
        "path",
        "n_funcs",
        F.coalesce("n_sites", F.lit(0)).cast("long").alias("n_sites"),
        F.coalesce("n_callee_files", F.lit(0)).cast("long").alias("n_callee_files"),
    )


def _q_call_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-recursion detection: strongly connected components of the
    function-level call graph (kernels/scc.py over
    graph.call_graph_from_corpus). Direct recursion is a self-loop; an
    SCC of size > 1 is a set of functions that call each other in a cycle
    — what an inliner / stack-depth analyzer must detect before
    transforming. Same definitional transitive-closure oracle as
    scc_imports, over the arithmetic-regenerated dense-id call edges."""
    g = _cg_graph(spark)
    res = scc(g.edges.select("src", "dst"), num_partitions=8)
    return res.components.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


def _q_import_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPACT ANALYSIS (the CI test-selection / incremental-rebuild query):
    if files {vid 0,1,2} change, which files transitively import them and
    at what dependency distance — multi-source BFS over the REVERSED
    import graph (kernels/bfs.py), depth-capped at 8. Oracle: recursive-
    CTE min-depth walk following edges dst->src over the arithmetic-
    regenerated import edge table."""
    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    rev = g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    res = bfs(rev, [0, 1, 2], directed=True, max_depth=8)
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long").alias("depth")
    )


def _q_dead_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-CODE detection over the call graph: functions not reachable
    (via any call chain) from the application's entry package — roots are
    every function defined in repo_000's pkg0 files, liveness is the BFS
    closure over call edges, dead = the anti-join. The attribute-driven
    twin of a linker's --gc-sections / tree-shaking pass. Oracle:
    recursive-CTE reachability from the same formula-regenerated root set,
    NOT IN over the full function table."""
    from paragrapher_spark.functions.extract import extract_functions

    corpus = _cg_corpus(spark)
    g = _cg_graph(spark)
    funcs = extract_functions(corpus)
    roots = (
        funcs.where(
            (F.col("repo") == "repo_000") & F.col("path").startswith("pkg0/")
        )
        .join(g.vertices, on="fname")
        .select("id")
    )
    res = bfs(g.edges.select("src", "dst"), roots, directed=True, max_depth=30)
    dead = g.vertices.join(
        res.distances.select("id"), on="id", how="left_anti"
    )
    return dead.select("fname")


def _q_knn_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-correlation profile knn(k) of the co-purchase graph
    (kernels/degrees.py avg_neighbor_degree — Pastor-Satorras et al. PRL
    2001): per degree class k, the edge-weighted mean neighbor degree.
    n_k and the numerator s_k are exact longs; knn is ONE IEEE division,
    so every column gates bit-for-bit. Complements the scalar Newman
    assortativity r (`assortativity`) with the full curve."""
    from paragrapher_spark.kernels.degrees import avg_neighbor_degree

    edges = copurchase_edges(spark, sf_dir)
    return avg_neighbor_degree(edges).select(
        F.col("k").cast("long"), F.col("n_k"), F.col("s_k"), "knn"
    )


_COOC_WINDOW = 3
_COOC_MIN_COUNT = 2


def _q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts over the documents table
    (functions/text.py cooccurrence_counts — the word2vec/GloVe/PPMI
    preprocessing stage): ordered token pairs within a 3-token forward
    window, exact global counts, min_count=2 floor. All-integer output;
    the oracle replays the window join and every count bit-for-bit."""
    from paragrapher_spark.functions.text import cooccurrence_counts

    docs = load_table(spark, sf_dir, "documents")
    return cooccurrence_counts(
        docs, window=_COOC_WINDOW, min_count=_COOC_MIN_COUNT
    )


_LM_SCALE = 10**9


def _q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score per document (functions/text.py
    lm_bigram_scores — the CCNet-style quality bucket signal) with the
    corpus as its own LM: per-bigram MLE probabilities in 1e-9 fixed
    point, summed exactly; lm_score is ONE IEEE division. Docs with <2
    tokens keep a NULL score."""
    from paragrapher_spark.functions.text import lm_bigram_scores

    docs = load_table(spark, sf_dir, "documents")
    res = lm_bigram_scores(docs, scale=_LM_SCALE)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_bigrams",
        "lm_fp_sum",
        "lm_score",
    )


def _q_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality-bucket assignment, composed from this round's two
    new operators: per-doc bigram-LM fixed-point score (lm_bigram_scores)
    cut at per-language exact quartiles (group_quantiles) into
    q1..q4 — the head/middle/tail split CCNet feeds to sampling. The
    per-doc scalar is the all-integer mean lm_fp_sum DIV n_bigrams, so
    every threshold and every bucket decision replays exactly; docs
    without bigrams bucket as 'unscored'."""
    from paragrapher_spark.functions.stats import group_quantiles
    from paragrapher_spark.functions.text import lm_bigram_scores

    docs = load_table(spark, sf_dir, "documents")
    scores = (
        lm_bigram_scores(docs, scale=_LM_SCALE)
        .join(docs.select(F.col("doc_id").alias("id"), "lang"), on="id")
        .withColumn(
            "q",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("lm_fp_sum DIV n_bigrams"),
            ),
        )
    )
    thr = group_quantiles(
        scores.where(F.col("q").isNotNull()),
        ["lang"],
        "q",
        qs=("0.25", "0.5", "0.75"),
    ).select("lang", "p25", "p50", "p75")
    bucket = (
        F.when(F.col("q").isNull(), F.lit("unscored"))
        .when(F.col("q") <= F.col("p25"), F.lit("q1"))
        .when(F.col("q") <= F.col("p50"), F.lit("q2"))
        .when(F.col("q") <= F.col("p75"), F.lit("q3"))
        .otherwise(F.lit("q4"))
    )
    return (
        scores.join(F.broadcast(thr), on="lang", how="left")
        .select(
            F.col("id").cast("long").alias("doc_id"),
            "lang",
            F.col("q").cast("long").alias("lm_fp_mean"),
            bucket.alias("bucket"),
        )
    )


def _q_dup_gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus duplicate n-gram fraction (operators/dedup.py
    dup_gram_stats — the Lee et al. 2022 / Dolma curation signal): per
    doc, how many of its distinct word 3-grams occur in any OTHER doc.
    Linear inverted-index audit, no pairwise blow-up."""
    from paragrapher_spark.operators.dedup import dup_gram_stats

    docs = load_table(spark, sf_dir, "documents")
    res = dup_gram_stats(docs)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_grams",
        "n_dup",
        "frac_dup",
    )


def _q_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component odd-cycle test (kernels/components.py
    bipartite_check): WCC roots seed one BFS per component, the parity
    join counts same-level canonical edges — is_bipartite per component
    with exact conflict counts. Composition of two already-oracled
    kernels under one new gate."""
    from paragrapher_spark.kernels.components import bipartite_check

    edges = copurchase_edges(spark, sf_dir)
    res = bipartite_check(edges, max_depth=16)
    return res.select(
        F.col("component").cast("long"),
        F.col("n_vertices").cast("long"),
        F.col("n_conflicts").cast("long"),
        "is_bipartite",
    )


def _q_triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle count (kernels/triangles.py
    triangle_count_sampled, Tsourakakis KDD'09) at p=1/2 next to the
    exact count: the deterministic md5 edge coin makes the sparsified
    count replayable, the estimate is sampled*8.0 exactly, and rel_err
    is ONE IEEE division — an approximate operator under a fully exact
    gate."""
    from paragrapher_spark.kernels.triangles import triangle_count_sampled

    # canonicalize ONCE and materialize: the sampled and exact counts
    # share the (expensive) co-purchase derivation instead of replaying
    # the whole lineage twice (plan audit: 84 -> ~40 exchanges)
    edges = (
        undirected_pairs(copurchase_edges(spark, sf_dir))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    s = triangle_count_sampled(edges, fraction=0.5)
    exact = triangle_count(edges).select(F.col("triangles").alias("exact_triangles"))
    return s.crossJoin(exact).select(
        F.col("sampled_triangles").cast("long"),
        F.col("triangles_est"),
        F.col("exact_triangles").cast("long"),
        (
            (F.col("triangles_est") - F.col("exact_triangles"))
            / F.col("exact_triangles")
        ).alias("rel_err"),
    )


_PROJ_CAP = 50


def _q_shared_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-reference projection (graph.bipartite_project): file
    pairs of the import graph that import at least one common target,
    weight = exact distinct shared-target count — the co-citation /
    shared-dependency view (Small 1973). Hub targets above in-degree
    _PROJ_CAP are excluded loudly in BOTH engines (none exist at this
    corpus's max in-degree 6, so the cap is exercised by the planted
    test, not the gate)."""
    from paragrapher_spark.graph import bipartite_project

    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    proj = bipartite_project(g.edges, cap=_PROJ_CAP)
    return proj.select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("weight")
    )


_MATCH_UNROLL = 16


def _q_maximal_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographically-first maximal matching (deterministic parallel
    local-min edge rounds, kernels/matching.py) of the co-purchase
    graph, with the round that matched each edge. Oracle: the rounds
    unrolled as materialized CTEs (empty past the fixpoint, so
    over-unrolling is exact — the MIS pattern on edges)."""
    from paragrapher_spark.kernels.matching import maximal_matching

    edges = copurchase_edges(spark, sf_dir)
    res = maximal_matching(edges)
    if res.rounds > _MATCH_UNROLL:
        raise AssertionError(
            f"matching took {res.rounds} rounds > the oracle's "
            f"{_MATCH_UNROLL}-round unroll; raise _MATCH_UNROLL"
        )
    return res.matching.select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("round").cast("int")
    )


_EIG_ROUNDS = 6


def _q_eigencentrality_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality by 6 integer power-iteration rounds
    (kernels/katz.py eigencentrality) on the undirected co-purchase
    graph: ``walks`` (length-6 walk counts) gates exactly; ``eig`` is
    ONE IEEE division by the max — the fourth classic ranking next to
    PageRank/HITS/Katz."""
    edges = copurchase_edges(spark, sf_dir)
    res = eigencentrality(edges, rounds=_EIG_ROUNDS, directed=False)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("walks").cast("long"),
        F.col("eig"),
    )


def _q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles (functions/stats.py): the
    filter-threshold-calibration query of a curation pipeline. Type-1
    quantiles at all-integer ranks ((n-1)*num DIV den + 1), so every
    output column is gated exactly."""
    from paragrapher_spark.functions.stats import group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    res = group_quantiles(docs, ["lang"], "n_chars")
    return res.select(
        "lang",
        F.col("n").cast("long").alias("n"),
        F.col("v_min").cast("long").alias("v_min"),
        F.col("v_max").cast("long").alias("v_max"),
        F.col("p50").cast("long").alias("p50"),
        F.col("p90").cast("long").alias("p90"),
        F.col("p99").cast("long").alias("p99"),
    )


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py — one of the brief's named custom
    operators): every purchase matched to the same user's LATEST click
    at-or-before it (pandas merge_asof backward semantics, microsecond
    precision; LEFT — purchases with no prior click keep nulls). Clicks
    are deduped to one row per (user, ts) keeping the max event_id so
    the tie rule is total; DuckDB's native ASOF JOIN replays the match
    exactly. Plan: one union + one window = ONE shuffle on user_id."""
    from paragrapher_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    res = asof_join(purchases, clicks, keys=["user_id"], right_cols=["click_id"])
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        t_us.alias("t_us"),
        F.col("ts_r").alias("t_click_us"),
        F.col("click_id_r").cast("long").alias("click_id"),
        (t_us - F.col("ts_r")).alias("gap_us"),
    )


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join (operators/asof.py — the other named custom
    operator): every (click, error) pair of the same user with the error
    STRICTLY after the click and within 10 minutes. The interval
    predicate is planned as a bucketed EQUI-join (each click probes <=2
    time buckets), never Spark's default BroadcastNestedLoopJoin for
    theta joins; the exact [lo, hi] filter runs post-join."""
    from paragrapher_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    res = range_join(
        clicks, errors, keys=["user_id"], lower_us=1, upper_us=600_000_000
    )
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("error_id_r").cast("long").alias("error_id"),
        F.col("t_us"),
        F.col("t_us_r").alias("t_err_us"),
        (F.col("t_us_r") - F.col("t_us")).alias("gap_us"),
    )


_ZORDER_BITS = 21
_ZORDER_TILE_SHIFT = 30  # 42-bit z >> 30 = 4096 quad tiles of 2^15 x 2^15


def _q_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values (operators/layout.py — the Delta/Iceberg ZORDER
    BY technique; the relational image of WebGraph's locality-preserving
    vertex orders) for a deterministic sample of co-purchase edges: the
    exact interleaved-bit value plus its quad-tile id, the unit
    `write_zordered` clusters files by so subgraph reads prune on BOTH
    endpoints. Pure JVM shift/mask/or tree, replayed bit for bit by the
    oracle."""
    from paragrapher_spark.operators.layout import zvalue

    edges = copurchase_edges(spark, sf_dir)
    sample = edges.where((F.col("src") + F.col("dst")) % 17 == 0)
    z = zvalue(F.col("src"), F.col("dst"), _ZORDER_BITS)
    return sample.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        z.alias("zval"),
        F.shiftright(z, _ZORDER_TILE_SHIFT).cast("long").alias("tile"),
    )


def _zorder_tiles_sql() -> str:
    from paragrapher_spark.operators.layout import zvalue_sql

    zx = zvalue_sql("src", "dst", _ZORDER_BITS)
    return f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL})
    SELECT src, dst,
           CAST({zx} AS BIGINT) AS zval,
           CAST(({zx} >> {_ZORDER_TILE_SHIFT}) AS BIGINT) AS tile
    FROM edges
    WHERE (src + dst) % 17 = 0
    """


_SKEW_NPART = 32
_SKEW_TOPK = 15


_VC_P = 8
_VC_SEED = 42


def _q_vertex_cut_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D-grid vertex-cut vs 1D hash-by-src on the co-purchase graph
    (operators/salting.py grid_partition / vertex_cut_report): exact
    replication and block-balance metrics for the same 64-block budget.
    The grid bounds every vertex's replication at 2p-1 = 15 blocks
    regardless of degree (PowerGraph's power-law answer); 1D hash leaves
    hub dst-replication proportional to degree. Oracle: the md5 grid
    assignment is the engine-portable hash family, replayed verbatim in
    SQL."""
    from paragrapher_spark.operators.salting import vertex_cut_report

    edges = copurchase_edges(spark, sf_dir)
    return vertex_cut_report(edges, _VC_P, seed=_VC_SEED)


def _vertex_cut_report_sql() -> str:
    p, seed = _VC_P, _VC_SEED
    h = (
        "(('0x' || substr(md5('vc:" + str(seed) + ":' || CAST({v} AS VARCHAR)), 1, 15))::BIGINT)"
    )
    return f"""
    WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    g2 AS MATERIALIZED (
        SELECT src, dst,
               ({h.format(v='src')} % {p}) * {p} + ({h.format(v='dst')} % {p}) AS block
        FROM edges
    ),
    g1 AS MATERIALIZED (
        SELECT src, dst, {h.format(v='src')} % {p * p} AS block FROM edges
    ),
    vb2 AS (SELECT DISTINCT v, block FROM (
        SELECT src AS v, block FROM g2 UNION ALL SELECT dst, block FROM g2)),
    vb1 AS (SELECT DISTINCT v, block FROM (
        SELECT src AS v, block FROM g1 UNION ALL SELECT dst, block FROM g1)),
    r2 AS (SELECT v, CAST(count(*) AS BIGINT) AS r FROM vb2 GROUP BY v),
    r1 AS (SELECT v, CAST(count(*) AS BIGINT) AS r FROM vb1 GROUP BY v),
    pb2 AS (SELECT block, CAST(count(*) AS BIGINT) AS c FROM g2 GROUP BY block),
    pb1 AS (SELECT block, CAST(count(*) AS BIGINT) AS c FROM g1 GROUP BY block)
    SELECT 'grid2d' AS scheme, CAST({p * p} AS BIGINT) AS n_blocks,
           CAST((SELECT count(*) FROM r2) AS BIGINT) AS n_vertices,
           CAST((SELECT SUM(r) FROM r2) AS BIGINT) AS sum_replicas,
           (SELECT MAX(r) FROM r2) AS max_replication,
           (SELECT MAX(c) FROM pb2) AS max_block_edges
    UNION ALL
    SELECT 'hash1d_src', CAST({p * p} AS BIGINT),
           CAST((SELECT count(*) FROM r1) AS BIGINT),
           CAST((SELECT SUM(r) FROM r1) AS BIGINT),
           (SELECT MAX(r) FROM r1),
           (SELECT MAX(c) FROM pb1)
    """


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via persistent bucketing
    (operators/layout.py write_bucketed — Spark's bucketBy, the
    pay-the-shuffle-once layout every nightly fact-to-fact join at
    100 TB wants): orders and customer land as external tables bucketed
    8-ways on custkey, the join plans with zero Exchange below it
    (plan-pinned in tests/test_layout.py), and the per-market-segment
    rollup gates in exact cents against a plain relational oracle —
    layout changes the plan, never the answer."""
    import hashlib
    import os
    import tempfile

    from paragrapher_spark.operators.layout import read_bucketed, write_bucketed

    tag = hashlib.md5((sf_dir + ":bkt").encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"pg_bucketed_{tag}")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    write_bucketed(
        orders, f"pg_orders_b_{tag}", ["custkey"], 8,
        os.path.join(base, "orders"), sort_cols=["custkey"],
    )
    write_bucketed(
        cust, f"pg_cust_b_{tag}", ["custkey"], 8,
        os.path.join(base, "cust"), sort_cols=["custkey"],
    )
    return (
        read_bucketed(spark, f"pg_orders_b_{tag}")
        .join(read_bucketed(spark, f"pg_cust_b_{tag}"), on="custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


_BUCKETED_JOIN_SQL = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
"""


def _q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew diagnostic (operators/salting.py skew_report): the 15
    heaviest src keys of the co-purchase edge table with milli-share,
    even-partitioning fair share at 32 partitions, and the salting
    prescription the PageRank kernel's n_salts='auto' would apply —
    skew measured as a first-class query, before it becomes a
    straggler. All exact integers."""
    from paragrapher_spark.operators.salting import skew_report

    edges = copurchase_edges(spark, sf_dir)
    return skew_report(edges, "src", n_partitions=_SKEW_NPART, k=_SKEW_TOPK).select(
        F.col("src").cast("long"),
        "cnt",
        "share_fp",
        "fair_share",
        "rec_salts",
    )


def _join_skew_report_sql() -> str:
    return f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    cnts AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS cnt FROM edges GROUP BY src
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(SUM(cnt) AS BIGINT) // {_SKEW_NPART}) AS fair_share
        FROM cnts
    )
    SELECT c.src, c.cnt,
           CAST((1000 * c.cnt) // t.total AS BIGINT) AS share_fp,
           t.fair_share,
           CAST(CASE WHEN c.cnt > 2 * t.fair_share
                     THEN (c.cnt + t.fair_share - 1) // t.fair_share
                     ELSE 0 END AS BIGINT) AS rec_salts
    FROM cnts c CROSS JOIN tot t
    ORDER BY c.cnt DESC, c.src
    LIMIT {_SKEW_TOPK}
    """


def _q_gap_bits_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BVGraph-style compression analytic (operators/layout.py): the
    Elias-gamma gap-encoding cost of every adjacency list under the
    natural labeling vs the relabel_by_degree renumbering — two exact
    integer rows answering 'what would the WebGraph-family reorder buy'
    (Boldi-Vigna WWW'04 gap coding; the reference's BVGraph substrate
    consumes graphs in such orders). Bit lengths via base-2 string
    length — never float log2."""
    from paragrapher_spark.operators.layout import (
        adjacency_gap_bits,
        relabel_by_degree,
        relabel_edges,
    )

    edges = (
        copurchase_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nat = adjacency_gap_bits(edges, "natural")
    rel = relabel_edges(edges, relabel_by_degree(edges))
    return nat.unionByName(adjacency_gap_bits(rel, "degree"))


def _gap_bits_orders_sql() -> str:
    def gamma(x: str) -> str:
        return f"(2*(length(bin(CAST({x} AS BIGINT)))-1)+1)"

    first = "(CASE WHEN dst >= src THEN 2*(dst-src) ELSE -2*(dst-src)-1 END + 1)"

    def cost_cte(src_rel: str, name: str) -> str:
        return f"""{name}b AS (
        SELECT src,
               CASE WHEN prevd IS NULL THEN {gamma(first)}
                    ELSE {gamma('dst - prevd')} END AS bits
        FROM (SELECT src, dst,
                     lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prevd
              FROM {src_rel})
    ),
    {name}row AS (
        SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_lists,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               CAST((1000 * SUM(bits)) // COUNT(*) AS BIGINT) AS bits_per_edge_fp
        FROM {name}b
    )"""

    return f"""
    WITH e0 AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    ded AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT src AS id FROM ded UNION ALL SELECT dst AS id FROM ded)
        GROUP BY id
    ),
    vmap AS MATERIALIZED (
        SELECT id, row_number() OVER (ORDER BY degree DESC, id) - 1 AS new_id
        FROM deg
    ),
    rel AS MATERIALIZED (
        SELECT ms.new_id AS src, md.new_id AS dst
        FROM ded e JOIN vmap ms ON ms.id = e.src JOIN vmap md ON md.id = e.dst
    ),
    {cost_cte('ded', 'nat')},
    {cost_cte('rel', 'dg')}
    SELECT 'natural' AS ordering, * FROM natrow
    UNION ALL
    SELECT 'degree' AS ordering, * FROM dgrow
    """


def _q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table time travel (sources/table_format.py — the Iceberg
    contract from scratch: manifest snapshots, atomic pointer commits,
    O(1) planning without directory listings): the documents table lands
    as v1 (doc_id % 10 != 3) then an append brings the rest; BOTH
    versions are read back — v1 via time travel AFTER the append — and
    digested. The oracle derives the same two membership sets straight
    from parquet, so a time-travel read that leaks or loses rows
    hash-mismatches."""
    import hashlib
    import os
    import shutil
    import tempfile

    from paragrapher_spark.sources.table_format import read_table, write_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_snap_docs_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_table(
        docs.where(F.col("doc_id") % 10 != 3), path,
        stat_cols=["doc_id"], num_files=4,
    )
    write_table(
        docs.where(F.col("doc_id") % 10 == 3), path,
        stat_cols=["doc_id"], num_files=2,
    )
    out = None
    for v in (1, 2):
        digest = read_table(spark, path, version=v).agg(
            F.lit(v).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_digest"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        out = digest if out is None else out.unionByName(digest)
    return out


_TABLE_TIME_TRAVEL_SQL = """
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 10 <> 3
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT), CAST(SUM(length(text)) AS BIGINT)
    FROM documents
"""


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the snapshot table
    (sources/table_format.py merge_table — the Iceberg MERGE INTO
    contract): documents commit as the base snapshot, an upsert batch
    revises doc_id % 7 == 0 (text + ' rev2') and inserts doc_id +
    10^9 ghost docs for doc_id % 31 == 0, only matched files rewrite.
    Read back = per-bucket doc counts and exact digests; the oracle
    computes the same merge relationally, so a leaked old version of an
    updated key or a lost carried file breaks the row-count/digest
    exactly. v1 is ALSO re-read post-merge (time travel across a merge)
    and digested alongside."""
    import hashlib
    import os
    import shutil
    import tempfile

    from paragrapher_spark.sources.table_format import (
        merge_table,
        read_table,
        write_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5((sf_dir + ":merge").encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_merge_docs_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_table(docs, path, stat_cols=["doc_id"], num_files=8)
    updates = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.concat(F.col("text"), F.lit(" rev2")).alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 31 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                F.lit("ghost doc").alias("text"),
            )
        )
    )
    merge_table(updates, path, ["doc_id"], stat_cols=["doc_id"], num_files=4)
    digests = []
    for version, label in ((1, "pre_merge"), (2, "post_merge")):
        digests.append(
            read_table(spark, path, version=version).agg(
                F.lit(label).alias("snapshot"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_digest"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
            )
        )
    return digests[0].unionByName(digests[1])


_MERGE_UPSERT_SQL = """
    WITH upd AS (
        SELECT doc_id, text || ' rev2' AS text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1000000000, 'ghost doc' FROM documents WHERE doc_id % 31 = 0
    ),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM upd)
    )
    SELECT 'pre_merge' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 'post_merge', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT), CAST(SUM(length(text)) AS BIGINT)
    FROM merged
"""


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/dedup.py corpus_diff): two corpus
    versions derived deterministically from the documents table (v1
    misses doc_id % 10 == 3; v2 revises text of doc_id % 7 == 0),
    diffed by content md5 in one skinny full-outer join — per-status
    doc counts and exact id-sum digests, the added+changed set being
    what an incremental pipeline reprocesses."""
    from paragrapher_spark.operators.dedup import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 10 != 3)
    v2 = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        corpus_diff(v1, v2)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("id").cast("long").alias("id_digest"),
        )
    )


_CORPUS_DIFF_SQL = """
    WITH v1 AS (
        SELECT doc_id AS id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 3
    ),
    v2 AS (
        SELECT doc_id AS id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h
        FROM documents
    ),
    d AS (
        SELECT COALESCE(v1.id, v2.id) AS id,
               CASE WHEN v1.id IS NULL THEN 'added'
                    WHEN v2.id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v2.id = v1.id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(id) AS BIGINT) AS id_digest
    FROM d GROUP BY status
"""


def _q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup (the grouping-sets operator class): event counts and
    exact value cents at (event_type, day), (event_type), and grand
    total levels in ONE pass — Spark plans rollup as a single Expand +
    aggregation, the map-side-combinable form of the 100 TB cube.
    grouping_id disambiguates levels; value summed in exact integer
    cents (round half-even per row, the double is data not arithmetic);
    NULL grouping placeholders surfaced as 'ALL' literals so the
    column-sorted gate compares cleanly."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        base.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n_events",
            "total_cents",
            "gid",
        )
    )


_EVENTS_ROLLUP_SQL = """
    WITH base AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(day, 'ALL') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid
    FROM base
    GROUP BY ROLLUP (event_type, day)
"""


_PIVOT_TYPES = ("click", "view", "purchase", "signup", "error")


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab) with an EXPLICIT value list — the schema-stable
    form (a values-less pivot collects the distinct set to the driver
    and bakes data into the schema; at 100 TB that is both a scan and a
    schema-drift hazard, so the value list is pinned). One groupBy +
    per-type conditional counts; the oracle is the same conditional
    aggregation spelled out."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    return (
        base.groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _PIVOT_TYPES
            ],
        )
    )


def _events_pivot_sql() -> str:
    cols = ",\n           ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in _PIVOT_TYPES
    )
    return f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           {cols}
    FROM events
    GROUP BY 1
    """


def _q_last_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution (streaming/events.py — the deduplicating
    layer over the stream-stream-joinable pair feed): each error
    attributed to the latest same-user click strictly before it within
    10 minutes, ties on click time to the higher click_id. All columns
    exact epoch-micros longs; the oracle replays the argmax with the
    same ROW_NUMBER ordering."""
    from paragrapher_spark.streaming.events import last_click_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_click_attribution(ev, max_gap_minutes=10).select(
        F.col("error_id").cast("long"),
        F.col("user_id").cast("long"),
        "t_err_us",
        F.col("click_id").cast("long"),
        "t_click_us",
        "gap_us",
    )


_LAST_CLICK_SQL = """
    WITH c AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_click_us
        FROM events WHERE event_type = 'click'
    ),
    e AS (
        SELECT user_id, event_id AS error_id, epoch_us(ts) AS t_err_us
        FROM events WHERE event_type = 'error'
    ),
    pairs AS (
        SELECT e.error_id, e.user_id, e.t_err_us, c.click_id, c.t_click_us,
               e.t_err_us - c.t_click_us AS gap_us,
               row_number() OVER (
                   PARTITION BY e.error_id
                   ORDER BY c.t_click_us DESC, c.click_id DESC
               ) AS rn
        FROM e JOIN c ON c.user_id = e.user_id
         AND e.t_err_us > c.t_click_us
         AND e.t_err_us <= c.t_click_us + 600000000
    )
    SELECT error_id, user_id, t_err_us, click_id, t_click_us, gap_us
    FROM pairs WHERE rn = 1
"""


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-filter battery (functions/text.py gopher_rules — Rae
    et al. 2021 App. A): word count, mean word length, symbol ratio,
    alpha-word fraction, distinct-stopword hits, top-bigram character
    fraction, and the conjunctive pass verdict. Thresholds scaled to the
    synthetic corpus (min_words=20, min_stop_hits=1); every ratio is a
    round(6) integer quotient so the SQL twin gates all rows."""
    from paragrapher_spark.functions.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    res = gopher_rules(docs, min_words=20, min_stop_hits=1)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long"),
        "mean_word_len",
        "symbol_ratio",
        "frac_alpha_words",
        F.col("n_stop_hits").cast("long"),
        "frac_top_bigram",
        "gopher_pass",
    )


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span dedup (operators/dedup.py span_dedup — Raffel et al.
    2020 §2.2, with fixed 16-token windows standing in for three-sentence
    spans): keep the globally-first occurrence of every distinct span,
    reassemble docs from survivors. Returns the cleaned text itself plus
    removal counts, all exactly SQL-expressible."""
    from paragrapher_spark.operators.dedup import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    res = span_dedup(docs, span_tokens=16)
    return res.select(
        F.col("id").cast("long").alias("doc_id"),
        "clean_text",
        F.col("n_spans").cast("long"),
        F.col("n_removed").cast("long"),
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting (functions/text.py bpe_token_count — the
    brief's 'whitespace + BPE-ish regex' pair): per doc, whitespace token
    count, GPT-2-style pre-token count (RE2∩Java regex, single-sourced as
    BPE_TOKEN_PATTERN so the SQL twin replays the same stream), and the
    chars-per-pre-token compression proxy."""
    from paragrapher_spark.functions.text import bpe_token_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    bpe = bpe_token_count(t)
    return docs.select(
        F.col("doc_id").cast("long"),
        token_count(t).cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.when(bpe > 0, F.round(F.length(t) / bpe, 6))
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events (streaming/events.py
    cohort_retention): users bucketed by first-seen week, counted per
    (cohort_week, week_offset) cell. Week index is Monday-anchored
    integer division of epoch days, so every column is an exact long."""
    from paragrapher_spark.streaming.events import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


_COHORT_RETENTION_SQL = """
    WITH ev AS (
        SELECT user_id,
               (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) - 4) // 7
                   AS week
        FROM events
    ),
    first AS (
        SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT ev.user_id, f.cohort_week,
               ev.week - f.cohort_week AS week_offset
        FROM ev JOIN first f ON f.user_id = ev.user_id
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY 1, 2
"""


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive event
    types per user (streaming/events.py event_transitions). Order key
    (ts, event_id) is total, and the probability is integer floor
    division in 1e-6 fixed point — every column gates bit-exactly."""
    from paragrapher_spark.streaming.events import event_transitions

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev)


_EVENT_TRANSITIONS_SQL = """
    WITH ordered AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS to_type
        FROM events
    ),
    pairs AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type, p.n, t.n_from,
           CAST(p.n * 1000000 // t.n_from AS BIGINT) AS p_fp
    FROM pairs p JOIN tot t ON t.from_type = p.from_type
"""


def _q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-day detection (streaming/events.py event_bursts): days where
    a user's event count strictly exceeds 3× their median daily count —
    integer-only robust outlier rule (type-1 median, (n_events, day_idx)
    rank order), every column an exact long."""
    from paragrapher_spark.streaming.events import event_bursts

    ev = load_table(spark, sf_dir, "events")
    return event_bursts(ev, factor=3)


_EVENT_BURSTS_SQL = """
    WITH daily AS (
        SELECT user_id,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, n_events,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events, day_idx
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_days
        FROM daily
    ),
    med AS (
        SELECT user_id, n_events AS median_n FROM ranked
        WHERE rn = CAST(ceil(n_days / 2.0) AS BIGINT)
    )
    SELECT d.user_id, d.day_idx, d.n_events, CAST(m.median_n AS BIGINT) AS median_n
    FROM daily d JOIN med m ON m.user_id = d.user_id
    WHERE d.n_events > 3 * m.median_n
"""


_CENSUS_N = 2000
_CENSUS_OUT_DEG = 4


def _q_dyad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland–Leinhardt dyad census (kernels/census.py) of the md5
    directed vertex graph: mutual / asymmetric / null unordered pairs,
    null closed-form from the declared vertex universe. One exact-long
    row; the oracle regenerates the identical edge set by hash."""
    from paragrapher_spark.kernels.census import dyad_census

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return dyad_census(g, n_vertices=_CENSUS_N)


def _dyad_census_oracle_sql() -> str:
    n = _CENSUS_N
    return f"""
        WITH e AS MATERIALIZED ({md5_vertex_graph_sql(n, _CENSUS_OUT_DEG)}),
        pair AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   count(*) AS k
            FROM e GROUP BY 1, 2
        )
        SELECT CAST({n} AS BIGINT) AS n_vertices,
               CAST(COALESCE(SUM(CASE WHEN k = 2 THEN 1 END), 0) AS BIGINT)
                   AS mutual,
               CAST(COALESCE(SUM(CASE WHEN k = 1 THEN 1 END), 0) AS BIGINT)
                   AS asym,
               CAST({n * (n - 1) // 2}
                    - COALESCE(SUM(CASE WHEN k = 2 THEN 1 END), 0)
                    - COALESCE(SUM(CASE WHEN k = 1 THEN 1 END), 0) AS BIGINT)
                   AS null_dyads
        FROM pair
    """


def _q_triad_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad motifs (kernels/census.py): ordered length-2 paths,
    transitive closures, and directed 3-cycles (closing triples DIV 3 —
    exact) on the md5 vertex graph. One exact-long row."""
    from paragrapher_spark.kernels.census import triad_motifs

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return triad_motifs(g).motifs


def _triad_motifs_oracle_sql() -> str:
    return f"""
        WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        p AS MATERIALIZED (
            SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
            FROM e e1 JOIN e e2 ON e2.src = e1.dst
            WHERE e1.src <> e2.dst
        )
        SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_paths2,
               CAST((SELECT count(*) FROM p
                     WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.src = p.u AND e.dst = p.w))
                    AS BIGINT) AS n_transitive,
               CAST((SELECT count(*) FROM p
                     WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.src = p.w AND e.dst = p.u)) // 3
                    AS BIGINT) AS n_cyclic
    """


_SALSA_ROUNDS = 4


def _q_salsa_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated SALSA (kernels/hits.py salsa — Lempel & Moran 2000) on
    the md5 vertex graph: 4 synchronous rounds in 1e-12 fixed point,
    every per-edge term an integer DIV — all columns exact longs, the
    oracle unrolls the identical recurrence."""
    from paragrapher_spark.kernels.hits import salsa

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return salsa(g, iterations=_SALSA_ROUNDS).scores


def _salsa_oracle_sql(rounds: int) -> str:
    """SALSA unroll: auth0 ≡ SCALE; per round hub = Σ auth//indeg over
    out-edges, auth = Σ hub//outdeg over in-edges (DuckDB // floors on
    positive BIGINTs exactly like Spark DIV)."""
    parts = [
        f"""WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        ind AS MATERIALIZED (SELECT dst, count(*) AS c FROM e GROUP BY dst),
        outd AS MATERIALIZED (SELECT src, count(*) AS c FROM e GROUP BY src),
        v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        a0 AS MATERIALIZED (
            SELECT id, CAST(1000000000000 AS BIGINT) AS a FROM v
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        h{r} AS MATERIALIZED (
            SELECT e.src AS id, CAST(SUM(a.a // i.c) AS BIGINT) AS h
            FROM e JOIN a{r - 1} a ON a.id = e.dst
                   JOIN ind i ON i.dst = e.dst
            GROUP BY e.src
        ),
        a{r} AS MATERIALIZED (
            SELECT e.dst AS id, CAST(SUM(h.h // o.c) AS BIGINT) AS a
            FROM e JOIN h{r} h ON h.id = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst
        )""")
    parts.append(f"""
        SELECT v.id,
               CAST(COALESCE(a{rounds}.a, 0) AS BIGINT) AS auth_fp,
               CAST(COALESCE(h{rounds}.h, 0) AS BIGINT) AS hub_fp
        FROM v LEFT JOIN a{rounds} ON a{rounds}.id = v.id
               LEFT JOIN h{rounds} ON h{rounds}.id = v.id""")
    return "".join(parts)


_LOUVAIN_ROUNDS = 3


def _q_louvain_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain synchronous local-moving phase (kernels/louvain.py),
    3 rounds on the co-purchase graph: all-integer modularity-gain
    scores (2m·k_vc − k_v·Σtot(c∖v)), min-community tie-break, strict
    improvement to move — the oracle replays every round bit-exactly."""
    from paragrapher_spark.kernels.louvain import louvain_level

    edges = copurchase_edges(spark, sf_dir)
    return louvain_level(edges, rounds=_LOUVAIN_ROUNDS).labels


def _louvain_oracle_sql(rounds: int) -> str:
    """Louvain local-moving unroll mirroring kernels/louvain.py: per
    round Σtot, k_{v,c} (adjacency×labels), own-community seed via FULL
    OUTER merge, exact-long gain scores, grouped argmax with min-comm
    tie, strict-improvement move rule."""
    parts = [
        f"""WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src AS v, dst AS u FROM edges
            UNION ALL SELECT dst AS v, src AS u FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT v AS id, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY v
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM und),
        c0 AS MATERIALIZED (SELECT id, id AS c FROM deg)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        tot{r} AS MATERIALIZED (
            SELECT l.c AS comm, CAST(SUM(d.deg) AS BIGINT) AS tot
            FROM c{r - 1} l JOIN deg d ON d.id = l.id GROUP BY 1
        ),
        kvc{r} AS MATERIALIZED (
            SELECT a.v, l.c AS comm, CAST(count(*) AS BIGINT) AS kv
            FROM und a JOIN c{r - 1} l ON l.id = a.u GROUP BY 1, 2
        ),
        cand{r} AS MATERIALIZED (
            SELECT COALESCE(k.v, l.id) AS v,
                   COALESCE(k.comm, l.c) AS comm,
                   COALESCE(k.kv, 0) AS kv
            FROM kvc{r} k FULL OUTER JOIN c{r - 1} l
              ON l.id = k.v AND l.c = k.comm
        ),
        sc{r} AS MATERIALIZED (
            SELECT cd.v, cd.comm,
                   (SELECT two_m FROM mm) * cd.kv
                   - d.deg * (t.tot - CASE WHEN cd.comm = cu.c
                                           THEN d.deg ELSE 0 END) AS score
            FROM cand{r} cd
            JOIN deg d ON d.id = cd.v
            JOIN tot{r} t ON t.comm = cd.comm
            JOIN c{r - 1} cu ON cu.id = cd.v
        ),
        mx{r} AS (SELECT v, MAX(score) AS smax FROM sc{r} GROUP BY v),
        bst{r} AS (
            SELECT s.v, m.smax, MIN(s.comm) AS bcomm
            FROM sc{r} s JOIN mx{r} m ON m.v = s.v AND s.score = m.smax
            GROUP BY 1, 2
        ),
        c{r} AS MATERIALIZED (
            SELECT cu.id,
                   CASE WHEN b.smax > st.score AND cu.id % 2 = {r % 2}
                        THEN b.bcomm ELSE cu.c END AS c
            FROM c{r - 1} cu
            JOIN bst{r} b ON b.v = cu.id
            JOIN sc{r} st ON st.v = cu.id AND st.comm = cu.c
        )""")
    parts.append(f"""
        SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS community
        FROM c{rounds}""")
    return "".join(parts)


def _q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the 3-round Louvain partition
    (kernels/labelprop.py community_conductance over kernels/louvain.py
    labels — detect-then-score, the community-pipeline shape): exact-long
    cut and volume per community, φ as one IEEE division; min(vol,
    2m−vol)=0 communities get φ=0.0 by documented convention. (LP labels
    would collapse to ONE community at small SF — a 1-row gate; Louvain's
    partition keeps the gate surface wide.)"""
    from paragrapher_spark.kernels.labelprop import community_conductance
    from paragrapher_spark.kernels.louvain import louvain_level

    edges = copurchase_edges(spark, sf_dir)
    res = louvain_level(edges, rounds=_LOUVAIN_ROUNDS)
    return community_conductance(edges, res.labels)


def _conductance_oracle_sql(rounds: int) -> str:
    return f"""
        WITH labels AS MATERIALIZED (
            SELECT id, community AS label FROM ({_louvain_oracle_sql(rounds)})
        ),
        edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
        tagged AS MATERIALIZED (
            SELECT l1.label AS ls, l2.label AS ld
            FROM edges e
            JOIN labels l1 ON l1.id = e.src
            JOIN labels l2 ON l2.id = e.dst
        ),
        cut AS (
            SELECT label, CAST(count(*) AS BIGINT) AS cut FROM (
                SELECT ls AS label FROM tagged WHERE ls <> ld
                UNION ALL SELECT ld AS label FROM tagged WHERE ls <> ld
            ) GROUP BY 1
        ),
        ud AS (
            SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
        ),
        deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM ud GROUP BY id),
        vol AS (
            SELECT l.label, CAST(count(*) AS BIGINT) AS n_vertices,
                   CAST(SUM(d.d) AS BIGINT) AS vol
            FROM deg d JOIN labels l ON l.id = d.id GROUP BY 1
        )
        SELECT CAST(v.label AS BIGINT) AS label, v.n_vertices, v.vol,
               CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
               CASE WHEN LEAST(v.vol, 2 * (SELECT m FROM mm) - v.vol) > 0
                    THEN CAST(COALESCE(c.cut, 0) AS DOUBLE)
                         / LEAST(v.vol, 2 * (SELECT m FROM mm) - v.vol)
                    ELSE 0.0 END AS phi
        FROM vol v LEFT JOIN cut c ON c.label = v.label
    """


_BPE_MERGE_TOP_K = 50


def _q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step (functions/text.py bpe_merge_pairs —
    Sennrich et al. 2016): adjacent character-pair counts within
    BPE_TOKEN_PATTERN pre-tokens, aggregated at the distinct-token level
    and weighted by token frequency; top-50 merge candidates under the
    total order (n DESC, left, right)."""
    from paragrapher_spark.functions.text import bpe_merge_pairs

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_pairs(docs, top_k=_BPE_MERGE_TOP_K)


def _bpe_merge_pairs_oracle_sql(top_k: int) -> str:
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT unnest(regexp_extract_all(text, '{_BPE_SQL_PATTERN}'))
                AS tok
            FROM documents
        ),
        vocab AS MATERIALIZED (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt
            FROM toks GROUP BY tok
        ),
        pos AS (
            SELECT tok, cnt, unnest(range(1, length(tok))) AS i
            FROM vocab WHERE length(tok) >= 2
        )
        SELECT substr(tok, CAST(i AS INTEGER), 1) AS "left",
               substr(tok, CAST(i AS INTEGER) + 1, 1) AS "right",
               CAST(SUM(cnt) AS BIGINT) AS n
        FROM pos GROUP BY 1, 2
        ORDER BY n DESC, "left", "right" LIMIT {top_k}
    """


_WINNOW_K = 8
_WINNOW_W = 4
# the synthetic docs share heavy template boilerplate: at min_shared=2
# nearly every doc pair matches (92k rows); >=20 shared fingerprints is
# where genuine clones separate (~1k pairs, stable across SFs)
_WINNOW_MIN_SHARED = 20
_WINNOW_MAX_DF = 64


def _q_winnow_clones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing clone pairs (operators/dedup.py winnow_clone_pairs
    — Schleimer et al. SIGMOD 2003): k=8 char-gram md5-prefix hashes,
    window w=4 min selection (rightmost tie), pair score = distinct
    shared fingerprints, boilerplate hashes over df=64 dropped loudly."""
    from paragrapher_spark.operators.dedup import winnow_clone_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs, _metrics = winnow_clone_pairs(
        docs,
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
        max_df=_WINNOW_MAX_DF,
    )
    return pairs


def _winnow_oracle_sql() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id AS id, text AS t FROM documents
            WHERE length(text) >= {k}
        ),
        grams AS MATERIALIZED (
            SELECT id, CAST(i AS BIGINT) AS pos,
                   ('0x' || substr(md5(substr(t, CAST(i AS INTEGER), {k})),
                                   1, 15))::BIGINT AS h
            FROM (SELECT id, t,
                         unnest(range(1, length(t) - {k} + 2)) AS i
                  FROM d)
        ),
        lim AS MATERIALIZED (
            SELECT id, length(t) - {k + w - 2} AS max_wpos FROM d
            WHERE length(t) - {k + w - 2} >= 1
        ),
        win AS MATERIALIZED (
            SELECT gw.id, gw.pos, gw.h, gw.wpos
            FROM (SELECT id, pos, h,
                         unnest(range(greatest(1, pos - {w - 1}), pos + 1))
                             AS wpos
                  FROM grams) gw
            JOIN lim l ON l.id = gw.id
            WHERE gw.wpos <= l.max_wpos
        ),
        mn AS MATERIALIZED (
            SELECT id, wpos, MIN(h) AS mh FROM win GROUP BY 1, 2
        ),
        sel AS MATERIALIZED (
            SELECT w.id, w.wpos, m.mh, MAX(w.pos) AS spos
            FROM win w JOIN mn m
              ON m.id = w.id AND m.wpos = w.wpos AND w.h = m.mh
            GROUP BY 1, 2, 3
        ),
        fp AS MATERIALIZED (SELECT DISTINCT id, mh AS h FROM sel),
        keeph AS (
            SELECT h FROM (SELECT h, count(*) AS c FROM fp GROUP BY h)
            WHERE c <= {_WINNOW_MAX_DF}
        ),
        fpk AS MATERIALIZED (
            SELECT fp.id, fp.h FROM fp JOIN keeph USING (h)
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fpk a JOIN fpk b ON a.h = b.h AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """


_PPR_SEEDS = [0, 1, 2, 3]
_PPR_ROUNDS = 6


def _q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-seed personalized PageRank (kernels/pagerank.py
    ppr_batch): 4 seeds ride the same 6 supersteps in 1e-12 fixed point,
    every per-edge term an integer DIV — bit-exact, oracle-unrollable.
    The production PPR-serving shape: marginal seed cost is rows, not
    stages."""
    from paragrapher_spark.kernels.pagerank import ppr_batch

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return ppr_batch(g, seeds=_PPR_SEEDS, rounds=_PPR_ROUNDS)


def _ppr_batch_oracle_sql(rounds: int) -> str:
    S = 1_000_000_000_000
    t = S - 85 * S // 100
    seed_rows = ", ".join(f"({s}, {s})" for s in _PPR_SEEDS)
    parts = [
        f"""WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        outd AS MATERIALIZED (SELECT src, count(*) AS c FROM e GROUP BY src),
        tel AS (SELECT seed, id, CAST({t} AS BIGINT) AS t
                FROM (VALUES {seed_rows}) v(seed, id)),
        s0 AS (SELECT seed, id, CAST({S} AS BIGINT) AS r
               FROM (VALUES {seed_rows}) v(seed, id))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        p{r} AS MATERIALIZED (
            SELECT e.dst AS id, s.seed,
                   CAST(SUM((85 * s.r) // (100 * o.c)) AS BIGINT) AS p
            FROM e JOIN s{r - 1} s ON s.id = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY 1, 2
        ),
        s{r} AS MATERIALIZED (
            SELECT COALESCE(p.seed, t.seed) AS seed,
                   COALESCE(p.id, t.id) AS id,
                   CAST(COALESCE(p.p, 0) + COALESCE(t.t, 0) AS BIGINT) AS r
            FROM p{r} p FULL OUTER JOIN tel t
              ON t.seed = p.seed AND t.id = p.id
        )""")
    parts.append(f"""
        SELECT seed, id, r AS ppr_fp FROM s{rounds} WHERE r > 0""")
    return "".join(parts)


_RMAT_SCALE = 10
_RMAT_EDGE_FACTOR = 8


def _q_rmat_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the deterministic R-MAT scale-10 graph
    (sources/edges.py rmat_edges — Chakrabarti et al. 2004, Graph500
    .57/.19/.19/.05 quadrants as integer-percent hash thresholds): the
    heavy-tailed counterpart of the uniform md5 graph, exercising the
    skew path. The oracle regenerates the identical edge set by hash."""
    from paragrapher_spark.sources.edges import rmat_edges

    g = rmat_edges(spark, scale=_RMAT_SCALE, edge_factor=_RMAT_EDGE_FACTOR)
    return (
        g.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .groupBy(F.col("d").cast("long").alias("out_degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )


def _rmat_degree_dist_oracle_sql() -> str:
    from paragrapher_spark.sources.edges import rmat_edges_sql

    return f"""
        WITH e AS MATERIALIZED (
            {rmat_edges_sql(_RMAT_SCALE, _RMAT_EDGE_FACTOR)}
        ),
        outd AS (SELECT src, count(*) AS d FROM e GROUP BY src)
        SELECT CAST(d AS BIGINT) AS out_degree,
               CAST(count(*) AS BIGINT) AS n_vertices
        FROM outd GROUP BY 1
    """


_SWEEP_ROUNDS = 6


def _q_ppr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACL PPR sweep cut (kernels/localcluster.py — Andersen-Chung-Lang
    FOCS 2006) around the smallest co-purchase vertex: degree-normalized
    PPR order, exact prefix volume/cut via cumulative sums, argmin
    conductance in 1e-9 integer fixed point. Every column exact."""
    from paragrapher_spark.kernels.localcluster import ppr_sweep_cut

    edges = copurchase_edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).collect()[0][0]  # src<dst ⇒ min vertex
    return ppr_sweep_cut(edges, seed=int(seed), rounds=_SWEEP_ROUNDS)


def _ppr_sweep_oracle_sql(rounds: int) -> str:
    S = 1_000_000_000_000
    t = S - 85 * S // 100
    parts = [
        f"""WITH ced AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src, dst FROM ced
            UNION ALL SELECT dst AS src, src AS dst FROM ced
        ),
        deg AS MATERIALIZED (
            SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY 1
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM und),
        sd AS (SELECT MIN(src) AS sid FROM ced),
        tel AS (SELECT sid AS id, CAST({t} AS BIGINT) AS t FROM sd),
        s0 AS (SELECT sid AS id, CAST({S} AS BIGINT) AS r FROM sd)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        p{r} AS MATERIALIZED (
            SELECT e.dst AS id,
                   CAST(SUM((85 * s.r) // (100 * o.deg)) AS BIGINT) AS p
            FROM und e JOIN s{r - 1} s ON s.id = e.src
                       JOIN deg o ON o.id = e.src
            GROUP BY 1
        ),
        s{r} AS MATERIALIZED (
            SELECT COALESCE(p.id, t.id) AS id,
                   CAST(COALESCE(p.p, 0) + COALESCE(t.t, 0) AS BIGINT) AS r
            FROM p{r} p FULL OUTER JOIN tel t ON t.id = p.id
        )""")
    parts.append(f""",
        pprv AS MATERIALIZED (
            SELECT id, r AS ppr_fp FROM s{rounds} WHERE r > 0
        ),
        ranked AS MATERIALIZED (
            SELECT p.id, d.deg, p.ppr_fp,
                   CAST(row_number() OVER (
                       ORDER BY (p.ppr_fp * 1000) // d.deg DESC, p.id
                   ) AS BIGINT) AS rank
            FROM pprv p JOIN deg d ON d.id = p.id
        ),
        vols AS (
            SELECT rank, id, ppr_fp,
                   CAST(SUM(deg) OVER (ORDER BY rank) AS BIGINT) AS vol
            FROM ranked
        ),
        mrk AS (
            SELECT GREATEST(ra.rank, rb.rank) AS mr,
                   CAST(count(*) AS BIGINT) AS c
            FROM ced e JOIN ranked ra ON ra.id = e.src
                       JOIN ranked rb ON rb.id = e.dst
            GROUP BY 1
        ),
        swc AS (
            SELECT v.rank, v.id, v.ppr_fp, v.vol,
                   CAST(SUM(COALESCE(m.c, 0)) OVER (ORDER BY v.rank)
                        AS BIGINT) AS internal
            FROM vols v LEFT JOIN mrk m ON m.mr = v.rank
        ),
        fin AS (
            SELECT rank, id, ppr_fp, vol,
                   CAST(vol - 2 * internal AS BIGINT) AS cut,
                   CAST(((vol - 2 * internal) * 1000000000)
                        // LEAST(vol, (SELECT two_m FROM mm) - vol)
                        AS BIGINT) AS phi_fp
            FROM swc
            WHERE vol * 2 <= (SELECT two_m FROM mm)
        ),
        bst AS (
            SELECT MIN(rank) AS best_rank FROM fin
            WHERE phi_fp = (SELECT MIN(phi_fp) FROM fin)
        )
        SELECT rank, id, ppr_fp, vol, cut, phi_fp,
               rank = (SELECT best_rank FROM bst) AS is_best
        FROM fin""")
    return "".join(parts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full registry in family order (graph, corpus, ANN, events, ...)."""
    return {
        "graph_meta": _q_graph_meta,
        "in_degree_dist": _q_in_degree_dist,
        "degree_topk": _q_degree_topk,
        "csr_offsets": _q_csr_offsets,
        "pagerank_copurchase": _q_pagerank_copurchase,
        "pagerank_incremental": _q_pagerank_incremental,
        "pagerank_fixed8": _q_pagerank_fixed8,
        "pagerank_personalized_fixed": _q_pagerank_personalized_fixed,
        "pagerank_weighted_fixed": _q_pagerank_weighted_fixed,
        "wcc_labels": _q_wcc_labels,
        "wcc_incremental": _q_wcc_incremental,
        "wcc_decremental": _q_wcc_decremental,
        "wcc_sizes": _q_wcc_sizes,
        "triangle_count": _q_triangle_count,
        "triangle_count_incremental": _q_triangle_count_incremental,
        "triangle_count_decremental": _q_triangle_count_decremental,
        "square_count": _q_square_count,
        "triangles_per_vertex": _q_triangles_per_vertex,
        "bfs_depths": _q_bfs_depths,
        "sssp_weighted": _q_sssp_weighted,
        "hyperball_balls": _q_hyperball_balls,
        "hits_fixed": _q_hits_fixed,
        "clustering_coeff": _q_clustering_coeff,
        "kcore_members": _q_kcore_members,
        "label_propagation": _q_label_propagation,
        "import_graph_pagerank": _q_import_graph_pagerank,
        "import_pagerank_fixed": _q_import_pagerank_fixed,
        "import_graph_pagerank_weighted": _q_import_graph_pagerank_weighted,
        "pagerank_personalized": _q_pagerank_personalized,
        "exact_dup_groups": _q_exact_dup_groups,
        "text_stats": _q_text_stats,
        "corpus_clean": _q_corpus_clean,
        "language_id": _q_language_id,
        "minhash_near_dups": _q_minhash_near_dups,
        "simhash_near_dups": _q_simhash_near_dups,
        "ngram_jaccard": _q_ngram_jaccard,
        "embedding_dups": _q_embedding_dups,
        "doc_fingerprint": _q_doc_fingerprint,
        "media_stats": _q_media_stats,
        "knn_bruteforce": _q_knn_bruteforce,
        "knn_lsh": _q_knn_lsh,
        "knn_ivf": _q_knn_ivf,
        "events_hourly": _q_events_hourly,
        "sessions": _q_sessions,
        "webgraph_roundtrip": _q_webgraph_roundtrip,
        "webgraph_weighted_roundtrip": _q_webgraph_weighted_roundtrip,
        "binary_csr_roundtrip": _q_binary_csr_roundtrip,
        "matrix_market_roundtrip": _q_matrix_market_roundtrip,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "knn_ivf_fixed": _q_knn_ivf_fixed,
        "random_walks": _q_random_walks,
        "random_walks_weighted": _q_random_walks_weighted,
        "node2vec_walks": _q_node2vec_walks,
        "neighbor_sampling": _q_neighbor_sampling,
        "scc_imports": _q_scc_imports,
        "scc_random_digraph": _q_scc_random_digraph,
        "neighbor_features": _q_neighbor_features,
        "sp_counts": _q_sp_counts,
        "betweenness_sampled": _q_betweenness_sampled,
        "harmonic_sampled": _q_harmonic_sampled,
        "closeness_sampled": _q_closeness_sampled,
        "eccentricity_sampled": _q_eccentricity_sampled,
        "scc_condensation": _q_scc_condensation,
        "modularity_lp": _q_modularity_lp,
        "link_prediction": _q_link_prediction,
        "assortativity": _q_assortativity,
        "mis_members": _q_mis_members,
        "ktruss_edges": _q_ktruss,
        "coreness_all": _q_coreness,
        "doc_sample_stratified": _q_doc_sample_stratified,
        "doc_splits": _q_doc_splits,
        "near_dup_canonical": _q_near_dup_canonical,
        "neighborhood_function": _q_neighborhood_function,
        "reciprocity": _q_reciprocity,
        "doc_top_terms": _q_doc_top_terms,
        "rich_club": _q_rich_club,
        "transitivity": _q_transitivity,
        "edge_embeddedness": _q_edge_embeddedness,
        "pseudo_diameter": _q_pseudo_diameter,
        "edge_betweenness_sampled": _q_edge_betweenness,
        "densest_subgraph": _q_densest_subgraph,
        "wl_colors": _q_wl_colors,
        "msf_edges": _q_msf_edges,
        "affinity_clusters": _q_affinity_clusters,
        "doc_packs": _q_doc_packs,
        "vocab_per_lang": _q_vocab_per_lang,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "bm25_topk": _q_bm25_topk,
        "inverted_index": _q_inverted_index,
        "bloom_membership": _q_bloom_membership,
        "corpus_pipeline": _q_corpus_pipeline,
        "katz_fixed": _q_katz_fixed,
        "build_order": _q_build_order,
        "event_funnel": _q_event_funnel,
        "subgraph_sample": _q_subgraph_sample,
        "graph_coloring": _q_graph_coloring,
        "knn_profile": _q_knn_profile,
        "cooccurrence": _q_cooccurrence,
        "package_graph": _q_package_graph,
        "call_edges": _q_call_edges,
        "call_graph_pagerank": _q_call_graph_pagerank,
        "call_file_fanout": _q_call_file_fanout,
        "call_scc": _q_call_scc,
        "import_impact": _q_import_impact,
        "dead_functions": _q_dead_functions,
        "split_contamination": _q_split_contamination,
        "pii_scrub": _q_pii_scrub,
        "events_asof": _q_events_asof,
        "events_range_join": _q_events_range_join,
        "last_click_attribution": _q_last_click_attribution,
        "events_rollup": _q_events_rollup,
        "cohort_retention": _q_cohort_retention,
        "event_transitions": _q_event_transitions,
        "event_bursts": _q_event_bursts,
        "dyad_census": _q_dyad_census,
        "triad_motifs": _q_triad_motifs,
        "salsa_fixed": _q_salsa_fixed,
        "louvain_labels": _q_louvain_labels,
        "community_conductance": _q_community_conductance,
        "bpe_merge_pairs": _q_bpe_merge_pairs,
        "winnow_clones": _q_winnow_clones,
        "ppr_batch": _q_ppr_batch,
        "rmat_degree_dist": _q_rmat_degree_dist,
        "ppr_sweep": _q_ppr_sweep,
        "events_pivot": _q_events_pivot,
        "corpus_diff": _q_corpus_diff,
        "table_time_travel": _q_table_time_travel,
        "merge_upsert": _q_merge_upsert,
        "zorder_tiles": _q_zorder_tiles,
        "gap_bits_orders": _q_gap_bits_orders,
        "join_skew_report": _q_join_skew_report,
        "bucketed_join": _q_bucketed_join,
        "vertex_cut_report": _q_vertex_cut_report,
        "doc_length_quantiles": _q_doc_length_quantiles,
        "eigencentrality_fixed": _q_eigencentrality_fixed,
        "maximal_matching": _q_maximal_matching,
        "shared_imports": _q_shared_imports,
        "triangle_count_doulion": _q_triangle_count_doulion,
        "bipartite_check": _q_bipartite_check,
        "dup_gram_stats": _q_dup_gram_stats,
        "doc_lm_score": _q_doc_lm_score,
        "lm_quality_buckets": _q_lm_quality_buckets,
        "gopher_rules": _q_gopher_rules,
        "span_dedup": _q_span_dedup,
        "token_counts": _q_token_counts,
        "semantic_dedup": _q_semantic_dedup,
    }


_WCC_CTE = f"""
    WITH RECURSIVE edges AS ({COPURCHASE_EDGES_SQL}),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    verts AS (SELECT DISTINCT a AS v FROM und),
    reach(v, r) AS (
        SELECT v, v FROM verts
        UNION
        SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
    ),
    comp AS (SELECT v AS id, MIN(r) AS component FROM reach GROUP BY v)
"""

# decremental twin: closure runs over the post-removal edge set, but the
# vertex universe stays the FULL graph's endpoints so vertices isolated
# by the removal appear as singleton components (matching the engine's
# kept-previous-labels semantics)
_WCC_DEC_CTE = f"""
    WITH RECURSIVE alledges AS ({COPURCHASE_EDGES_SQL}),
    edges AS (
        SELECT src, dst FROM alledges WHERE (src * 7919 + dst) % 10 <> 3
    ),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    verts AS (
        SELECT DISTINCT src AS v FROM alledges
        UNION
        SELECT DISTINCT dst AS v FROM alledges
    ),
    reach(v, r) AS (
        SELECT v, v FROM verts
        UNION
        SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
    ),
    comp AS (SELECT v AS id, MIN(r) AS component FROM reach GROUP BY v)
"""

_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"

# BPE-ish pre-tokenizer regex, single-sourced from the Spark operator so
# the two engines cannot drift; SQL string literal needs '' for '
from paragrapher_spark.functions.text import BPE_TOKEN_PATTERN as _BPE_PATTERN  # noqa: E402

_BPE_SQL_PATTERN = _BPE_PATTERN.replace("'", "''")

# PII oracle patterns: the SAME strings as functions/text.PII_RULES
# (single-sourced so the Spark scrub and the SQL twin cannot drift)
from paragrapher_spark.functions.text import PII_RULES as _PII_RULES  # noqa: E402

_PII_EMAIL = _PII_RULES[0][1]
_PII_NUMBER = _PII_RULES[1][1]


# ---------------------------------------------------------------------------
# unrolled-CTE oracle generators for the iterative kernels
#
# Fixed-round algorithms are each-round-plain-SQL: chaining R rounds of CTEs
# reaches the same state as the Spark superstep loop. Early convergence is
# safe because each update is idempotent at its fixpoint (LP re-votes the
# same labels; k-core re-peels nothing), so unrolling MORE rounds than the
# data needs is exact. This is the DuckDB analogue of the reference's
# internal-invariant asserts (`test/test1_deg_dist_WG400.c:230`,
# `test/test2_jtcc_WG400.c:279`) — but checked against an independent engine.
# ---------------------------------------------------------------------------


def _sssp_oracle_sql(rounds: int) -> str:
    """Synchronous Bellman-Ford unrolled to ``rounds`` materialized CTE
    relaxations over the undirected weighted co-purchase graph, from the
    smallest vertex id. Round k holds min summed weight over paths of <= k
    edges — exactly kernels/sssp.py's round-k state; past convergence the
    min-merge is a fixpoint, so over-unrolling is exact."""
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""
    r{k} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM r{k - 1}
            UNION ALL
            SELECT u.dst AS id, r.dist + u.w AS dist
            FROM r{k - 1} r JOIN und u ON u.src = r.id
        ) GROUP BY id
    )"""
        )
    return f"""
    WITH e AS ({COPURCHASE_WEIGHTED_EDGES_SQL}),
    und AS (
        SELECT src, dst, MIN(weight) AS w FROM (
            SELECT src, dst, weight FROM e
            UNION ALL
            SELECT dst AS src, src AS dst, weight FROM e
        ) GROUP BY src, dst
    ),
    r0 AS MATERIALIZED (
        SELECT (SELECT MIN(LEAST(src, dst)) FROM e) AS id,
               CAST(0 AS BIGINT) AS dist
    ),
    {",".join(ctes)}
    SELECT CAST(id AS BIGINT) AS id, CAST(dist AS BIGINT) AS dist
    FROM r{rounds}
    """


def _hyperball_ctes(radius: int) -> str:
    """Shared WITH-body of the hyperball oracles at ``radius``: register
    evolution (sparse (v, reg, rho) rows, GROUP BY max merge) + per-radius
    ball estimates e0..e{radius} — the verbatim transliteration of
    hyperball.ball_estimate (exact-BIGINT denominator, shared literal
    constants, shared ln() CASE table)."""
    from paragrapher_spark.kernels.hyperball import (
        EST_NUM,
        LN_TABLE,
        M,
        RHO_CAP,
        SMALL_RANGE,
    )

    ln_case = " ".join(
        f"WHEN {z} THEN {LN_TABLE[z - 1]!r}" for z in range(1, M + 1)
    )
    rounds, ests = [], []
    for k in range(1, radius + 1):
        rounds.append(
            f"""
    r{k} AS MATERIALIZED (
        SELECT v, reg, MAX(rho) AS rho FROM (
            SELECT v, reg, rho FROM r{k - 1}
            UNION ALL
            SELECT u.src AS v, s.reg, s.rho
            FROM r{k - 1} s JOIN und u ON u.dst = s.v
        ) GROUP BY v, reg
    )"""
        )
    for k in range(0, radius + 1):
        ests.append(
            f"""
    e{k} AS MATERIALIZED (
        SELECT v, ROUND(CASE WHEN raw <= {SMALL_RANGE!r} AND zeros > 0
                             THEN CASE zeros {ln_case} END
                        ELSE raw END, 6) AS est
        FROM (
            SELECT v, {EST_NUM!r} / CAST(denom AS DOUBLE) AS raw, zeros
            FROM (
                SELECT v,
                       SUM(CAST(1 AS BIGINT) << ({RHO_CAP} - rho))
                           + ({M} - COUNT(*)) * CAST({2**RHO_CAP} AS BIGINT)
                           AS denom,
                       {M} - COUNT(*) AS zeros
                FROM r{k} GROUP BY v
            )
        )
    )"""
        )
    return f"""
    WITH e0g AS ({COPURCHASE_EDGES_SQL}),
    und AS (
        SELECT src, dst FROM e0g
        UNION
        SELECT dst AS src, src AS dst FROM e0g
    ),
    verts AS (SELECT DISTINCT src AS id FROM und),
    hh AS (
        SELECT id,
               ('0x' || substr(md5(concat_ws(':', 'hb', '42',
                   CAST(id AS VARCHAR))), 1, 15))::BIGINT AS hv
        FROM verts
    ),
    r0 AS MATERIALIZED (
        SELECT id AS v, hv % {M} AS reg,
               CASE WHEN hv // {M} = 0 THEN {RHO_CAP}
                    ELSE LEAST(1 + bit_count(((hv // {M}) & -(hv // {M})) - 1),
                               {RHO_CAP})
               END AS rho
        FROM hh
    ),
    {",".join(rounds)},
    {",".join(ests)}"""


def _hyperball_oracle_sql(radius: int) -> str:
    """DuckDB twin of kernels/hyperball.py at ``radius`` on the undirected
    co-purchase graph: per-vertex ball + harmonic over the shared CTEs."""
    # harmonic accumulation mirrors the kernel's left-associated sum of
    # INTEGER-rounded ball deltas: ((0.0 + n1/1.0) + n2/2.0) + ... — n/2^k
    # is binary-exact and n/3,/5... never lands on a 1e-6 decimal tie, so
    # the final ROUND(6) agrees across engines (kernels/hyperball.py)
    harmonic = " + ".join(
        f"(ROUND(e{k}.est) - ROUND(e{k - 1}.est)) / {float(k)!r}"
        for k in range(1, radius + 1)
    )
    joins = " ".join(f"JOIN e{k} USING (v)" for k in range(1, radius + 1))
    return f"""{_hyperball_ctes(radius)}
    SELECT CAST(v AS BIGINT) AS id,
           e{radius}.est AS ball,
           ROUND(0.0 + {harmonic}, 6) AS harmonic
    FROM e0 {joins}
    """


def _neighborhood_function_sql(radius: int) -> str:
    """_q_neighborhood_function's twin: per-radius neighborhood function
    nf(t) = SUM of integer-rounded ball estimates (exact BIGINTs, the
    kernel's HyperBallResult.nf), coverage fraction as ONE IEEE division
    of those longs, and the HyperANF effective diameter flagged by the
    all-integer comparison nf(t)*10 >= 9*nf(R) at its minimal t."""
    nfs = "\n        UNION ALL ".join(
        f"SELECT {k} AS radius, SUM(CAST(ROUND(est) AS BIGINT)) AS nf FROM e{k}"
        for k in range(0, radius + 1)
    )
    return f"""{_hyperball_ctes(radius)},
    nft AS MATERIALIZED (
        {nfs}
    ),
    fin AS (SELECT nf AS nf_r FROM nft WHERE radius = {radius}),
    eff AS (
        SELECT MIN(radius) AS t FROM nft, fin WHERE nf * 10 >= 9 * nf_r
    )
    SELECT CAST(nft.radius AS INTEGER) AS radius,
           CAST(nft.nf AS BIGINT) AS nf,
           CAST(nft.nf AS DOUBLE) / CAST(fin.nf_r AS DOUBLE) AS coverage,
           nft.radius = eff.t AS is_effective_diameter
    FROM nft, fin, eff
    """


def _hits_oracle_sql(iters: int) -> str:
    """Kleinberg HITS unrolled: auth round k sums hub round k-1 over
    in-edges, hub round k sums auth round k over out-edges (the kernel's
    exact interleave), normalized once at the end by each vector's L1 mass
    over ALL vertices (missing side = 0)."""
    ctes = []
    for k in range(1, iters + 1):
        ctes.append(
            f"""
    a{k} AS MATERIALIZED (
        SELECT e.dst AS id, SUM(h.hub) AS auth
        FROM e JOIN h{k - 1} h ON e.src = h.id GROUP BY e.dst
    ),
    h{k} AS MATERIALIZED (
        SELECT e.src AS id, SUM(a.auth) AS hub
        FROM e JOIN a{k} a ON e.dst = a.id GROUP BY e.src
    )"""
        )
    return f"""
    WITH e AS ({CUSTOMER_ORDER_EDGES_SQL}),
    verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (
        SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts
    ),
    {",".join(ctes)},
    fin AS (
        SELECT v.id,
               COALESCE(a.auth, 0.0) AS auth,
               COALESCE(h.hub, 0.0) AS hub
        FROM verts v
        LEFT JOIN a{iters} a ON a.id = v.id
        LEFT JOIN h{iters} h ON h.id = v.id
    )
    SELECT CAST(id AS BIGINT) AS id,
           ROUND(auth / (SELECT SUM(auth) FROM fin), 6) AS authority,
           ROUND(hub / (SELECT SUM(hub) FROM fin), 6) AS hub
    FROM fin
    """


def _lp_oracle_sql(rounds: int) -> str:
    """Synchronous label propagation, min-label tie-break, self-vote
    included — kernels/labelprop.py unrolled round by round.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    and each round references the previous one 2x — un-materialized, the
    expansion is 2^rounds copies of the base self-join (observed: disk
    exhaustion via temp spill)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT src AS a, dst AS b FROM edges WHERE src <> dst
        UNION
        SELECT dst AS a, src AS b FROM edges WHERE src <> dst
    ),
    lp0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    votes{r} AS MATERIALIZED (
        SELECT u.a AS id, l.label FROM und u JOIN lp{r - 1} l ON l.id = u.b
        UNION ALL
        SELECT id, label FROM lp{r - 1}
    ),
    cnt{r} AS MATERIALIZED (
        SELECT id, label, count(*) AS c FROM votes{r} GROUP BY id, label
    ),
    lp{r} AS MATERIALIZED (
        SELECT id, label FROM (
            SELECT id, label,
                   row_number() OVER (
                       PARTITION BY id ORDER BY c DESC, label ASC
                   ) AS rn
            FROM cnt{r}
        ) WHERE rn = 1
    )""")
    parts.append(
        f"\n    SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label"
        f" FROM lp{rounds}"
    )
    return "".join(parts)


def _modularity_lp_oracle_sql(rounds: int) -> str:
    """Newman modularity of the round-``rounds`` LP labeling, exact-integer
    formulation mirroring kernels/labelprop.py:modularity — reuses the LP
    unroll as a subquery and recomputes Q = (4·m·Σe_c − Σd_c²)/(4·m²)."""
    return f"""
        WITH labels AS MATERIALIZED ({_lp_oracle_sql(rounds)}),
        edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS sum_ec
               FROM edges e
               JOIN labels l1 ON l1.id = e.src
               JOIN labels l2 ON l2.id = e.dst
               WHERE l1.label = l2.label),
        deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY src),
        dc AS (SELECT l.label, CAST(SUM(d.d) AS BIGINT) AS dcs
               FROM deg d JOIN labels l ON l.id = d.id GROUP BY l.label),
        s2 AS (SELECT CAST(SUM(dcs * dcs) AS BIGINT) AS sum_dc2 FROM dc)
        SELECT m, sum_ec, sum_dc2,
               CAST(4 * m * sum_ec - sum_dc2 AS BIGINT) AS q_num,
               CAST(CAST(4 * m * sum_ec - sum_dc2 AS BIGINT) AS DOUBLE)
                   / CAST(4 * m * m AS DOUBLE) AS q
        FROM mm, ec, s2
    """


def _mis_oracle_sql(rounds: int) -> str:
    """Deterministic-Luby MIS (kernels/mis.py) unrolled: per round,
    every undecided vertex compares its (md5-priority, id) key against
    the lexicographic minimum over its UNDECIDED neighbors; strict
    winners join, their neighbors leave. Past the fixpoint the
    undecided CTE is empty, so over-unrolling is exact. The lexicographic
    neighbor-min is computed in two grouped steps (min h, then min id at
    that h) to stay on plain scalar aggregates."""
    h_expr = _md5h("mis", "CAST(id AS VARCHAR)")
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        f"""
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und
        UNION ALL SELECT b AS v, a AS u FROM und
    ),
    u0 AS MATERIALIZED (
        SELECT id, {h_expr} AS h FROM (
            SELECT a AS id FROM und UNION SELECT b FROM und
        )
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    nb{r} AS MATERIALIZED (
        SELECT a.v, uu.h, uu.id AS uid
        FROM adj a JOIN u{r - 1} uu ON a.u = uu.id
        WHERE a.v IN (SELECT id FROM u{r - 1})
    ),
    mn{r} AS MATERIALIZED (
        SELECT n.v, n.mh, MIN(b.uid) AS mid FROM (
            SELECT v, MIN(h) AS mh FROM nb{r} GROUP BY v
        ) n JOIN nb{r} b ON b.v = n.v AND b.h = n.mh
        GROUP BY n.v, n.mh
    ),
    w{r} AS MATERIALIZED (
        SELECT uu.id FROM u{r - 1} uu LEFT JOIN mn{r} m ON uu.id = m.v
        WHERE m.v IS NULL
           OR uu.h < m.mh OR (uu.h = m.mh AND uu.id < m.mid)
    ),
    u{r} AS MATERIALIZED (
        SELECT id, h FROM u{r - 1}
        WHERE id NOT IN (SELECT id FROM w{r})
          AND id NOT IN (
            SELECT a.v FROM adj a WHERE a.u IN (SELECT id FROM w{r})
          )
    )""")
    members = "\n        UNION ALL ".join(
        f"SELECT id, {r} AS r FROM w{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(r AS INTEGER) AS round
    FROM ({members})""")
    return "".join(parts)


_DOC_TOP_TERMS_SQL = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    dft AS MATERIALIZED (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, dft.df,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC
               ) AS rank
        FROM tf JOIN dft USING (term)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """


def _corpus_pipeline_sql() -> str:
    """_q_corpus_pipeline's twin: every stage's existing SQL twin chained
    in one WITH RECURSIVE — exact-dedup reps, minhash pairs over the kept
    set (same builder, source='kept'), recursive-CTE closure for the
    near-dup clusters, text-stats CTEs, the sampling/split thresholds,
    and the per-(split, bucket) packing window."""
    from paragrapher_spark.operators.sampling import threshold_for

    h_strat = _md5h("strat", "CAST(doc_id AS VARCHAR)")
    h_split = _md5h("split", "CAST(doc_id AS VARCHAR)")
    h_pack = _md5h("pack", "CAST(doc_id AS VARCHAR)")
    strat_cases = " ".join(
        f"WHEN '{v}' THEN {threshold_for(f)}"
        for v, f in sorted(_STRAT_FRACTIONS.items())
    )
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        whens.append(
            f"WHEN {h_split} < {threshold_for(min(acc, 1.0))} THEN '{name}'"
        )
    return f"""
    WITH RECURSIVE reps AS (
        SELECT md5(text) AS h, min(doc_id) AS rep
        FROM documents GROUP BY md5(text)
    ),
    kept AS MATERIALIZED (
        SELECT d.doc_id, d.text FROM documents d
        JOIN reps r ON r.rep = d.doc_id
    ),
    ndpairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql(source='kept')}) mh
    ),
    ndnodes AS (SELECT id_a AS id FROM ndpairs UNION SELECT id_b FROM ndpairs),
    ndsym AS (
        SELECT id_a AS u, id_b AS v FROM ndpairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM ndpairs
    ),
    ndr(a, b) AS (
        SELECT id, id FROM ndnodes
        UNION
        SELECT ndr.a, s.v FROM ndr JOIN ndsym s ON s.u = ndr.b
    ),
    ndcomp AS MATERIALIZED (
        SELECT a AS id, MIN(b) AS component FROM ndr GROUP BY a
    ),
    canon AS MATERIALIZED (
        SELECT k.doc_id, k.text FROM kept k
        LEFT JOIN ndcomp c ON c.id = k.doc_id
        WHERE c.component IS NULL OR c.component = k.doc_id
    ),
    {_text_stats_ctes('canon')},
    surv AS MATERIALIZED (
        SELECT s.doc_id, s.n_tokens, d.lang
        FROM stats_out s JOIN documents d USING (doc_id)
        WHERE s.quality_score >= 0.3 AND s.n_tokens >= 8
    ),
    samp AS MATERIALIZED (
        SELECT * FROM surv
        WHERE {h_strat} < CASE lang {strat_cases}
                          ELSE {threshold_for(_STRAT_DEFAULT)} END
    ),
    spl AS (
        SELECT doc_id, lang, n_tokens,
               CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split,
               {h_pack} % {_PACK_BUCKETS} AS bucket
        FROM samp
    ),
    cum AS (
        SELECT doc_id, lang, split, n_tokens, bucket,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY split, bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM spl
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, split,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bucket AS INTEGER) AS bucket,
           CAST(tokens_before // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM cum
    """


def _near_dup_canonical_sql() -> str:
    """_q_near_dup_canonical's twin: the minhash candidate SQL (same
    builder the `minhash_near_dups` gate uses — single source of truth)
    as a subquery, transitive closure by recursive CTE, canonical =
    MIN(reachable id), docs without near-dups mapping to themselves."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql()}) mh
    ),
    nodes AS MATERIALIZED (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
    ),
    sym AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM pairs
    ),
    rr(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT rr.a, s.v FROM rr JOIN sym s ON s.u = rr.b
    ),
    comp AS MATERIALIZED (
        SELECT a AS id, MIN(b) AS component FROM rr GROUP BY a
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS canonical_id
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


def _doc_sample_stratified_sql() -> str:
    """operators/sampling.py stratified_sample replayed: same md5-prefix
    hash, same driver-computed integer thresholds — every keep decision
    identical by construction."""
    from paragrapher_spark.operators.sampling import threshold_for

    h = _md5h("strat", "CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{v}' THEN {threshold_for(f)}"
        for v, f in sorted(_STRAT_FRACTIONS.items())
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
    FROM documents
    WHERE {h} < CASE lang {cases} ELSE {threshold_for(_STRAT_DEFAULT)} END
    """


def _doc_splits_sql() -> str:
    """operators/sampling.py assign_splits replayed: hash space cut at
    the same cumulative-weight integer boundaries."""
    from paragrapher_spark.operators.sampling import threshold_for

    h = _md5h("split", "CAST(doc_id AS VARCHAR)")
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc = 0.0
    whens = []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        whens.append(f"WHEN {h} < {threshold_for(min(acc, 1.0))} THEN '{name}'")
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
    FROM documents
    """


def _coreness_oracle_sql(rounds: int) -> str:
    """Neighborhood H-index iteration (kernels/coreness.py) unrolled from
    degrees: per round, each vertex's value becomes the H-index of its
    neighbors' values — ROW_NUMBER over values descending, then the
    largest rank whose value still covers it. Pointwise non-increasing
    and idempotent at the fixpoint (= the coreness, Lu et al. 2016), so
    over-unrolling is exact."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und
        UNION ALL SELECT b AS v, a AS u FROM und
    ),
    c0 AS MATERIALIZED (
        SELECT v AS id, count(*) AS c FROM adj GROUP BY v
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    c{r} AS MATERIALIZED (
        SELECT v AS id, COALESCE(MAX(CASE WHEN cu >= rn THEN rn END), 0) AS c
        FROM (
            SELECT a.v, c.c AS cu,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.v ORDER BY c.c DESC, a.u ASC
                   ) AS rn
            FROM adj a JOIN c{r - 1} c ON c.id = a.u
        ) GROUP BY v
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS coreness
    FROM c{rounds}""")
    return "".join(parts)


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    """k-truss peel (kernels/ktruss.py) unrolled: per round, each edge's
    triangle support is recounted over the CURRENT edge set via the
    common-neighbor join (u adjacent to both endpoints — self-loops were
    removed up front, so no endpoint can appear as its own common
    neighbor), then edges below k-2 drop. Over-unrolling past the fixpoint
    is exact: the support recount over an unchanged edge set is
    idempotent, so every extra round reproduces the same (a, b, support)
    rows the Spark kernel's terminating round materialized."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    adj{r} AS MATERIALIZED (
        SELECT a AS v, b AS u FROM e{r - 1}
        UNION ALL SELECT b AS v, a AS u FROM e{r - 1}
    ),
    sup{r} AS MATERIALIZED (
        SELECT e.a, e.b, count(*) AS support
        FROM e{r - 1} e
        JOIN adj{r} x ON x.v = e.a
        JOIN adj{r} y ON y.v = e.b AND y.u = x.u
        GROUP BY e.a, e.b
    ),
    e{r} AS MATERIALIZED (
        SELECT e.a, e.b, COALESCE(s.support, 0) AS support
        FROM e{r - 1} e LEFT JOIN sup{r} s ON s.a = e.a AND s.b = e.b
        WHERE COALESCE(s.support, 0) >= {k - 2}
    )""")
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(support AS BIGINT) AS support
    FROM e{rounds}""")
    return "".join(parts)


def _pseudo_diameter_oracle_sql(sweeps: int, levels: int) -> str:
    """Mirror of kernels/bfs.py pseudo_diameter: per sweep an unrolled
    single-source frontier BFS (frontier = neighbors minus visited, the
    kernel's exact superstep), the next sweep's source selected by the
    same total order (dist DESC, id ASC). ``levels`` must exceed the true
    eccentricities — the Spark query asserts that before returning."""
    parts = [
        f"edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        """und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2)""",
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und "
        "UNION ALL SELECT b AS src, a AS dst FROM und)",
        "deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY 1)",
        "s0 AS MATERIALIZED (SELECT id FROM deg ORDER BY deg DESC, id ASC LIMIT 1)",
    ]
    rows = []
    src_cte = "s0"
    for s in range(sweeps):
        w = f"sw{s}"
        parts.append(f"{w}f0 AS MATERIALIZED (SELECT id FROM {src_cte})")
        parts.append(f"{w}v0 AS MATERIALIZED (SELECT id FROM {w}f0)")
        for d in range(1, levels + 1):
            parts.append(f"""{w}f{d} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS id
        FROM {w}f{d - 1} p JOIN sym e ON e.src = p.id
        WHERE NOT EXISTS (SELECT 1 FROM {w}v{d - 1} v WHERE v.id = e.dst))""")
            parts.append(
                f"{w}v{d} AS MATERIALIZED (SELECT id FROM {w}v{d - 1} "
                f"UNION ALL SELECT id FROM {w}f{d})"
            )
        lvl_union = " UNION ALL ".join(
            f"SELECT id, CAST({d} AS BIGINT) AS dist FROM {w}f{d}"
            for d in range(levels + 1)
        )
        parts.append(f"{w}lvl AS MATERIALIZED ({lvl_union})")
        parts.append(
            f"{w}far AS MATERIALIZED (SELECT id, dist FROM {w}lvl "
            f"ORDER BY dist DESC, id ASC LIMIT 1)"
        )
        rows.append(
            f"SELECT CAST({s} AS BIGINT) AS sweep,"
            f" CAST((SELECT id FROM {src_cte}) AS BIGINT) AS source,"
            f" CAST((SELECT dist FROM {w}far) AS BIGINT) AS ecc,"
            f" CAST((SELECT id FROM {w}far) AS BIGINT) AS farthest"
        )
        src_cte = f"{w}far"
    return "WITH " + ",\n    ".join(parts) + "\n    " + " UNION ALL ".join(rows)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Iterative k-core peel (kernels/kcore.py) unrolled; over-unrolling
    past the fixpoint is exact (peeling is idempotent there)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    keep{r} AS MATERIALIZED (
        SELECT id FROM (
            SELECT id, count(*) AS c FROM (
                SELECT src AS id FROM e{r - 1}
                UNION ALL SELECT dst FROM e{r - 1}
            ) GROUP BY id
        ) WHERE c >= {k}
    ),
    e{r} AS MATERIALIZED (
        SELECT src, dst FROM e{r - 1}
        WHERE src IN (SELECT id FROM keep{r})
          AND dst IN (SELECT id FROM keep{r})
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id FROM (
        SELECT src AS id FROM e{rounds} UNION SELECT dst FROM e{rounds}
    )""")
    return "".join(parts)


def _pagerank_oracle_sql(
    iters: int,
    damping: float = 0.85,
    seeds_limit: int | None = None,
    weighted: bool = False,
    edges_sql: str | None = None,
    converged_tol: float | None = None,
    verts_sql: str | None = None,
    seeds_sql: str | None = None,
    init_rank_sql: str | None = None,
    round_output: bool = True,
) -> str:
    """Damped PageRank with dangling redistribution (kernels/pagerank.py)
    unrolled. Arithmetic mirrors the Spark expressions operation-for-
    operation (e.g. ``(1.0 - d) + d*dm`` then ``restart*p + d*mass``) so
    IEEE-754 evaluation matches; the only divergence is float summation
    order, ~1e-16 relative, absorbed by ROUND(rank, 6) on both sides.

    ``seeds_limit=k``: personalized over the k smallest vertex ids.
    ``seeds_sql``: explicit seed-set SELECT (overrides seeds_limit's
    default ORDER BY id LIMIT k rule; must yield a column ``id``).
    ``weighted``: coef = weight / Σ_out weights instead of 1/outdeg
    (integer-valued weights sum exactly in float64 — deterministic).
    ``verts_sql``: explicit vertex-set SELECT (default: edge endpoints) —
    the kernel's ``vertices=`` argument, e.g. every corpus file including
    isolated ones.
    ``converged_tol``: mirror the kernel's CONVERGED mode — a per-round
    L-inf delta CTE rides each unrolled superstep and the final select
    picks the FIRST round with delta < tol (falling back to round
    ``iters``, the kernel's max_iter cap). Past the true stop round the
    extra unrolled rounds are dead CTEs — over-unrolling is safe, so
    ``iters`` only needs to be >= the data's actual iteration count
    (probed 21-28 at sf0.001/sf0.01; 40 leaves margin).
    ``init_rank_sql``: a SELECT yielding (id, rank) used as pr0 instead
    of the teleport distribution — the kernel's ``init_ranks`` warm-start
    twin; ids it misses coalesce to the per-vertex teleport share
    (uniform 1/n, or the personalized p), exactly the kernel's rule
    (kernels/pagerank.py warm-start branch — the r3 ADVICE asymmetry is
    resolved on both sides). ``round_output=False`` emits the raw double
    (needed
    when the query nests as another run's init vector — the kernel hands
    phase 2 its UNROUNDED phase-1 vector, so the oracle must too)."""
    d = damping
    if edges_sql is None:
        edges_sql = (
            COPURCHASE_WEIGHTED_EDGES_SQL if weighted else COPURCHASE_EDGES_SQL
        )
    if weighted:
        coef_sql = """
    wsum AS MATERIALIZED (
        SELECT src, SUM(CAST(weight AS DOUBLE)) AS ws FROM edges
        GROUP BY src HAVING SUM(CAST(weight AS DOUBLE)) <> 0
    ),
    ecoef AS MATERIALIZED (
        SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / w.ws AS coef
        FROM edges e JOIN wsum w ON w.src = e.src
    ),
    linked AS MATERIALIZED (SELECT src AS id FROM wsum)"""
    else:
        coef_sql = """
    odeg AS MATERIALIZED (SELECT src, count(*) AS c FROM edges GROUP BY src),
    ecoef AS MATERIALIZED (
        SELECT e.src, e.dst, 1.0 / o.c AS coef
        FROM edges e JOIN odeg o ON o.src = e.src
    ),
    linked AS MATERIALIZED (SELECT src AS id FROM odeg)"""
    personalized = seeds_limit is not None or seeds_sql is not None
    if not personalized:
        p_sql = "SELECT id, 1.0 / (SELECT n FROM nn) AS p FROM verts"
    else:
        p_sql = f"""
        SELECT v.id, CASE WHEN s.id IS NOT NULL
                          THEN 1.0 / (SELECT ns FROM nseeds)
                          ELSE 0.0 END AS p
        FROM verts v LEFT JOIN seeds s ON s.id = v.id"""
    if verts_sql is None:
        verts_sql = "SELECT src AS id FROM edges UNION SELECT dst FROM edges"
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql}),",
        f"""
    verts AS MATERIALIZED ({verts_sql}),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),""",
        coef_sql + ",",
    ]
    if personalized:
        if seeds_sql is None:
            seeds_sql = f"SELECT id FROM verts ORDER BY id LIMIT {seeds_limit}"
        parts.append(f"""
    seeds AS MATERIALIZED ({seeds_sql}),
    nseeds AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),""")
    parts.append(f"""
    pv AS MATERIALIZED ({p_sql}),
    pr0 AS MATERIALIZED ({
        f'''SELECT v.id, COALESCE(i.rank, v.p) AS rank
        FROM pv v LEFT JOIN ({init_rank_sql}) i ON i.id = v.id'''
        if init_rank_sql is not None
        else "SELECT id, p AS rank FROM pv"
    })""")
    for r in range(1, iters + 1):
        parts.append(f""",
    dm{r} AS MATERIALIZED (
        SELECT COALESCE(SUM(p.rank), 0.0) AS dm
        FROM pr{r - 1} p LEFT JOIN linked l ON l.id = p.id
        WHERE l.id IS NULL
    ),
    pr{r} AS MATERIALIZED (
        SELECT v.id,
               ((1.0 - {d}) + {d} * (SELECT dm FROM dm{r})) * v.p
                   + {d} * COALESCE(m.mass, 0.0) AS rank
        FROM pv v LEFT JOIN (
            SELECT e.dst AS id, SUM(p.rank * e.coef) AS mass
            FROM ecoef e JOIN pr{r - 1} p ON p.id = e.src
            GROUP BY e.dst
        ) m ON m.id = v.id
    )""")
        if converged_tol is not None:
            parts.append(f""",
    dl{r} AS MATERIALIZED (
        SELECT MAX(ABS(p.rank - q.rank)) AS delta
        FROM pr{r} p JOIN pr{r - 1} q ON q.id = p.id
    )""")
    rank_out = "ROUND(rank, 6)" if round_output else "rank"
    # (see _prefix_pagerank_ctes below for nesting one run inside another)
    if converged_tol is None:
        parts.append(
            f"\n    SELECT CAST(id AS BIGINT) AS id, {rank_out} AS rank"
            f" FROM pr{iters}"
        )
    else:
        deltas = "\n        UNION ALL ".join(
            f"SELECT {r} AS r, (SELECT delta FROM dl{r}) AS delta"
            for r in range(1, iters + 1)
        )
        rounds = "\n        UNION ALL ".join(
            f"SELECT {r} AS r, id, rank FROM pr{r}" for r in range(1, iters + 1)
        )
        parts.append(f""",
    alld AS MATERIALIZED (
        {deltas}
    ),
    stopr AS MATERIALIZED (
        SELECT COALESCE(MIN(r), {iters}) AS r FROM alld
        WHERE delta < {converged_tol}
    ),
    allr AS MATERIALIZED (
        {rounds}
    )
    SELECT CAST(id AS BIGINT) AS id, {rank_out} AS rank
    FROM allr WHERE r = (SELECT r FROM stopr)""")
    return "".join(parts)


_PREFIXED_CTE_TOKENS = (
    "edges", "verts", "nseeds", "seeds", "nn", "odeg", "wsum",
    "ecoef", "linked", "pv", "alld", "stopr", "allr",
)


def _prefix_pagerank_ctes(sql: str, pfx: str) -> str:
    """Rename every CTE a _pagerank_oracle_sql query defines with a
    prefix, so the query can nest as a subquery of ANOTHER such query
    (DuckDB raises 'Duplicate alias' on shadowed CTE names in a nested
    WITH).

    Why a global word-boundary rename is sound (ADVICE r3 hardening):
    renaming ALL occurrences of an identifier consistently preserves
    semantics — a fragment's own alias named e.g. ``edges`` and every
    reference to it rename together, and shadowing relationships are
    unchanged. The two ways it CAN silently corrupt are (1) a token
    inside a string LITERAL (the data value would change) — asserted
    loudly below — and (2) a token that is a physical base-table column
    name (the rename would break the binding against the parquet
    schema); the pre-registered views' columns (l_*, o_*, ps_*, s_*,
    c_*, n_*, r_*, doc_id, text, event_type, ...) share no word with
    the token list, and any future collision fails loudly as an unbound
    column, not a wrong answer."""
    for m in re.finditer(r"'(?:[^']|'')*'", sql):
        lit = m.group()
        for name in _PREFIXED_CTE_TOKENS:
            if re.search(rf"\b{name}\b", lit):
                raise ValueError(
                    f"_prefix_pagerank_ctes: string literal {lit!r} contains "
                    f"reserved CTE token {name!r}; renaming would corrupt the "
                    "literal — restructure the fragment"
                )
    for name in _PREFIXED_CTE_TOKENS:
        sql = re.sub(rf"\b{name}\b", f"{pfx}{name}", sql)
    return re.sub(r"\b(pr|dm|dl)(\d+)\b", rf"{pfx}\1\2", sql)


def _import_edges_sql(n_files: int, n_repos: int, max_out: int) -> str:
    """Dense-id weighted import-edge table of sources/corpus.py's
    ``synth_corpus_sql`` regenerated from its arithmetic formulas: files
    and paths from modular arithmetic, dense ids by (repo, path) rank
    (operators/indexing.dense_ids' global key order), weight = number of
    import sites. A nested WITH so it can sit inside the pagerank
    generator's ``edges`` CTE."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    return f"""
    WITH files AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.h' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    ivertsq AS MATERIALIZED (
        SELECT i, row_number() OVER (ORDER BY repo, path) - 1 AS vid
        FROM files
    ),
    isites AS MATERIALIZED (
        SELECT i AS src_i,
               unnest(range(1, ((i * 7919 + 13) % {max_out}) + 1)) AS j
        FROM files
    ),
    itarg AS MATERIALIZED (
        SELECT src_i,
               CASE WHEN t2 = src_i THEN (t2 + 2) % {n_files} ELSE t2 END AS dst_i
        FROM (
            SELECT src_i,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT src_i, t0 - (t0 % 2) + (src_i % 2) AS t1
                FROM (
                    SELECT src_i,
                           (src_i * 104729 + j * 7907 + 17) % {n_files} AS t0
                    FROM isites
                )
            )
        )
    )
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM itarg s
    JOIN ivertsq sv ON sv.i = s.src_i
    JOIN ivertsq dv ON dv.i = s.dst_i
    GROUP BY 1, 2
    """


def _md5h(tag: str, cols: str) -> str:
    """DuckDB twin of sources/corpus.py's engine-portable hash ``h``:
    first 15 md5 hex chars of 'tag:seed:col:col' parsed base-16."""
    return (
        f"('0x' || substr(md5(concat_ws(':', '{tag}', '42', {cols})), 1, 15))"
        "::BIGINT"
    )


def _import_sites_md5_cte(
    n_files: int, n_repos: int, max_out: int, hub_count: int
) -> str:
    """Shared CTE block regenerating sources/corpus.py ``synth_corpus``'s
    import sites from its md5 hash formulas — deg, Zipf-ish target draw,
    hub boost, parity alignment, self-loop avoidance mirrored term-for-term
    (corpus.py:86-97). Yields CTEs ``files(i, repo, path)``,
    ``ivertsq(i, vid)`` (dense ids by (repo, path) rank) and
    ``itarg(src_i, dst_i)`` (one row per import site). Factored so every
    oracle over this corpus (edge table, package quotient) derives from ONE
    copy of the formulas — a duplicated copy could silently desynchronize."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    i1 = "CAST(i AS VARCHAR)"
    ij = "CAST(src_i AS VARCHAR), CAST(j AS VARCHAR)"
    return f"""
    WITH files AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.h' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    ivertsq AS MATERIALIZED (
        SELECT i, row_number() OVER (ORDER BY repo, path) - 1 AS vid
        FROM files
    ),
    isites AS MATERIALIZED (
        SELECT i AS src_i,
               unnest(range(1, ({_md5h('deg', i1)} % {max_out}) + 1)) AS j
        FROM files
    ),
    itarg AS MATERIALIZED (
        SELECT src_i,
               CASE WHEN t2 = src_i THEN (t2 + 2) % {n_files} ELSE t2 END AS dst_i
        FROM (
            SELECT src_i,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT src_i, t0 - (t0 % 2) + (src_i % 2) AS t1
                FROM (
                    SELECT src_i,
                           CASE WHEN {_md5h('hub', ij)} % 4 = 0
                                THEN {_md5h('hb', ij)} % {hub_count * 2}
                                ELSE {_md5h('t', ij)}
                                     % (({_md5h('m', ij)} % {n_files}) + 1)
                           END AS t0
                    FROM isites
                )
            )
        )
    )
    """


def _call_sites_cte(
    n_files: int, n_repos: int, max_funcs: int, max_calls: int,
    recursive: bool = False,
) -> str:
    """Shared CTE block regenerating sources/corpus.py
    ``synth_callgraph_corpus_sql``'s call structure from its arithmetic —
    nf, nc, target file (parity-aligned) and target function index
    mirrored term-for-term. Yields CTEs ``cfuncs(i, q)`` (every defined
    function), ``cfiles(i, repo, path)`` and ``ctarg(i, q, ti, tq)`` (one
    row per call site: function (i,q) calls function (ti,tq)). One copy of
    the formulas shared by all callgraph oracles, same anti-desync rule as
    ``_import_sites_md5_cte``."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} cfuncs AS MATERIALIZED (
        SELECT i, unnest(range(1, ((i * 31 + 5) % {max_funcs}) + 2)) AS q
        FROM range(0, {n_files}) t(i)
    ),
    cfiles AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.c' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    csites AS MATERIALIZED (
        SELECT i, q,
               unnest(range(1, ((i * 17 + q * 29 + 3) % {max_calls}) + 1)) AS j
        FROM cfuncs
    ),
    ctarg AS MATERIALIZED (
        SELECT i, q,
               CASE WHEN (i + q * 5 + j * 11) % 23 = 0 THEN i ELSE t2 END AS ti,
               CASE WHEN (i + q * 5 + j * 11) % 23 = 0 THEN q
                    ELSE ((i + q * 3 + j * 7)
                          % (((t2 * 31 + 5) % {max_funcs}) + 1)) + 1
               END AS tq
        FROM (
            SELECT i, q, j,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT i, q, j, t0 - (t0 % 2) + (i % 2) AS t1
                FROM (
                    SELECT i, q, j,
                           (i * 48611 + q * 2741 + j * 7451 + 23) % {n_files} AS t0
                    FROM csites
                )
            )
        )
    )
    """


def _call_edges_vid_sql(
    n_files: int, n_repos: int, max_funcs: int, max_calls: int
) -> str:
    """Dense-id weighted call-edge table over ``_call_sites_cte`` — dense
    ids by global fname rank, matching graph.call_graph_from_corpus's
    dense_ids ordering (both sides binary-sort ASCII strings). Nested WITH
    so it can sit inside the pagerank generator's ``edges`` CTE."""
    return f"""
    {_call_sites_cte(n_files, n_repos, max_funcs, max_calls)},
    cvid AS MATERIALIZED (
        SELECT fname, row_number() OVER (ORDER BY fname) - 1 AS vid
        FROM (
            SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR)
                       AS fname
            FROM cfuncs
        )
    )
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM ctarg s
    JOIN cvid sv
      ON sv.fname = 'fn_' || CAST(s.i AS VARCHAR) || '_' || CAST(s.q AS VARCHAR)
    JOIN cvid dv
      ON dv.fname = 'fn_' || CAST(s.ti AS VARCHAR) || '_' || CAST(s.tq AS VARCHAR)
    GROUP BY 1, 2
    """


def _import_edges_md5_sql(
    n_files: int, n_repos: int, max_out: int, hub_count: int
) -> str:
    """Dense-id weighted import-edge table over ``_import_sites_md5_cte``
    — dense ids by (repo, path) rank as in ``_import_edges_sql``."""
    return f"""
    {_import_sites_md5_cte(n_files, n_repos, max_out, hub_count)}
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM itarg s
    JOIN ivertsq sv ON sv.i = s.src_i
    JOIN ivertsq dv ON dv.i = s.dst_i
    GROUP BY 1, 2
    """


def _minhash_oracle_sql(
    num_hashes: int = 64,
    shingle_k: int = 5,
    bands: int = 16,
    threshold: float = 0.35,
    seed: int = 42,
    max_bucket_size: int = 1000,
    source: str = "documents",
) -> str:
    """operators/dedup.py minhash_candidates mirrored exactly: md5-derived
    shingle hashes into [0, 2^31), the same splitmix-derived universal-hash
    (a, b) literals (imported from _hash_coeffs — single source of truth),
    banded signature-slice equi-join with the bucket-size guard, estimator
    = equal-components / num_hashes (exact double: n/64)."""
    from paragrapher_spark.operators.dedup import _C31, _P31, _hash_coeffs

    rows = num_hashes // bands
    coeffs = _hash_coeffs(num_hashes, seed)
    mins = ",\n               ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {_P31}))"
        for a, b in coeffs
    )
    est = f"CAST(len(list_filter(range(1, {num_hashes} + 1), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {float(num_hashes)}"
    return f"""
    WITH sht AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(length(text) - {shingle_k - 1}, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, CAST(i AS INT), {shingle_k})), 1, 15))::BIGINT % {_C31}
               )) AS sh
        FROM {source}
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               [{mins}] AS sig
        FROM sht
    ),
    bandt AS MATERIALIZED (
        SELECT doc_id, b,
               list_slice(sig, b * {rows} + 1, b * {rows} + {rows}) AS bh
        FROM sigs, range(0, {bands}) r(b)
    ),
    okb AS MATERIALIZED (
        SELECT b, bh FROM bandt GROUP BY b, bh
        HAVING count(*) > 1 AND count(*) <= {max_bucket_size}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM bandt a
        JOIN okb o ON o.b = a.b AND o.bh = a.bh
        JOIN bandt c ON c.b = a.b AND c.bh = a.bh AND c.doc_id > a.doc_id
    )
    SELECT CAST(cand.id_a AS BIGINT) AS id_a,
           CAST(cand.id_b AS BIGINT) AS id_b,
           {est} AS est_jaccard
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.id_a
    JOIN sigs sb ON sb.doc_id = cand.id_b
    WHERE {est} >= {threshold}
    """


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    """operators/dedup.py simhash_candidates mirrored: 60-bit SimHash
    (md5_60 per token, majority bit-vote 2*ones > n), 4x15-bit
    pigeonhole bands, popcount(xor) Hamming filter. Docs with zero tokens
    hash to 0 and participate in banding, exactly like the kernel."""
    from paragrapher_spark.operators.dedup import SIMHASH_BITS

    svotes = ",\n               ".join(
        f"sum((h >> {j}) & 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    sbits = "\n                 + ".join(
        f"(CASE WHEN 2 * s{j} > n THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tokst AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS tk FROM documents
    ),
    tht AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(tk,
                   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS h
        FROM tokst
    ),
    votes AS MATERIALIZED (
        SELECT doc_id, count(*) AS n,
               {svotes}
        FROM tht GROUP BY doc_id
    ),
    sigs AS MATERIALIZED (
        SELECT t.doc_id,
               COALESCE(CAST({sbits} AS BIGINT), 0) AS sh
        FROM tokst t LEFT JOIN votes v ON v.doc_id = t.doc_id
    ),
    blocks AS MATERIALIZED (
        SELECT doc_id, sh, b, (sh >> (b * 15)) & 32767 AS bv
        FROM sigs, range(0, 4) r(b)
    )
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a,
           CAST(c.doc_id AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.sh, c.sh)) AS BIGINT) AS hamming
    FROM blocks a
    JOIN blocks c ON c.b = a.b AND c.bv = a.bv AND c.doc_id > a.doc_id
    WHERE bit_count(xor(a.sh, c.sh)) <= {max_hamming}
    """


def _knn_lsh_oracle_sql(
    k: int = 5,
    n_bits: int = 16,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: int = 10000,
) -> str:
    """operators/similarity.py knn_lsh mirrored: the SAME splitmix64
    ±1 hyperplane literals (plane_signs — single source of truth), sign
    bits from a left-fold dot product (list_reduce == Spark's
    aggregate-from-0.0 fold bit-for-bit, since 0.0 + x == x), banded
    bucket join with the size guard, exact-cosine re-rank, row_number
    top-k with (score DESC, neighbor_id) tie-break."""
    from paragrapher_spark.operators.similarity import plane_signs

    rows = n_bits // bands
    mask = (1 << rows) - 1
    planes = plane_signs(n_bits, dim, seed)
    bit_terms = "\n                 + ".join(
        "(CASE WHEN list_reduce(list_transform(range(1, %d), d -> e[d] * ([%s])[d]), (a, b) -> a + b) >= 0 THEN %d ELSE 0 END)"
        % (dim + 1, ", ".join(str(x) for x in p), 1 << i)
        for i, p in enumerate(planes)
    )
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    sig AS MATERIALIZED (
        SELECT vec_id, e, norm,
               CAST({bit_terms} AS BIGINT) AS bits
        FROM base
    ),
    banded AS MATERIALIZED (
        SELECT vec_id, e, norm, b, (bits >> (b * {rows})) & {mask} AS bv
        FROM sig, range(0, {bands}) r(b)
    ),
    okb AS MATERIALIZED (
        SELECT b, bv FROM banded GROUP BY b, bv
        HAVING count(*) > 1 AND count(*) <= {max_bucket_size}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(a.e, c.e) AS sc
        FROM banded a
        JOIN okb o ON o.b = a.b AND o.bv = a.bv
        JOIN banded c ON c.b = a.b AND c.bv = a.bv
             AND c.vec_id <> a.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


def _knn_ivf_fixed_oracle_sql(
    k: int = 5, n_centroids: int = 16, n_probe: int = 4, dim: int = 64
) -> str:
    """operators/similarity.py knn_ivf with the fixed quantizer mirrored
    exactly: centroids = vectors of the n_centroids smallest vec_ids
    (norm > 0), assignment by ascending (-dot(v,c)/|c|, cid) — DuckDB's
    left-fold list_reduce reproduces Spark's aggregate-from-0.0 dot
    bit-for-bit, and both engines use correctly-rounded sqrt for |c| —
    home bucket = nearest, candidates = probed-bucket equi-join, exact
    cosine re-rank, (score DESC, neighbor_id) top-k."""
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_vc = fold.format(a="b.e", b="c.c")
    dot_qd = fold.format(a="q.e", b="d.e")
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c,
               norm AS cn
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_centroids})
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_vc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    probes AS MATERIALIZED (
        SELECT vec_id, e, norm, cid, rn FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn <= {n_probe}
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM probes WHERE rn = 1
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               ({dot_qd}) / (q.norm * d.norm) AS sc
        FROM probes q
        JOIN home d ON d.cid = q.cid AND d.vec_id <> q.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


def _semantic_dedup_oracle_sql(
    tau: float, n_centroids: int = 16, dim: int = 64
) -> str:
    """operators/dedup.py semantic_dedup mirrored: the knn_ivf_fixed
    quantizer CTEs (same fixed centroids, same ascending (-dot/|c|, cid)
    home assignment, same left-fold dot), then the within-bucket
    keep-first cosine prune."""
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_vc = fold.format(a="b.e", b="c.c")
    dot_ab = fold.format(a="a.e", b="b.e")
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c,
               norm AS cn
        FROM (SELECT * FROM base ORDER BY vec_id LIMIT {n_centroids})
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_vc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    dropped AS MATERIALIZED (
        SELECT DISTINCT a.vec_id AS ida
        FROM home a JOIN home b ON b.cid = a.cid AND b.vec_id < a.vec_id
        WHERE ({dot_ab}) / (a.norm * b.norm) >= {tau}
    )
    SELECT CAST(h.vec_id AS BIGINT) AS vec_id,
           CAST(h.cid AS BIGINT) AS cluster,
           d.ida IS NULL AS keep
    FROM home h LEFT JOIN dropped d ON d.ida = h.vec_id
    """


def _knn_ivf_oracle_sql(
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 3,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """operators/similarity.py knn_ivf with TRAINED centroids mirrored
    exactly — Lloyd unrolled to the same fixed iteration count:

    - seeds: the n_centroids (md5-hash, id)-smallest vectors, the same
      portable 60-bit hash family as dedup/corpus;
    - each round: assignment by ascending (-dot(v,c)/|c|, cid) exactly as
      knn_ivf_fixed's proven fold, then FIXED-POINT re-centering —
      per-coordinate floor(x * 2^24) summed as int64 (exact and
      summation-order-free, which is the whole reason the trained path is
      oracle-expressible at all) divided back in float64;
    - |c| carries train_ivf_centroids' `or 1.0` zero-norm guard
      (coalesce/nullif) — Python _l2 mirrored;
    - tail (probing, home bucket, exact-cosine re-rank, top-k) identical
      to _knn_ivf_fixed_oracle_sql.
    """
    fold = (
        "list_reduce(list_transform(range(1, %d), i -> {a}[i] * {b}[i]),"
        " (acc, x) -> acc + x)" % (dim + 1)
    )
    dot_bc = fold.format(a="b.e", b="c.c")
    dot_qd = fold.format(a="q.e", b="d.e")
    scale = 1 << 24
    mean_list = ",\n                   ".join(
        f"CAST(SUM(CAST(floor(e[{i}] * {scale}.0) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT(*) * {scale} AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    rounds = []
    for t in range(lloyd_iters):
        rounds.append(f"""
    cn{t} AS MATERIALIZED (
        SELECT cid, c,
               coalesce(nullif(sqrt(list_reduce(
                   list_transform(c, x -> x * x), (a, b) -> a + b)), 0.0),
                   1.0) AS cn
        FROM c{t}
    ),
    a{t} AS MATERIALIZED (
        SELECT vec_id, e, cid FROM (
            SELECT b.vec_id, b.e, c.cid,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY -({dot_bc}) / c.cn, c.cid
                   ) AS rn
            FROM base b CROSS JOIN cn{t} c
        ) WHERE rn = 1
    ),
    c{t + 1} AS MATERIALIZED (
        SELECT cid, [{mean_list}] AS c
        FROM a{t} GROUP BY cid
    )""")
    tf = lloyd_iters
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nv AS MATERIALIZED (
        SELECT vec_id, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                    (a, b) -> a + b)) AS norm
        FROM v
    ),
    base AS MATERIALIZED (SELECT * FROM nv WHERE norm > 0),
    c0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, e AS c
        FROM (
            SELECT vec_id, e,
                   ('0x' || substr(md5('ivf:{seed}:' ||
                       CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM base ORDER BY h, vec_id LIMIT {n_centroids}
        )
    ),{",".join(rounds)},
    cents AS MATERIALIZED (
        SELECT cid, c,
               coalesce(nullif(sqrt(list_reduce(
                   list_transform(c, x -> x * x), (a, b) -> a + b)), 0.0),
                   1.0) AS cn
        FROM c{tf}
    ),
    scored AS MATERIALIZED (
        SELECT b.vec_id, b.e, b.norm, c.cid,
               -({dot_bc}) / c.cn AS neg
        FROM base b CROSS JOIN cents c
    ),
    probes AS MATERIALIZED (
        SELECT vec_id, e, norm, cid, rn FROM (
            SELECT vec_id, e, norm, cid,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY neg, cid
                   ) AS rn
            FROM scored
        ) WHERE rn <= {n_probe}
    ),
    home AS MATERIALIZED (
        SELECT vec_id, e, norm, cid FROM probes WHERE rn = 1
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               ({dot_qd}) / (q.norm * d.norm) AS sc
        FROM probes q
        JOIN home d ON d.cid = q.cid AND d.vec_id <> q.vec_id
    ),
    ranked AS MATERIALIZED (
        SELECT query_id, neighbor_id, sc,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY sc DESC, neighbor_id
               ) AS rn
        FROM cand
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           ROUND(sc, 6) AS score
    FROM ranked WHERE rn <= {k}
    """


def _lang_pred_ctes(src: str) -> str:
    """CTE chain computing per-doc ``lang_pred`` over ``src(doc_id, text)``
    — functions/text.py detect_language re-expressed in SQL: same lexicons,
    same han-density rule, same max-hits / min-code tie-break. Final CTE is
    ``lang_w(doc_id, lang_pred)``."""
    from paragrapher_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)  # de, en, es, fr

    def lex(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    hits = ",\n               ".join(
        f"len(list_filter(toks, x -> list_contains({lex(lang)}, x))) AS s_{lang}"
        for lang in langs
    )
    # first lang (lexicographic order) attaining the max wins — identical
    # to the reversed >=-fold in detect_language
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"s_{o}" for o in langs[i + 1:]]
        if rest:
            ge = f"s_{lang} >= greatest({', '.join(rest)})" if len(rest) > 1 else f"s_{lang} >= {rest[0]}"
            cases.append(f"WHEN {ge} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    all_s = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
        lang_t AS (
            SELECT doc_id, text,
                   length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS han,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
            FROM {src}
        ),
        lang_s AS (
            SELECT doc_id, text, han,
               {hits}
            FROM lang_t
        ),
        lang_w AS (
            SELECT doc_id,
                   CASE WHEN han * 2 >= length(text) THEN 'zh'
                        WHEN greatest({all_s}) < 1 THEN 'und'
                        {' '.join(cases[:-1])}
                        {cases[-1]} END AS lang_pred
            FROM lang_s
        )"""


def _language_id_oracle_sql() -> str:
    return f"""
        WITH {_lang_pred_ctes('documents')}
        SELECT lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM lang_w GROUP BY lang_pred
    """


def _text_stats_ctes(src: str) -> str:
    """CTE chain computing functions/text.py text_stats over
    ``src(doc_id, text)``; final CTE is ``stats_out`` with the full
    column set of the ``text_stats`` query."""
    return f"""
        stats_t AS (
            SELECT doc_id, text, {_TOKENS} AS toks FROM {src}
        ),
        stats_s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CASE WHEN len(toks) > 0 THEN
                       CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END AS atl,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(text) - length(translate(text, '.,;:!?', '')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE)
                   ELSE 0.0 END AS pr,
                   CASE WHEN len(toks) > 0 THEN
                       1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END AS rr
            FROM stats_t
        ),
        stats_out AS (
            SELECT doc_id, n_tokens, n_chars,
                   ROUND(atl, 6) AS avg_token_len,
                   ROUND(pr, 6) AS punct_ratio,
                   ROUND(rr, 6) AS repetition_ratio,
                   ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * (1.0 - pr) * (1.0 - rr), 6)
                       AS quality_score
            FROM stats_s
        )"""


_FINGERPRINT_SQL = r"""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CASE WHEN length(hx) = 0 THEN 0 ELSE CAST(list_reduce(
               list_transform(range(0, length(hx) // 2),
                   i -> CAST(strpos('0123456789ABCDEF',
                                    substr(hx, CAST(i * 2 + 1 AS INT), 1)) - 1
                             AS HUGEINT) * 16
                        + (strpos('0123456789ABCDEF',
                                  substr(hx, CAST(i * 2 + 2 AS INT), 1)) - 1)),
               (acc, byte) -> (acc * 257 + byte) % 2305843009213693951
           ) AS BIGINT) END AS fingerprint
    FROM b
"""

_MEDIA_STATS_SQL = """
    WITH m AS (
        SELECT i AS media_id,
               CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                                       WHEN 1 THEN 'audio'
                                       ELSE 'video' END AS kind,
               ((i * 37 + 11) % 1024) + 16 AS width,
               ((i * 97 + 13) % 60000) + 100 AS duration_ms
        FROM range(0, 200) t(i)
    )
    SELECT kind, CAST(count(*) AS BIGINT) AS n,
           AVG(width) AS avg_width,
           AVG(duration_ms) AS avg_duration_ms
    FROM m GROUP BY kind
"""


def _walks_oracle_sql(length: int, start_mod: int, weighted: bool = False) -> str:
    """Unrolled replay of kernels/walks.py: step t's pick is
    md5('walk:42:walk_id:t') mod degree (unweighted: index pick) or mod
    total weight (weighted: pick lands in the neighbor's cumulative-
    weight interval) over the dst-sorted neighbor list — identical hash
    family both sides, so the walks match row for row."""
    hv = "('0x' || substr(md5('walk:42:' || s.walk_id::VARCHAR || ':{t}'), 1, 15))::BIGINT"
    ctes = []
    selects = ["SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS id FROM s0"]
    prev = "s0"
    for t in range(1, length + 1):
        h = hv.format(t=t)
        if weighted:
            ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT s.walk_id, a.dst AS cur
            FROM {prev} s
            JOIN tot tt ON tt.src = s.cur
            JOIN adj a ON a.src = s.cur
             AND ({h} % tt.totw) >= a.cumw - a.w
             AND ({h} % tt.totw) < a.cumw
        )""")
        else:
            ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT s.walk_id, a.dst AS cur
            FROM {prev} s JOIN adj a ON a.src = s.cur
             AND a.idx = {h} % a.deg
        )""")
        selects.append(
            f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS id FROM s{t}"
        )
        prev = f"s{t}"
    joined_ctes = ",\n        ".join(ctes)
    if weighted:
        return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_WEIGHTED_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst, weight FROM base
            UNION ALL SELECT dst AS src, src AS dst, weight FROM base),
        best AS MATERIALIZED (
            SELECT src, dst, CAST(MAX(weight) AS BIGINT) AS w
            FROM sym GROUP BY 1, 2),
        adj AS MATERIALIZED (
            SELECT src, dst, w,
                   CAST(SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw
            FROM best),
        tot AS MATERIALIZED (
            SELECT src, CAST(SUM(w) AS BIGINT) AS totw FROM best GROUP BY src),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM best
            WHERE src % {start_mod} = 0),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst,
                   CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
                   CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
            FROM sym),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM sym
            WHERE src % {start_mod} = 0),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """


def _n2v_oracle_sql(
    length: int, start_mod: int, a_ret: int, a_in: int, a_out: int
) -> str:
    """Unrolled replay of kernels/walks.py node2vec_walks: step 1 is the
    first-order index pick; each later step classifies cur's neighbors
    by distance from prev via one LEFT join against the undirected edge
    set, builds cumulative integer alpha-weight intervals per walk, and
    lands the md5 pick value in one interval — identical hash family
    and arithmetic both sides, so the second-order walks match row for
    row."""
    hv = "('0x' || substr(md5('n2v:42:' || walk_id::VARCHAR || ':{t}'), 1, 15))::BIGINT"
    ctes = []
    selects = [
        "SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS id FROM s0",
        "SELECT walk_id, CAST(1 AS BIGINT) AS step, cur AS id FROM s1",
    ]
    prev = "s1"
    for t in range(2, length + 1):
        h = hv.format(t=t)
        ctes.append(f"""c{t} AS MATERIALIZED (
            SELECT s.walk_id, s.prev, s.cur, a.dst, a.idx,
                   (CASE WHEN a.dst = s.prev THEN {a_ret}
                         WHEN e.src IS NOT NULL THEN {a_in}
                         ELSE {a_out} END) AS aw
            FROM {prev} s
            JOIN adj a ON a.src = s.cur
            LEFT JOIN sym e ON e.src = s.prev AND e.dst = a.dst
        )""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT walk_id, cur AS prev, dst AS cur FROM (
                SELECT c.*,
                       SUM(aw) OVER (PARTITION BY walk_id ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(aw) OVER (PARTITION BY walk_id) AS tot
                FROM c{t} c)
            WHERE ({h} % tot) >= cum - aw AND ({h} % tot) < cum
        )""")
        selects.append(
            f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS id FROM s{t}"
        )
        prev = f"s{t}"
    joined_ctes = ",\n        ".join(ctes)
    h1 = hv.format(t=1)
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst,
                   CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
                   CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
            FROM sym),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM sym
            WHERE src % {start_mod} = 0),
        s1 AS MATERIALIZED (
            SELECT s.walk_id, s.cur AS prev, a.dst AS cur
            FROM s0 s JOIN adj a ON a.src = s.cur
             AND a.idx = ({h1} % a.deg)
        ),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """


def _scc_oracle_sql(edges_sql: str) -> str:
    """Mutual reachability by transitive closure: scc(v) = min over
    {{v}} ∪ {{u : v →* u AND u →* v}} — the definitional oracle the
    iterative coloring kernel must reproduce."""
    return f"""
        WITH RECURSIVE edges AS ({edges_sql}),
        r(a, b) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b
        ),
        verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        mutual AS (
            SELECT r1.a AS v, r1.b AS u
            FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
        )
        SELECT v.id, CAST(least(v.id, coalesce(min(m.u), v.id)) AS BIGINT) AS scc
        FROM verts v LEFT JOIN mutual m ON m.v = v.id
        GROUP BY v.id
    """


def _neighbor_features_oracle_sql(out_deg: int, scale: int = 10**6) -> str:
    """Exact-integer SpMM twin of kernels/neighborhood.py at hops=2 over
    the md5 vertex graph (sources/edges.py:md5_vertex_graph_sql inlined
    with n = count(embeddings) as a scalar subquery)."""
    return f"""
        WITH g AS (
            SELECT DISTINCT src, dst FROM (
                SELECT e.vec_id AS src,
                       ('0x' || substr(md5('gf:42:' || e.vec_id::VARCHAR || ':' || u.j::VARCHAR), 1, 15))::BIGINT
                           % (SELECT count(*) FROM embeddings) AS dst
                FROM embeddings e
                CROSS JOIN (SELECT unnest(range(1, {out_deg} + 1)) AS j) u
            ) WHERE src != dst
        ),
        q AS (
            SELECT vec_id AS id,
                   CAST(unnest(range(array_length(embedding))) AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale}) AS BIGINT) AS s
            FROM embeddings
        ),
        s1 AS (SELECT g.src AS id, q.pos, SUM(q.s) AS s
               FROM g JOIN q ON q.id = g.dst GROUP BY 1, 2),
        c1 AS (SELECT g.src AS id, CAST(count(*) AS BIGINT) AS c
               FROM g JOIN (SELECT DISTINCT vec_id FROM embeddings) f
                 ON f.vec_id = g.dst GROUP BY 1),
        s2 AS (SELECT g.src AS id, s1.pos, SUM(s1.s) AS s
               FROM g JOIN s1 ON s1.id = g.dst GROUP BY 1, 2),
        c2 AS (SELECT g.src AS id, SUM(c1.c) AS c
               FROM g JOIN c1 ON c1.id = g.dst GROUP BY 1)
        SELECT s2.id, s2.pos, CAST(s2.s AS BIGINT) AS sum_q,
               CAST(c2.c AS BIGINT) AS cnt
        FROM s2 JOIN c2 ON c2.id = s2.id
    """


def _brandes_cte(levels: int, source_mod: int, forward_only: bool = False) -> str:
    """Shared CTE chain for the Brandes oracles: unrolled multi-source
    BFS levels (exact σ) + descending dependency accumulation, mirroring
    kernels/betweenness.py level for level."""
    parts = [
        f"base AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base)",
        f"""l0 AS MATERIALIZED (SELECT DISTINCT src AS source, src AS id,
                          CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
                   FROM sym WHERE src % {source_mod} = 0)""",
        "v0 AS MATERIALIZED (SELECT source, id FROM l0)",
    ]
    for d in range(1, levels + 1):
        parts.append(f"""l{d} AS MATERIALIZED (
            SELECT p.source, e.dst AS id, CAST({d} AS BIGINT) AS dist,
                   CAST(SUM(p.sigma) AS BIGINT) AS sigma
            FROM l{d - 1} p JOIN sym e ON e.src = p.id
            WHERE NOT EXISTS (SELECT 1 FROM v{d - 1} v
                              WHERE v.source = p.source AND v.id = e.dst)
            GROUP BY 1, 2
        )""")
        parts.append(
            f"v{d} AS MATERIALIZED (SELECT source, id FROM v{d - 1} "
            f"UNION ALL SELECT source, id FROM l{d})"
        )
    lvl_union = " UNION ALL ".join(f"SELECT * FROM l{d}" for d in range(levels + 1))
    parts.append(f"lvl AS MATERIALIZED ({lvl_union})")
    if forward_only:
        return ",\n        ".join(parts)
    # backward: deepest level's δ is 0 (the unroll is asserted to exceed
    # the true depth), so b_{levels-1} has no deeper-δ join
    parts.append(f"""b{levels - 1} AS MATERIALIZED (
        SELECT lv.source, lv.id,
               SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)) AS delta
        FROM lvl lv JOIN sym e ON e.src = lv.id
        JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                   AND lw.dist = lv.dist + 1
        WHERE lv.dist = {levels - 1}
        GROUP BY 1, 2
    )""")
    for d in range(levels - 2, -1, -1):
        parts.append(f"""b{d} AS MATERIALIZED (
            SELECT lv.source, lv.id,
                   SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)
                       * (1 + COALESCE(dn.delta, 0))) AS delta
            FROM lvl lv JOIN sym e ON e.src = lv.id
            JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                       AND lw.dist = lv.dist + 1
            LEFT JOIN b{d + 1} dn ON dn.source = lv.source AND dn.id = lw.id
            WHERE lv.dist = {d}
            GROUP BY 1, 2
        )""")
    b_union = " UNION ALL ".join(
        f"SELECT * FROM b{d}" for d in range(levels)
    )
    parts.append(f"alldelta AS MATERIALIZED ({b_union})")
    return ",\n        ".join(parts)


def _sp_counts_oracle_sql(levels: int, source_mod: int) -> str:
    return f"""
        WITH {_brandes_cte(levels, source_mod)}
        SELECT source, id, dist, sigma FROM lvl
    """


def _betweenness_oracle_sql(levels: int, source_mod: int) -> str:
    return f"""
        WITH {_brandes_cte(levels, source_mod)}
        SELECT id, ROUND(SUM(delta), 4) AS bc
        FROM alldelta WHERE id != source GROUP BY id
    """


def _msf_oracle_sql(rounds: int, select: str = "forest") -> str:
    """Boruvka unrolled (kernels/msf.py): per round the crossing-edge
    labeling, the per-component min outgoing edge by (w, a, b) — unique,
    so ROW_NUMBER()=1 ≡ Spark's min-of-struct — and the hook-graph
    contraction as a recursive min-label closure (the WCC oracle rule,
    matching the kernel's connected_components labels). Over-unrolling is
    safe: once no edge crosses, hooks are empty and labels are fixed."""
    parts = [
        f"WITH RECURSIVE edges AS MATERIALIZED ({COPURCHASE_WEIGHTED_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
               MIN(weight) AS w
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    comp0 AS MATERIALIZED (
        SELECT id, id AS c
        FROM (SELECT a AS id FROM e0 UNION SELECT b FROM e0)
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    lab{r} AS MATERIALIZED (
        SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
        FROM e0 e
        JOIN comp{r - 1} x ON x.id = e.a
        JOIN comp{r - 1} y ON y.id = e.b
        WHERE x.c <> y.c
    ),
    sel{r} AS MATERIALIZED (
        SELECT w, a, b, ca, cb FROM (
            SELECT c, w, a, b, ca, cb,
                   ROW_NUMBER() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
            FROM (
                SELECT ca AS c, w, a, b, ca, cb FROM lab{r}
                UNION ALL SELECT cb AS c, w, a, b, ca, cb FROM lab{r}
            )
        ) WHERE rn = 1
    ),
    hooks{r} AS MATERIALIZED (SELECT DISTINCT w, a, b, ca, cb FROM sel{r}),
    hsym{r} AS MATERIALIZED (
        SELECT ca AS x, cb AS y FROM hooks{r}
        UNION SELECT cb AS x, ca AS y FROM hooks{r}
    ),
    hreach{r}(x, y) AS (
        SELECT DISTINCT x, x FROM hsym{r}
        UNION
        SELECT h.y, hr.y FROM hreach{r} hr JOIN hsym{r} h ON h.x = hr.x
    ),
    hlab{r} AS MATERIALIZED (
        SELECT x AS c, MIN(y) AS nc FROM hreach{r} GROUP BY x
    ),
    comp{r} AS MATERIALIZED (
        SELECT v.id, COALESCE(l.nc, v.c) AS c
        FROM comp{r - 1} v LEFT JOIN hlab{r} l ON l.c = v.c
    )""")
    if select == "clusters":
        # affinity clustering level-`rounds`: the component labels ARE
        # the clusters (Bateni et al. NeurIPS'17 — see kernels/msf.py)
        parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS cluster
    FROM comp{rounds}""")
        return "".join(parts)
    forest_union = " UNION ALL ".join(
        f"SELECT a, b, w FROM hooks{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(w AS BIGINT) AS weight
    FROM ({forest_union})""")
    return "".join(parts)


def _wl_oracle_sql(rounds: int) -> str:
    """1-WL refinement unrolled (kernels/wl.py): per round the sorted
    neighbor-color multiset as a comma-joined string (string_agg ORDER BY
    numeric color ≡ Spark sort_array) and DENSE_RANK() - 1 over the
    distinct (color, nsig) classes ordered (numeric, binary-string) — the
    same total order dense_ids ranks by. Over-unrolling past the class-
    count fixpoint relabels identically (refinement only splits classes,
    and a stable canonical coloring ranks back to itself)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und UNION ALL SELECT b AS v, a AS u FROM und
    ),
    col0 AS MATERIALIZED (
        SELECT v AS id, COUNT(*) AS color FROM sym GROUP BY v
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    sig{r} AS MATERIALIZED (
        SELECT s.v AS id,
               string_agg(CAST(c.color AS VARCHAR), ',' ORDER BY c.color) AS nsig
        FROM sym s JOIN col{r - 1} c ON c.id = s.u
        GROUP BY s.v
    ),
    cmb{r} AS MATERIALIZED (
        SELECT c.id, c.color, g.nsig
        FROM col{r - 1} c JOIN sig{r} g ON g.id = c.id
    ),
    map{r} AS MATERIALIZED (
        SELECT color, nsig,
               DENSE_RANK() OVER (ORDER BY color, nsig) - 1 AS new_color
        FROM (SELECT DISTINCT color, nsig FROM cmb{r})
    ),
    col{r} AS MATERIALIZED (
        SELECT cmb.id, m.new_color AS color
        FROM cmb{r} cmb
        JOIN map{r} m ON m.color = cmb.color AND m.nsig = cmb.nsig
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color
    FROM col{rounds}""")
    return "".join(parts)


def _densest_oracle_sql(num: int, den: int, rounds: int) -> str:
    """The Bahmani peel unrolled (kernels/densest.py): per round the
    degree table, the (n, 2m) stats, the integer cross-multiplied keep
    filter, and the induced edge set; the density argmax is the earliest
    round no other round strictly beats (m'·n > m·n'). Over-unrolling is
    safe — an empty edge set propagates and n=0 rounds are excluded."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(rounds + 1):
        parts.append(f""",
    deg{r} AS MATERIALIZED (
        SELECT id, COUNT(*) AS deg FROM (
            SELECT src AS id FROM e{r} UNION ALL SELECT dst FROM e{r}
        ) GROUP BY 1
    ),
    st{r} AS MATERIALIZED (
        SELECT COUNT(*) AS n, COALESCE(SUM(deg), 0) // 2 AS m FROM deg{r}
    )""")
        if r < rounds:
            parts.append(f""",
    keep{r} AS MATERIALIZED (
        SELECT d.id FROM deg{r} d, st{r} s
        WHERE d.deg * s.n * {den} > 2 * s.m * {den + num}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{r} e
        JOIN keep{r} a ON a.id = e.src
        JOIN keep{r} b ON b.id = e.dst
    )""")
    rounds_union = " UNION ALL ".join(
        f"SELECT {r} AS r, n, m FROM st{r}" for r in range(rounds + 1)
    )
    members_union = " UNION ALL ".join(
        f"SELECT {r} AS r, id FROM deg{r}" for r in range(rounds + 1)
    )
    parts.append(f""",
    rounds_tbl AS MATERIALIZED (
        SELECT * FROM ({rounds_union}) WHERE n > 0
    ),
    best AS MATERIALIZED (
        SELECT r, n, m FROM rounds_tbl ro
        WHERE NOT EXISTS (
            SELECT 1 FROM rounds_tbl x WHERE x.m * ro.n > ro.m * x.n
        )
        ORDER BY r LIMIT 1
    ),
    members AS ({members_union})
    SELECT CAST(mm.id AS BIGINT) AS id,
           CAST(b.m AS BIGINT) AS best_m,
           CAST(b.n AS BIGINT) AS best_n,
           CAST(b.r AS BIGINT) AS best_round
    FROM members mm JOIN best b ON mm.r = b.r""")
    return "".join(parts)


def _edge_betweenness_oracle_sql(levels: int, source_mod: int) -> str:
    """Girvan–Newman edge scores from the shared Brandes CTE chain: the
    credit σv/σw·(1+δw) per shortest-path-DAG edge (lv→lw, one level
    apart) summed over sources onto the canonical undirected edge;
    zero-credit edges restored by a left join (the Spark kernel's exact
    shape, kernels/betweenness.py:edge_betweenness)."""
    return f"""
        WITH {_brandes_cte(levels, source_mod)},
        credits AS (
            SELECT LEAST(lv.id, lw.id) AS a, GREATEST(lv.id, lw.id) AS b,
                   SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)
                       * (1 + COALESCE(dn.delta, 0))) AS s
            FROM lvl lv JOIN sym e ON e.src = lv.id
            JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                       AND lw.dist = lv.dist + 1
            LEFT JOIN alldelta dn ON dn.source = lv.source AND dn.id = lw.id
            GROUP BY 1, 2
        ),
        undc AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst)
        SELECT CAST(u.a AS BIGINT) AS a, CAST(u.b AS BIGINT) AS b,
               ROUND(COALESCE(c.s, 0), 4) AS ebc
        FROM undc u LEFT JOIN credits c ON c.a = u.a AND c.b = u.b
    """


def _katz_oracle_sql(rounds: int, base: int) -> str:
    """The kernel's all-integer recurrence y_{t+1} = base^(t+1) + sum of
    in-neighbor y_t, unrolled as materialized CTEs over the symmetrized
    co-purchase graph — every y_t is exact, so no float carve-out; the
    final ``katz`` double is one IEEE division of two exact longs."""
    ctes = []
    prev = "k0"
    for t in range(1, rounds + 1):
        cur = f"k{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT v.id,
                       CAST(CAST({base**t} AS BIGINT) + COALESCE(m.g, 0)
                            AS BIGINT) AS y
                FROM verts v LEFT JOIN (
                    SELECT und.v AS id, SUM(p.y) AS g
                    FROM und JOIN {prev} p ON p.id = und.u
                    GROUP BY und.v
                ) m ON m.id = v.id
            )"""
        )
        prev = cur
    den = base**rounds
    return f"""
        WITH edges AS ({COPURCHASE_EDGES_SQL}),
        und AS (
            SELECT src AS u, dst AS v FROM edges WHERE src <> dst
            UNION
            SELECT dst AS u, src AS v FROM edges WHERE src <> dst
        ),
        verts AS (SELECT DISTINCT u AS id FROM und),
        k0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS y FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id,
               CAST(y AS BIGINT) AS katz_num,
               CAST({den} AS BIGINT) AS katz_den,
               CAST(y AS DOUBLE) / CAST({den} AS DOUBLE) AS katz
        FROM {prev}
    """


def _matching_oracle_sql(rounds: int) -> str:
    """kernels/matching.py unrolled: per round every undecided canonical
    edge compares its (md5, a, b) key against the ROW-min over undecided
    edges at each endpoint; strict double winners join, their endpoints'
    edges leave. Empty past the fixpoint, so over-unrolling is exact."""
    h_expr = _md5h("match", "CAST(a AS VARCHAR), CAST(b AS VARCHAR)")
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        f"""
    e0 AS MATERIALIZED (
        SELECT a, b, {h_expr} AS h FROM (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM edges WHERE src <> dst GROUP BY 1, 2
        )
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    vm{r} AS MATERIALIZED (
        SELECT v, MIN(ROW(h, a, b)) AS mn FROM (
            SELECT a AS v, h, a, b FROM e{r - 1}
            UNION ALL SELECT b AS v, h, a, b FROM e{r - 1}
        ) GROUP BY v
    ),
    w{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r - 1} e
        JOIN vm{r} ma ON ma.v = e.a
        JOIN vm{r} mb ON mb.v = e.b
        WHERE ROW(e.h, e.a, e.b) = ma.mn AND ROW(e.h, e.a, e.b) = mb.mn
    ),
    mv{r} AS MATERIALIZED (
        SELECT a AS v FROM w{r} UNION SELECT b FROM w{r}
    ),
    e{r} AS MATERIALIZED (
        SELECT a, b, h FROM e{r - 1}
        WHERE a NOT IN (SELECT v FROM mv{r})
          AND b NOT IN (SELECT v FROM mv{r})
    )""")
    matched = "\n        UNION ALL ".join(
        f"SELECT a, b, {r} AS r FROM w{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(r AS INTEGER) AS round
    FROM ({matched})""")
    return "".join(parts)


def _eigen_oracle_sql(rounds: int) -> str:
    """eigencentrality's bump-less twin of _katz_oracle_sql: the walk
    counting recurrence y_{t+1} = sum of in-neighbor y_t unrolled as
    materialized CTEs over the symmetrized co-purchase graph; ``walks``
    exact, ``eig`` one IEEE division by the exact max."""
    ctes = []
    prev = "k0"
    for t in range(1, rounds + 1):
        cur = f"k{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT v.id, CAST(COALESCE(m.g, 0) AS BIGINT) AS y
                FROM verts v LEFT JOIN (
                    SELECT und.v AS id, SUM(p.y) AS g
                    FROM und JOIN {prev} p ON p.id = und.u
                    GROUP BY und.v
                ) m ON m.id = v.id
            )"""
        )
        prev = cur
    return f"""
        WITH edges AS ({COPURCHASE_EDGES_SQL}),
        und AS (
            SELECT src AS u, dst AS v FROM edges WHERE src <> dst
            UNION
            SELECT dst AS u, src AS v FROM edges WHERE src <> dst
        ),
        verts AS (SELECT DISTINCT u AS id FROM und),
        k0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS y FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id,
               CAST(y AS BIGINT) AS walks,
               CAST(y AS DOUBLE) / CAST((SELECT MAX(y) FROM {prev}) AS DOUBLE)
                   AS eig
        FROM {prev}
    """


def _build_order_oracle_sql(rounds: int, edges_sql: str) -> str:
    """Condensation DAG (closure-derived SCC labels) + the kernel's
    all-integer longest-path relaxation unrolled as materialized CTEs —
    monotone and idempotent at the fixpoint, so over-unrolling is exact
    (the kcore/coreness discipline)."""
    ctes = []
    prev = "l0"
    for t in range(1, rounds + 1):
        cur = f"l{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT l.id,
                       GREATEST(l.level, COALESCE(m.cand, 0)) AS level
                FROM {prev} l LEFT JOIN (
                    SELECT d.dst AS id, MAX(p.level) + 1 AS cand
                    FROM dag d JOIN {prev} p ON p.id = d.src
                    GROUP BY d.dst
                ) m ON m.id = l.id
            )"""
        )
        prev = cur
    return f"""
        WITH comp AS MATERIALIZED (
            {_scc_oracle_sql(edges_sql)}
        ),
        iedges AS MATERIALIZED (
            {edges_sql}
        ),
        dag AS MATERIALIZED (
            SELECT DISTINCT c1.scc AS src, c2.scc AS dst
            FROM iedges e
            JOIN comp c1 ON c1.id = e.src
            JOIN comp c2 ON c2.id = e.dst
            WHERE c1.scc != c2.scc
        ),
        verts AS (SELECT src AS id FROM dag UNION SELECT dst FROM dag),
        l0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS level FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(level AS BIGINT) AS level
        FROM {prev}
    """


def _coloring_oracle_sql(rounds: int, n: int, out_deg: int) -> str:
    """Jones–Plassmann rounds unrolled as materialized CTEs over the md5
    vertex graph: readiness = no undecided lower-priority neighbor; color
    pick = min-gap over lower-neighbor colors via the candidates
    ({1} ∪ {c+1}) anti-join — all-integer, reproduces the kernel (and the
    sequential greedy in (h, id) order) bit-for-bit."""
    ctes = []
    prev_c, prev_u = "c0", "und0"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""rdy{t} AS MATERIALIZED (
                SELECT u.id FROM {prev_u} u
                LEFT JOIN (
                    SELECT DISTINCT l.v AS id
                    FROM ladj l JOIN {prev_u} w ON w.id = l.u
                ) b ON b.id = u.id
                WHERE b.id IS NULL
            ),
            usd{t} AS MATERIALIZED (
                SELECT DISTINCT l.v AS id, c.color
                FROM ladj l
                JOIN rdy{t} r ON r.id = l.v
                JOIN {prev_c} c ON c.id = l.u
            ),
            pck{t} AS MATERIALIZED (
                SELECT n.id, MIN(n.k) AS color
                FROM (
                    SELECT id, 1 AS k FROM rdy{t}
                    UNION ALL
                    SELECT id, color + 1 FROM usd{t}
                ) n
                LEFT JOIN usd{t} u ON u.id = n.id AND u.color = n.k
                WHERE u.color IS NULL
                GROUP BY n.id
            ),
            c{t} AS MATERIALIZED (
                SELECT * FROM {prev_c}
                UNION ALL SELECT id, color FROM pck{t}
            ),
            und{t} AS MATERIALIZED (
                SELECT u.id FROM {prev_u} u
                LEFT JOIN rdy{t} r ON r.id = u.id
                WHERE r.id IS NULL
            )"""
        )
        prev_c, prev_u = f"c{t}", f"und{t}"
    return f"""
        WITH dedges AS ({md5_vertex_graph_sql(n, out_deg)}),
        und AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM dedges GROUP BY 1, 2
        ),
        pri AS (
            SELECT id, {_md5h("color", "CAST(id AS VARCHAR)")} AS h
            FROM (SELECT a AS id FROM und UNION SELECT b FROM und)
        ),
        sym AS (
            SELECT a AS v, b AS u FROM und
            UNION ALL SELECT b AS v, a AS u FROM und
        ),
        ladj AS MATERIALIZED (
            SELECT s.v, s.u
            FROM sym s
            JOIN pri pv ON pv.id = s.v
            JOIN pri pu ON pu.id = s.u
            WHERE (pu.h, pu.id) < (pv.h, pv.id)
        ),
        und0 AS (SELECT id FROM pri),
        c0 AS (
            SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) AS color
            WHERE FALSE
        ),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color
        FROM {prev_c}
    """


_EVENT_FUNNEL_SQL = """
    WITH ev AS (
        SELECT user_id, event_type, epoch_ms(ts) AS t_ms FROM events
    ),
    s1 AS (
        SELECT user_id, MIN(t_ms) AS t1 FROM ev
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.t_ms) AS t2
        FROM ev e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.t_ms > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.t_ms) AS t3
        FROM ev e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.t_ms > s2.t2
        GROUP BY e.user_id
    )
    SELECT CAST(s1.user_id AS BIGINT) AS user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage,
           CAST(t1 AS BIGINT) AS t_first_ms,
           CAST(COALESCE(t3, t2, t1) AS BIGINT) AS t_last_ms
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
"""


def oracle_sql() -> dict[str, str]:
    return {
        "graph_meta": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            verts AS (
                SELECT src AS id FROM edges UNION SELECT dst FROM edges
            ),
            m AS (
                SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts) AS vertices,
                       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS edges,
                       (SELECT CAST(MAX(c) AS BIGINT) FROM (
                           SELECT count(*) AS c FROM edges GROUP BY src)) AS max_out_degree,
                       (SELECT CAST(MAX(c) AS BIGINT) FROM (
                           SELECT count(*) AS c FROM edges GROUP BY dst)) AS max_in_degree
            )
            SELECT vertices, edges, max_out_degree, max_in_degree,
                   ROUND(CAST(edges AS DOUBLE) / CAST(vertices AS DOUBLE), 6)
                       AS avg_degree
            FROM m
        """,
        "in_degree_dist": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            indeg AS (
                SELECT dst, CAST(count(*) AS BIGINT) AS degree
                FROM edges GROUP BY dst
            )
            SELECT degree, CAST(count(*) AS BIGINT) AS frequency
            FROM indeg GROUP BY degree
        """,
        "degree_topk": f"""
            WITH edges AS ({CUSTOMER_ORDER_EDGES_SQL})
            SELECT CAST(src AS BIGINT) AS id,
                   CAST(count(*) AS BIGINT) AS out_degree
            FROM edges GROUP BY src
            ORDER BY out_degree DESC, id ASC
            LIMIT 20
        """,
        "csr_offsets": f"""
            WITH edges AS ({CUSTOMER_ORDER_EDGES_SQL}),
            deg AS (
                SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree
                FROM edges GROUP BY src
            )
            SELECT id, out_degree,
                   CAST(COALESCE(
                       SUM(out_degree) OVER (
                           ORDER BY id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS offset
            FROM deg
        """,
        "pagerank_fixed8": _pagerank_oracle_sql(8),
        "pagerank_personalized_fixed": _pagerank_oracle_sql(8, seeds_limit=10),
        "pagerank_weighted_fixed": _pagerank_oracle_sql(8, weighted=True),
        "import_pagerank_fixed": _pagerank_oracle_sql(
            8, weighted=True, edges_sql=_import_edges_sql(1200, 8, 10)
        ),
        # converged variants: delta-terminated unroll (first round with
        # L-inf delta < tol), mirroring kernels/pagerank.py:300 exactly
        "pagerank_copurchase": _pagerank_oracle_sql(40, converged_tol=1e-6),
        # two-phase warm-start replay: phase 1 (delta-terminated, ~90%
        # edge subset, UNROUNDED) nests as phase 2's init vector — the
        # exact trajectory _q_pagerank_incremental runs
        "pagerank_incremental": _pagerank_oracle_sql(
            40,
            converged_tol=1e-6,
            init_rank_sql=_prefix_pagerank_ctes(
                _pagerank_oracle_sql(
                    40,
                    converged_tol=1e-6,
                    edges_sql=(
                        f"SELECT src, dst FROM ({COPURCHASE_EDGES_SQL})"
                        " WHERE (src * 7919 + dst) % 10 <> 0"
                    ),
                    round_output=False,
                ),
                "w1_",
            ),
        ),
        "pagerank_personalized": _pagerank_oracle_sql(
            40,
            converged_tol=1e-6,
            seeds_sql=(
                "SELECT DISTINCT LEAST(src, dst) AS id FROM edges"
                " ORDER BY id LIMIT 10"
            ),
        ),
        # the north-rule pipeline on the hash-skew corpus, end-to-end:
        # md5-regenerated link structure + converged pagerank
        "import_graph_pagerank": _pagerank_oracle_sql(
            40,
            converged_tol=1e-6,
            edges_sql=_import_edges_md5_sql(2000, 8, 12, 16),
            verts_sql="SELECT i AS id FROM range(0, 2000) t(i)",
        ),
        "import_graph_pagerank_weighted": _pagerank_oracle_sql(
            40,
            converged_tol=1e-6,
            weighted=True,
            edges_sql=_import_edges_md5_sql(2000, 8, 12, 16),
            verts_sql="SELECT i AS id FROM range(0, 2000) t(i)",
        ),
        "minhash_near_dups": _minhash_oracle_sql(),
        "simhash_near_dups": _simhash_oracle_sql(),
        "knn_lsh": _knn_lsh_oracle_sql(),
        # on-disk format roundtrips: BOTH codecs must reproduce the
        # arithmetically-regenerated fixture edge set bit-for-bit
        "webgraph_roundtrip": _FORMAT_FIXTURE_SQL,
        "binary_csr_roundtrip": _FORMAT_FIXTURE_SQL,
        "matrix_market_roundtrip": _FORMAT_FIXTURE_SQL,
        "jsonl_roundtrip": _JSONL_ROUNDTRIP_SQL,
        "webgraph_weighted_roundtrip": f"""
            SELECT src, dst, (src + dst) % 9 + 1 AS weight
            FROM ({_FORMAT_FIXTURE_SQL})
        """,
        "knn_ivf_fixed": _knn_ivf_fixed_oracle_sql(),
        "random_walks": _walks_oracle_sql(_WALK_LEN, _WALK_START_MOD),
        "node2vec_walks": _n2v_oracle_sql(
            _N2V_LEN, _WALK_START_MOD, *_N2V_ALPHAS
        ),
        "neighbor_sampling": _nsamp_oracle_sql(
            _NSAMP_FANOUTS, _WALK_START_MOD
        ),
        "random_walks_weighted": _walks_oracle_sql(
            _WALK_LEN, _WALK_START_MOD, weighted=True
        ),
        "scc_imports": _scc_oracle_sql(
            _import_edges_md5_sql(_SCC_FILES, 8, 12, 16)
        ),
        "scc_random_digraph": _scc_oracle_sql(
            md5_vertex_graph_sql(_SCC_RAND_N, _SCC_RAND_DEG)
        ),
        "neighbor_features": _neighbor_features_oracle_sql(_NF_OUT_DEG),
        "sp_counts": _sp_counts_oracle_sql(_BC_UNROLL, _BC_SOURCE_MOD),
        "harmonic_sampled": f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id,
                   CAST(SUM(CAST(2520 // dist AS BIGINT)) AS BIGINT) AS h_num,
                   CAST(2520 AS BIGINT) AS h_den
            FROM lvl WHERE dist > 0 GROUP BY id
        """,
        "edge_betweenness_sampled": _edge_betweenness_oracle_sql(
            _BC_UNROLL, _BC_SOURCE_MOD
        ),
        "densest_subgraph": _densest_oracle_sql(
            _DENSEST_EPS[0], _DENSEST_EPS[1], _DENSEST_UNROLL
        ),
        "wl_colors": _wl_oracle_sql(_WL_ROUNDS),
        "msf_edges": _msf_oracle_sql(_MSF_UNROLL),
        "affinity_clusters": _msf_oracle_sql(_AFFINITY_LEVELS, select="clusters"),
        "betweenness_sampled": _betweenness_oracle_sql(
            _BC_UNROLL, _BC_SOURCE_MOD
        ),
        "closeness_sampled": f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id,
                   CAST(COUNT(*) AS BIGINT) AS reached,
                   CAST(SUM(dist) AS BIGINT) AS dist_sum,
                   CAST(COUNT(*) AS DOUBLE) / CAST(SUM(dist) AS DOUBLE)
                       AS closeness
            FROM lvl WHERE dist > 0 GROUP BY id
        """,
        "eccentricity_sampled": f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id, CAST(MAX(dist) AS BIGINT) AS ecc_lb
            FROM lvl GROUP BY id
        """,
        "scc_condensation": f"""
            WITH comp AS MATERIALIZED (
                {_scc_oracle_sql(_import_edges_md5_sql(_SCC_FILES, 8, 12, 16))}
            ),
            iedges AS MATERIALIZED (
                {_import_edges_md5_sql(_SCC_FILES, 8, 12, 16)}
            )
            SELECT DISTINCT c1.scc AS src, c2.scc AS dst
            FROM iedges e
            JOIN comp c1 ON c1.id = e.src
            JOIN comp c2 ON c2.id = e.dst
            WHERE c1.scc != c2.scc
        """,
        "modularity_lp": _modularity_lp_oracle_sql(10),
        # link prediction: exact-integer CN/RA (RA in 1e-12 fixed point via
        # integer floor-division — summation-order-independent), jaccard =
        # one IEEE division; total sort key -> deterministic top-50 set
        "link_prediction": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst GROUP BY 1, 2
            ),
            deg AS (
                SELECT id, COUNT(*) AS deg FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ),
            adj AS (
                SELECT a AS w, b AS u FROM und
                UNION ALL SELECT b AS w, a AS u FROM und
            ),
            cen AS (
                SELECT adj.w, adj.u, deg.deg AS wdeg
                FROM adj JOIN deg ON deg.id = adj.w
            ),
            wedges AS (
                SELECT l.u AS u, r.u AS v, l.wdeg
                FROM cen l JOIN cen r ON l.w = r.w AND l.u < r.u
            ),
            pair AS (
                SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
                       CAST(SUM(1000000000000 // wdeg) AS BIGINT) AS ra_fp
                FROM wedges GROUP BY 1, 2
            ),
            cand AS (
                SELECT p.* FROM pair p
                LEFT JOIN und ON und.a = p.u AND und.b = p.v
                WHERE und.a IS NULL
            )
            SELECT CAST(c.u AS BIGINT) AS u, CAST(c.v AS BIGINT) AS v,
                   c.cn, c.ra_fp,
                   CAST(du.deg AS BIGINT) AS du, CAST(dv.deg AS BIGINT) AS dv,
                   CAST(c.cn AS DOUBLE)
                     / CAST(du.deg + dv.deg - c.cn AS DOUBLE) AS jaccard
            FROM cand c
            JOIN deg du ON du.id = c.u
            JOIN deg dv ON dv.id = c.v
            ORDER BY c.cn DESC, c.ra_fp DESC, u, v LIMIT 50
        """,
        # assortativity: all sums exact longs; r = one IEEE division
        "assortativity": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst GROUP BY 1, 2
            ),
            deg AS (
                SELECT id, COUNT(*) AS deg FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ),
            stubs AS (
                SELECT a AS s, b AS d FROM und
                UNION ALL SELECT b AS s, a AS d FROM und
            ),
            j AS (
                SELECT dx.deg AS dx, dy.deg AS dy
                FROM stubs
                JOIN deg dx ON dx.id = stubs.s
                JOIN deg dy ON dy.id = stubs.d
            ),
            sums AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_stubs,
                       CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                       CAST(SUM(dx) AS BIGINT) AS sx,
                       CAST(SUM(dx * dx) AS BIGINT) AS sxx
                FROM j
            )
            SELECT n_stubs, sxy, sx, sxx,
                   CAST(n_stubs * sxy - sx * sx AS BIGINT) AS r_num,
                   CAST(n_stubs * sxx - sx * sx AS BIGINT) AS r_den,
                   CAST(n_stubs * sxy - sx * sx AS DOUBLE)
                     / CAST(n_stubs * sxx - sx * sx AS DOUBLE) AS r
            FROM sums
        """,
        "knn_ivf": _knn_ivf_oracle_sql(),
        "label_propagation": _lp_oracle_sql(10),
        # generously over-unrolled (peeling is idempotent at the fixpoint,
        # so extra rounds are free): the Spark kernel peels to a
        # data-dependent fixpoint; 32 rounds covers any SF the gate runs at
        "kcore_members": _kcore_oracle_sql(64, _KCORE_UNROLL),
        "mis_members": _mis_oracle_sql(_MIS_UNROLL),
        "ktruss_edges": _ktruss_oracle_sql(_KTRUSS_K, _KTRUSS_UNROLL),
        "coreness_all": _coreness_oracle_sql(_CORENESS_UNROLL),
        "doc_sample_stratified": _doc_sample_stratified_sql(),
        "doc_splits": _doc_splits_sql(),
        "near_dup_canonical": _near_dup_canonical_sql(),
        "neighborhood_function": _neighborhood_function_sql(_NF_RADIUS),
        "doc_top_terms": _DOC_TOP_TERMS_SQL,
        "doc_packs": f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id,
               ('0x' || substr(md5(concat_ws(':', 'pack', '42',
                   CAST(doc_id AS VARCHAR))), 1, 15))::BIGINT
                   % {_PACK_BUCKETS} AS bucket,
               CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, bucket, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tokens_before
        FROM base
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(bucket AS INTEGER) AS bucket,
           n_tokens, tokens_before,
           CAST(tokens_before // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM cum
    """,
        "vocab_per_lang": _vocab_per_lang_sql(),
        "cms_heavy_hitters": _cms_heavy_hitters_sql(),
        "bm25_topk": _bm25_topk_sql(),
        "inverted_index": _inverted_index_sql(),
        "bloom_membership": _bloom_membership_sql(),
        "corpus_pipeline": _corpus_pipeline_sql(),
        "edge_embeddedness": f"""
    WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b AS v, a AS u FROM e0
    ),
    sup AS MATERIALIZED (
        SELECT e.a, e.b, count(*) AS emb
        FROM e0 e
        JOIN adj x ON x.v = e.a
        JOIN adj y ON y.v = e.b AND y.u = x.u
        GROUP BY e.a, e.b
    )
    SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
           CAST(COALESCE(s.emb, 0) AS BIGINT) AS embeddedness
    FROM e0 e LEFT JOIN sup s ON s.a = e.a AND s.b = e.b
    """,
        "pseudo_diameter": _pseudo_diameter_oracle_sql(
            _PSEUDO_DIAM_SWEEPS, _PSEUDO_DIAM_UNROLL
        ),
        "rich_club": f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id
    ),
    vh AS (SELECT deg, CAST(count(*) AS BIGINT) AS nv FROM deg GROUP BY deg),
    emin AS (
        SELECT m, CAST(count(*) AS BIGINT) AS ne FROM (
            SELECT LEAST(da.deg, db.deg) AS m
            FROM und
            JOIN deg da ON da.id = und.a
            JOIN deg db ON db.id = und.b
        ) GROUP BY m
    ),
    joined AS (
        SELECT COALESCE(vh.deg, emin.m) AS deg,
               COALESCE(nv, 0) AS nv, COALESCE(ne, 0) AS ne
        FROM vh FULL JOIN emin ON vh.deg = emin.m
    ),
    cum AS (
        SELECT deg,
               CAST(SUM(nv) OVER (ORDER BY deg DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - nv AS BIGINT)
                   AS n_gt,
               CAST(SUM(ne) OVER (ORDER BY deg DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - ne AS BIGINT)
                   AS e_gt
        FROM joined
    )
    SELECT CAST(deg AS BIGINT) AS k, n_gt AS n_k, e_gt AS e_k,
           CAST(2 * e_gt AS DOUBLE) / CAST(n_gt * (n_gt - 1) AS DOUBLE)
               AS phi
    FROM cum WHERE n_gt >= 2
    """,
        "transitivity": f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    w AS (
        SELECT CAST(SUM((degree * (degree - 1)) // 2) AS BIGINT) AS wedges
        FROM (
            SELECT CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und
            ) GROUP BY id
        )
    )
    SELECT triangles, wedges,
           CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
               AS transitivity
    FROM t, w
    """,
        "reciprocity": f"""
    WITH edges AS ({_import_edges_md5_sql(_SCC_FILES, 8, 12, 16)}),
    e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
    SELECT CAST(COUNT(*) AS BIGINT) AS arcs,
           CAST(COUNT(r.src) AS BIGINT) AS reciprocated,
           CAST(COUNT(r.src) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS reciprocity
    FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
    """,
        "language_id": _language_id_oracle_sql(),
        "doc_fingerprint": _FINGERPRINT_SQL,
        "media_stats": _MEDIA_STATS_SQL,
        "wcc_labels": _WCC_CTE
        + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp",
        # trajectory-independent: labels are min-ids, so the incremental
        # run gates against the exact SAME closure as the cold run
        "wcc_incremental": _WCC_CTE
        + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp",
        "wcc_sizes": _WCC_CTE
        + """
            SELECT CAST(component AS BIGINT) AS component,
                   CAST(count(*) AS BIGINT) AS size
            FROM comp GROUP BY component
        """,
        # trajectory-independent closure over the REMAINING edges with
        # the ORIGINAL vertex set (removal-isolated vertices stay as
        # singletons on both sides) — gates the deletion-aware warm path
        "wcc_decremental": _WCC_DEC_CTE
        + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp",
        "triangle_count": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        # trajectory-independent: the incremental path (old count + delta
        # triangles) must land on the exact full-graph total
        "triangle_count_incremental": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        # trajectory-independent cold count over the remaining edges —
        # gates the subtract-lost-triangles deletion path
        "triangle_count_decremental": f"""
            WITH alledges AS ({COPURCHASE_EDGES_SQL}),
            edges AS (
                SELECT src, dst FROM alledges
                WHERE (src * 7919 + dst) % 10 <> 3
            ),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        "square_count": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            adj AS (
                SELECT a AS v, b AS n FROM und
                UNION ALL
                SELECT b AS v, a AS n FROM und
            ),
            lam AS (
                SELECT l.n AS u, r.n AS w, count(*) AS lam
                FROM adj l JOIN adj r ON r.v = l.v AND l.n < r.n
                GROUP BY 1, 2
            )
            SELECT CAST(COALESCE(SUM(lam * (lam - 1)) // 4, 0) AS BIGINT)
                AS squares
            FROM lam
        """,
        "bfs_depths": f"""
            WITH RECURSIVE e AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT src, dst FROM e
                UNION
                SELECT dst AS src, src AS dst FROM e
            ),
            walk(id, dist) AS (
                SELECT (SELECT MIN(LEAST(src, dst)) FROM e), 0
                UNION
                SELECT u.dst, walk.dist + 1
                FROM walk JOIN und u ON u.src = walk.id
                WHERE walk.dist < 6
            )
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(MIN(dist) AS BIGINT) AS dist
            FROM walk GROUP BY id
        """,
        "sssp_weighted": _sssp_oracle_sql(_SSSP_UNROLL),
        "hyperball_balls": _hyperball_oracle_sql(3),
        "hits_fixed": _hits_oracle_sql(8),
        "triangles_per_vertex": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            tri AS (
                SELECT e1.a AS u, e1.b AS v, e2.b AS w
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            members AS (
                SELECT u AS id FROM tri
                UNION ALL SELECT v FROM tri
                UNION ALL SELECT w FROM tri
            )
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(count(*) AS BIGINT) AS triangles
            FROM members GROUP BY id
        """,
        "clustering_coeff": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            deg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY id
            ),
            tri AS (
                SELECT e1.a AS u, e1.b AS v, e2.b AS w
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            tcount AS (
                SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
                    SELECT u AS id FROM tri
                    UNION ALL SELECT v FROM tri
                    UNION ALL SELECT w FROM tri
                ) GROUP BY id
            )
            SELECT CAST(d.id AS BIGINT) AS id, d.degree,
                   CAST(COALESCE(t.t, 0) AS BIGINT) AS triangles,
                   ROUND(2.0 * COALESCE(t.t, 0) / (d.degree * (d.degree - 1)), 6)
                       AS coeff
            FROM deg d LEFT JOIN tcount t ON t.id = d.id
            WHERE d.degree >= 2
        """,
        "exact_dup_groups": """
            SELECT md5(text) AS content_hash,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS rep_id
            FROM documents GROUP BY md5(text)
        """,
        "text_stats": f"""
            WITH {_text_stats_ctes('documents')}
            SELECT * FROM stats_out
        """,
        "corpus_clean": f"""
            WITH reps AS (
                SELECT md5(text) AS h, min(doc_id) AS rep
                FROM documents GROUP BY md5(text)
            ),
            kept AS MATERIALIZED (
                SELECT d.doc_id, d.text FROM documents d
                JOIN reps r ON r.rep = d.doc_id
            ),
            {_text_stats_ctes('kept')},
            {_lang_pred_ctes('kept')}
            SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
                   s.n_tokens, s.quality_score, w.lang_pred
            FROM stats_out s JOIN lang_w w ON w.doc_id = s.doc_id
            WHERE s.quality_score >= 0.3 AND s.n_tokens >= 8
        """,
        "ngram_jaccard": f"""
            WITH t AS (
                SELECT doc_id, {_TOKENS} AS toks FROM documents
            ),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(toks) >= 3 THEN
                           list_distinct(list_transform(
                               range(1, len(toks) - 1),
                               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                       ELSE [array_to_string(toks, ' ')] END AS grams
                FROM t
            ),
            e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
            c AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
            sh AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(count(*) AS DOUBLE) AS shared
                FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   ROUND(shared / (ca.n + cb.n - shared), 6) AS jaccard
            FROM sh
            JOIN c ca ON ca.doc_id = sh.id_a
            JOIN c cb ON cb.doc_id = sh.id_b
            WHERE shared / (ca.n + cb.n - shared) >= 0.2
        """,
        "embedding_dups": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ),
            s AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       ROUND(list_cosine_similarity(a.e, b.e), 6) AS score
                FROM v a JOIN v b ON a.vec_id < b.vec_id
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   score
            FROM s WHERE score >= 0.4
        """,
        "knn_bruteforce": """
            WITH v AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            ),
            s AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       list_cosine_similarity(a.e, b.e) AS sc
                FROM v a JOIN v b ON a.vec_id <> b.vec_id
                WHERE a.vec_id < 50
            ),
            r AS (
                SELECT query_id, neighbor_id, sc,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY sc DESC, neighbor_id
                       ) AS rn
                FROM s
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id,
                   ROUND(sc, 6) AS score
            FROM r WHERE rn <= 5
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sessions": """
            WITH o AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN epoch_us(ts) - COALESCE(
                               epoch_us(lag(ts) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id
                               )), 0) > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS nw
                FROM events
            ),
            s AS (
                SELECT *, SUM(nw) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS sid
                FROM o
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "katz_fixed": _katz_oracle_sql(_KATZ_ROUNDS, _KATZ_BASE),
        "eigencentrality_fixed": _eigen_oracle_sql(_EIG_ROUNDS),
        "maximal_matching": _matching_oracle_sql(_MATCH_UNROLL),
        "doc_lm_score": f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT t1.d, t1.tok AS w1, t2.tok AS w2
        FROM toks t1 JOIN toks t2 ON t2.d = t1.d AND t2.pos = t1.pos + 1
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    per AS (
        SELECT bg.d, count(*) AS n_bigrams,
               CAST(SUM((c12.c12 * CAST({_LM_SCALE} AS BIGINT)) // c1.c1)
                   AS BIGINT) AS fp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY bg.d
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(per.fp, 0) AS BIGINT) AS lm_fp_sum,
           CAST(per.fp AS DOUBLE)
               / CAST(per.n_bigrams * CAST({_LM_SCALE} AS BIGINT) AS DOUBLE)
               AS lm_score
    FROM documents LEFT JOIN per ON per.d = documents.doc_id
    """,
        "lm_quality_buckets": f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT t1.d, t1.tok AS w1, t2.tok AS w2
        FROM toks t1 JOIN toks t2 ON t2.d = t1.d AND t2.pos = t1.pos + 1
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    per AS (
        SELECT bg.d, count(*) AS n_bigrams,
               CAST(SUM((c12.c12 * CAST({_LM_SCALE} AS BIGINT)) // c1.c1)
                   AS BIGINT) AS fp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY bg.d
    ),
    sc AS MATERIALIZED (
        SELECT doc_id, lang,
               CASE WHEN per.n_bigrams > 0 THEN per.fp // per.n_bigrams
                    END AS q
        FROM documents LEFT JOIN per ON per.d = documents.doc_id
    ),
    ranked AS (
        SELECT lang, q,
               row_number() OVER (PARTITION BY lang ORDER BY q) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM sc WHERE q IS NOT NULL
    ),
    thr AS (
        SELECT lang,
               MAX(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN q END) AS p25,
               MAX(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN q END) AS p50,
               MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN q END) AS p75
        FROM ranked GROUP BY lang
    )
    SELECT CAST(sc.doc_id AS BIGINT) AS doc_id, sc.lang,
           CAST(sc.q AS BIGINT) AS lm_fp_mean,
           CASE WHEN sc.q IS NULL THEN 'unscored'
                WHEN sc.q <= thr.p25 THEN 'q1'
                WHEN sc.q <= thr.p50 THEN 'q2'
                WHEN sc.q <= thr.p75 THEN 'q3'
                ELSE 'q4' END AS bucket
    FROM sc LEFT JOIN thr ON thr.lang = sc.lang
    """,
        "dup_gram_stats": f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    g AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
               ELSE [array_to_string(toks, ' ')] END AS grams
        FROM t
    ),
    e AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM g),
    c AS (SELECT doc_id, count(*) AS n_grams FROM e GROUP BY doc_id),
    dup AS (
        SELECT gram FROM (
            SELECT gram, count(*) AS df FROM e GROUP BY gram
        ) WHERE df >= 2
    ),
    sh AS (
        SELECT e.doc_id, count(*) AS n_dup
        FROM e JOIN dup USING (gram) GROUP BY e.doc_id
    )
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(c.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(sh.n_dup, 0) AS BIGINT) AS n_dup,
           ROUND(COALESCE(sh.n_dup, 0) / CAST(c.n_grams AS DOUBLE), 6)
               AS frac_dup
    FROM c LEFT JOIN sh ON sh.doc_id = c.doc_id
    """,
        "bipartite_check": f"""
    {_WCC_CTE},
    walk(id, d) AS (
        SELECT component, 0 FROM (SELECT DISTINCT component FROM comp)
        UNION
        SELECT u.b, walk.d + 1 FROM walk JOIN und u ON u.a = walk.id
        WHERE walk.d < 16
    ),
    dist AS (SELECT id, MIN(d) AS d FROM walk GROUP BY id),
    canon AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    confl AS (
        SELECT c.component, count(*) AS n FROM canon e
        JOIN dist da ON da.id = e.a
        JOIN dist db ON db.id = e.b
        JOIN comp c ON c.id = e.a
        WHERE da.d % 2 = db.d % 2
        GROUP BY 1
    )
    SELECT CAST(c.component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(COALESCE(MAX(f.n), 0) AS BIGINT) AS n_conflicts,
           COALESCE(MAX(f.n), 0) = 0 AS is_bipartite
    FROM comp c LEFT JOIN confl f ON f.component = c.component
    GROUP BY c.component
    """,
        "triangle_count_doulion": f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    kept AS MATERIALIZED (
        SELECT a, b FROM und
        WHERE {_md5h("doulion", "CAST(a AS VARCHAR), CAST(b AS VARCHAR)")}
                  < {threshold_for(0.5)}
    ),
    ts AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM kept e1
        JOIN kept e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN kept e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tx AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT ts.n AS sampled_triangles,
           CAST(ts.n AS DOUBLE) * 8.0 AS triangles_est,
           tx.n AS exact_triangles,
           (CAST(ts.n AS DOUBLE) * 8.0 - CAST(tx.n AS DOUBLE))
               / CAST(tx.n AS DOUBLE) AS rel_err
    FROM ts, tx
    """,
        "shared_imports": f"""
    WITH edges AS ({_import_edges_sql(1200, 8, 10)}),
    arcs AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    indeg AS (SELECT dst, count(*) AS c FROM arcs GROUP BY dst),
    keep AS (
        SELECT a.src, a.dst FROM arcs a
        JOIN indeg i ON i.dst = a.dst WHERE i.c <= {_PROJ_CAP}
    )
    SELECT CAST(x.src AS BIGINT) AS a, CAST(y.src AS BIGINT) AS b,
           CAST(count(*) AS BIGINT) AS weight
    FROM keep x JOIN keep y ON x.dst = y.dst AND x.src < y.src
    GROUP BY 1, 2
    """,
        "build_order": _build_order_oracle_sql(
            _BUILD_ORDER_UNROLL, _import_edges_md5_sql(_SCC_FILES, 8, 12, 16)
        ),
        "event_funnel": _EVENT_FUNNEL_SQL,
        "graph_coloring": _coloring_oracle_sql(
            _COLOR_UNROLL, _COLOR_N, _COLOR_OUT_DEG
        ),
        "subgraph_sample": f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL})
            SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
            FROM edges
            WHERE {_md5h("subg", "CAST(src AS VARCHAR)")}
                      < {threshold_for(_SUBG_FRACTION)}
              AND {_md5h("subg", "CAST(dst AS VARCHAR)")}
                      < {threshold_for(_SUBG_FRACTION)}
        """,
        "knn_profile": f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id
    ),
    endp AS (
        SELECT da.deg AS dda, db.deg AS ddb
        FROM und
        JOIN deg da ON da.id = und.a
        JOIN deg db ON db.id = und.b
    ),
    ends AS (
        SELECT dda AS k, ddb AS nd FROM endp
        UNION ALL
        SELECT ddb AS k, dda AS nd FROM endp
    ),
    s AS (SELECT k, CAST(SUM(nd) AS BIGINT) AS s_k FROM ends GROUP BY k),
    nk AS (
        SELECT deg AS k, CAST(count(*) AS BIGINT) AS n_k FROM deg GROUP BY deg
    )
    SELECT CAST(nk.k AS BIGINT) AS k, n_k, s_k,
           CAST(s_k AS DOUBLE) / CAST(nk.k * n_k AS DOUBLE) AS knn
    FROM nk JOIN s ON s.k = nk.k
    """,
        "cooccurrence": f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id AS d,
               unnest({_TOKENS}) AS tok,
               unnest(range(len({_TOKENS}))) AS pos
        FROM documents
    ),
    pairs AS (
        SELECT t1.tok AS a, t2.tok AS b
        FROM toks t1
        JOIN toks t2 ON t2.d = t1.d
            AND t2.pos > t1.pos AND t2.pos <= t1.pos + {_COOC_WINDOW}
    )
    SELECT a, b, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY a, b HAVING count(*) >= {_COOC_MIN_COUNT}
    """,
        "package_graph": f"""
    {_import_sites_md5_cte(_SCC_FILES, 8, 12, 16)}
    SELECT src_group, dst_group, CAST(count(*) AS BIGINT) AS weight
    FROM (
        SELECT sf.repo || ':' || string_split(sf.path, '/')[1] AS src_group,
               df.repo || ':' || string_split(df.path, '/')[1] AS dst_group
        FROM itarg s
        JOIN files sf ON sf.i = s.src_i
        JOIN files df ON df.i = s.dst_i
    )
    WHERE src_group <> dst_group
    GROUP BY 1, 2
    """,
        "call_edges": f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)}
    SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS caller,
           'fn_' || CAST(ti AS VARCHAR) || '_' || CAST(tq AS VARCHAR) AS callee,
           CAST(count(*) AS BIGINT) AS n_sites
    FROM ctarg GROUP BY 1, 2
    """,
        "call_graph_pagerank": _pagerank_oracle_sql(
            8,
            weighted=True,
            edges_sql=_call_edges_vid_sql(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC),
            verts_sql=(
                f"SELECT i AS id FROM"
                f" range(0, {callgraph_vertex_count(_CG_FILES, _CG_MAXF)}) t(i)"
            ),
        ),
        "call_scc": _scc_oracle_sql(
            _call_edges_vid_sql(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)
        ),
        "split_contamination": f"""
    WITH s AS MATERIALIZED ({_doc_splits_sql()}),
    t AS MATERIALIZED (
        SELECT d.doc_id, s.split, {_TOKENS} AS toks
        FROM documents d JOIN s ON s.doc_id = d.doc_id
    ),
    g AS MATERIALIZED (
        SELECT doc_id, split,
               CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(
                       range(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
               ELSE [array_to_string(toks, ' ')] END AS grams
        FROM t
    ),
    e AS MATERIALIZED (SELECT doc_id, split, unnest(grams) AS gram FROM g),
    dirty AS MATERIALIZED (
        SELECT DISTINCT gram FROM e WHERE split = 'train'
    ),
    clean AS MATERIALIZED (
        SELECT doc_id, gram FROM e WHERE split = 'test'
    ),
    c AS (SELECT doc_id, count(*) AS n_grams FROM clean GROUP BY doc_id),
    sh AS (
        SELECT c2.doc_id, count(*) AS n_shared
        FROM clean c2 JOIN dirty d2 ON d2.gram = c2.gram
        GROUP BY c2.doc_id
    )
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           CAST(c.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(sh.n_shared, 0) / CAST(c.n_grams AS DOUBLE), 6)
               AS frac_shared
    FROM c LEFT JOIN sh ON sh.doc_id = c.doc_id
    """,
        "pii_scrub": f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com ref '
                         || CAST(doc_id * 7919 + 1000000 AS VARCHAR)
                    ELSE text END AS text
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_NUMBER}')) AS BIGINT)
               AS n_number,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}',
               '<EMAIL>', 'g'), '{_PII_NUMBER}', '<NUM>', 'g'))
               AS scrubbed_md5
    FROM planted
    """,
        "import_impact": f"""
    WITH RECURSIVE edges AS ({_import_edges_sql(1200, 8, 10)}),
    walk(id, d) AS (
        SELECT CAST(s.id AS BIGINT), 0 FROM (VALUES (0), (1), (2)) s(id)
        UNION
        SELECT e.src, walk.d + 1
        FROM walk JOIN edges e ON e.dst = walk.id
        WHERE walk.d < 8
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(MIN(d) AS BIGINT) AS depth
    FROM walk GROUP BY id
    """,
        "dead_functions": f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC, recursive=True)},
    cedges AS MATERIALIZED (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS caller,
               'fn_' || CAST(ti AS VARCHAR) || '_' || CAST(tq AS VARCHAR) AS callee
        FROM ctarg
    ),
    creach(fname, d) AS (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR), 0
        FROM cfuncs
        WHERE i % {_CG_REPOS} = 0
          AND (i // {_CG_REPOS}) % {N_PATH_DIRS} = 0
        UNION
        SELECT e.callee, creach.d + 1
        FROM creach JOIN cedges e ON e.caller = creach.fname
        WHERE creach.d < 30
    )
    SELECT fname FROM (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS fname
        FROM cfuncs
    )
    WHERE fname NOT IN (SELECT fname FROM creach)
    """,
        "call_file_fanout": f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)},
    cfanout AS (
        SELECT i, count(*) AS n_sites, count(DISTINCT ti) AS n_callee_files
        FROM ctarg GROUP BY i
    ),
    cnfuncs AS (SELECT i, count(*) AS n_funcs FROM cfuncs GROUP BY i)
    SELECT f.repo, f.path,
           CAST(n.n_funcs AS BIGINT) AS n_funcs,
           CAST(COALESCE(fo.n_sites, 0) AS BIGINT) AS n_sites,
           CAST(COALESCE(fo.n_callee_files, 0) AS BIGINT) AS n_callee_files
    FROM cfiles f
    JOIN cnfuncs n ON n.i = f.i
    LEFT JOIN cfanout fo ON fo.i = f.i
    """,
        "events_asof": """
    WITH p AS (
        SELECT user_id, event_id AS purchase_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts, MAX(event_id) AS click_id FROM events
        WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT CAST(p.user_id AS BIGINT) AS user_id,
           CAST(p.purchase_id AS BIGINT) AS purchase_id,
           epoch_us(p.ts) AS t_us,
           epoch_us(c.ts) AS t_click_us,
           CAST(c.click_id AS BIGINT) AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
        "doc_length_quantiles": """
    WITH ranked AS (
        SELECT lang, n_chars AS v,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS v_min,
           CAST(MAX(v) AS BIGINT) AS v_max,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN v END)
               AS BIGINT) AS p50,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN v END)
               AS BIGINT) AS p90,
           CAST(MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN v END)
               AS BIGINT) AS p99
    FROM ranked GROUP BY lang
    """,
        "last_click_attribution": _LAST_CLICK_SQL,
        "events_rollup": _EVENTS_ROLLUP_SQL,
        "cohort_retention": _COHORT_RETENTION_SQL,
        "event_transitions": _EVENT_TRANSITIONS_SQL,
        "event_bursts": _EVENT_BURSTS_SQL,
        "dyad_census": _dyad_census_oracle_sql(),
        "triad_motifs": _triad_motifs_oracle_sql(),
        "salsa_fixed": _salsa_oracle_sql(_SALSA_ROUNDS),
        "louvain_labels": _louvain_oracle_sql(_LOUVAIN_ROUNDS),
        "community_conductance": _conductance_oracle_sql(_LOUVAIN_ROUNDS),
        "bpe_merge_pairs": _bpe_merge_pairs_oracle_sql(_BPE_MERGE_TOP_K),
        "winnow_clones": _winnow_oracle_sql(),
        "ppr_batch": _ppr_batch_oracle_sql(_PPR_ROUNDS),
        "rmat_degree_dist": _rmat_degree_dist_oracle_sql(),
        "ppr_sweep": _ppr_sweep_oracle_sql(_SWEEP_ROUNDS),
        "events_pivot": _events_pivot_sql(),
        "corpus_diff": _CORPUS_DIFF_SQL,
        "table_time_travel": _TABLE_TIME_TRAVEL_SQL,
        "merge_upsert": _MERGE_UPSERT_SQL,
        "zorder_tiles": _zorder_tiles_sql(),
        "gap_bits_orders": _gap_bits_orders_sql(),
        "join_skew_report": _join_skew_report_sql(),
        "bucketed_join": _BUCKETED_JOIN_SQL,
        "vertex_cut_report": _vertex_cut_report_sql(),
        "events_range_join": """
    WITH cl AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'
    ),
    er AS (
        SELECT user_id, ts, event_id AS error_id FROM events
        WHERE event_type = 'error'
    )
    SELECT CAST(cl.user_id AS BIGINT) AS user_id,
           CAST(cl.click_id AS BIGINT) AS click_id,
           CAST(er.error_id AS BIGINT) AS error_id,
           epoch_us(cl.ts) AS t_us,
           epoch_us(er.ts) AS t_err_us,
           epoch_us(er.ts) - epoch_us(cl.ts) AS gap_us
    FROM cl JOIN er
      ON er.user_id = cl.user_id
     AND epoch_us(er.ts) BETWEEN epoch_us(cl.ts) + 1
                             AND epoch_us(cl.ts) + 600000000
    """,
        # functions/text.py gopher_rules mirrored term-for-term: the five
        # scalar rules are per-row expressions; the top-bigram rule is the
        # same explode -> (doc, gram) count -> rank-1 window (ties broken
        # count DESC, gram ASC) -> left join back. All ratios round(6) on
        # exact integer quotients. Thresholds = the query's
        # (min_words=20, min_stop_hits=1, rest Gopher defaults).
        "gopher_rules": f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, text, {_TOKENS} AS toks,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                   AS toks_lo
        FROM documents
    ),
    sc AS MATERIALIZED (
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_words,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(list_sum(list_transform(toks, x -> length(x)))
                         / len(toks), 6)
               ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3)
                         / len(toks), 6)
               ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(toks) > 0 THEN
                   ROUND(len(list_filter(toks,
                             x -> regexp_matches(x, '[A-Za-z]')))
                         / len(toks), 6)
               ELSE 0.0 END AS frac_alpha_words,
               len(list_intersect(list_distinct(toks_lo),
                   ['the','be','to','of','and','that','have','with']))
                   AS n_stop_hits
        FROM t
    ),
    bg AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS gram
        FROM t WHERE len(toks) >= 2
    ),
    cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
        SELECT doc_id, c AS top_c, gram AS top_gram
        FROM (SELECT doc_id, c, gram,
                     row_number() OVER (PARTITION BY doc_id
                         ORDER BY c DESC, gram ASC) AS rn
              FROM cnt)
        WHERE rn = 1
    ),
    m AS (
        SELECT sc.*,
               CASE WHEN top.top_c IS NOT NULL AND sc.n_chars > 0 THEN
                   ROUND(top.top_c * length(top.top_gram) / sc.n_chars, 6)
               ELSE 0.0 END AS frac_top_bigram
        FROM sc LEFT JOIN top USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, symbol_ratio, frac_alpha_words,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           frac_top_bigram,
           (n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1
            AND frac_alpha_words >= 0.8
            AND n_stop_hits >= 1
            AND frac_top_bigram <= 0.20) AS gopher_pass
    FROM m
    """,
        # operators/dedup.py span_dedup mirrored: the same 16-token window
        # chunking (ceil(len/16), min 1 — empty docs yield one '' span),
        # global keep-first by (doc_id, idx), string_agg reassembly in
        # span order.
        "span_dedup": f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, {_TOKENS} AS toks FROM documents
    ),
    s AS MATERIALIZED (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, greatest(CAST(ceil(len(toks) / 16.0) AS BIGINT), 1)),
                   i -> {{'idx': i,
                          'span': array_to_string(list_slice(toks,
                                      CAST(i * 16 + 1 AS BIGINT),
                                      CAST(i * 16 + 16 AS BIGINT)), ' ')}})) AS u
        FROM t
    ),
    e AS MATERIALIZED (
        SELECT doc_id, u.idx AS idx, u.span AS span FROM s
    ),
    kept AS (
        SELECT doc_id, idx, span
        FROM (SELECT doc_id, idx, span,
                     row_number() OVER (PARTITION BY span
                         ORDER BY doc_id, idx) AS rn
              FROM e)
        WHERE rn = 1
    ),
    re AS (
        SELECT doc_id,
               string_agg(span, ' ' ORDER BY idx) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_spans FROM e GROUP BY doc_id)
    SELECT CAST(tot.doc_id AS BIGINT) AS doc_id,
           COALESCE(re.clean_text, '') AS clean_text,
           CAST(tot.n_spans AS BIGINT) AS n_spans,
           CAST(tot.n_spans - COALESCE(re.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN re ON re.doc_id = tot.doc_id
    """,
        # functions/text.py bpe_token_count mirrored: the regex is the
        # SAME string (BPE_TOKEN_PATTERN, single-sourced below via
        # _BPE_SQL_PATTERN), whole-match extraction in both engines.
        "token_counts": f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len({_TOKENS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}'))
               AS BIGINT) AS n_bpe_tokens,
           CASE WHEN len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) > 0
                THEN ROUND(length(text)
                    / len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')), 6)
                ELSE 0.0 END AS chars_per_token
    FROM documents
    """,
        "semantic_dedup": _semantic_dedup_oracle_sql(_SEMDEDUP_TAU),
        # every query carries an oracle since r3: knn_ivf's fixed-point
        # Lloyd trainer (order-free int64 centroid sums) made the last
        # formerly-inexpressible query (iterative float k-means) exactly
        # unrollable in SQL — see _knn_ivf_oracle_sql
    }
