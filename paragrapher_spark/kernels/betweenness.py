"""Betweenness centrality — multi-source Brandes with level unrolling.

Completes the centrality family (degrees → PageRank/HITS → HyperBall →
betweenness): Brandes' algorithm (Brandes 2001, "A faster algorithm for
betweenness centrality") from a SAMPLED source set — the standard
approximation for web-scale graphs (Bader et al. 2007 source sampling),
and exact over the sampled sources, which is what the oracle checks. Not
a reference client workload (its clients are degree/WCC/converters), but
the canonical shortest-path centrality of a link-graph engine.

Two phases, both level-synchronous so a DuckDB oracle can replay them as
unrolled per-level CTEs:

1. FORWARD: multi-source BFS keyed (source, vertex) accumulating
   σ(s, v) = number of shortest s→v paths. σ is an exact INTEGER — the
   per-level candidate aggregation sums predecessor σ values, and a
   vertex enters the level table exactly once (anti-join against
   visited). All sources advance in the same superstep: one frontier ⋈
   edges join + one sum-agg per level, not one BFS per source.
2. BACKWARD: dependency accumulation by DESCENDING level,
   δ(s, v) = Σ_{w ∈ succ(v)} σ(s,v)/σ(s,w) · (1 + δ(s,w)), where succ
   are shortest-path DAG successors (dist(w) = dist(v) + 1 across an
   edge). Deepest level has δ = 0; each level is one 3-way equi-join +
   sum-agg. betweenness(v) = Σ_s δ(s, v) over v ≠ s.

Float discipline: σ is exact end to end. δ necessarily divides (σ ratios)
so scores are doubles; consumers gate on a rounded projection (the
summation-order noise is ~1e-15 relative — see the events_hourly
precedent) while σ/dist rows gate EXACTLY.

100 TB shape: state is (source, vertex)-keyed rows — |S|·|V| worst case,
linear in the sample size, shuffled on the composite key (source fans the
hub rows across partitions, the same self-salting effect as the walks
kernel's (vertex, idx) key). Per level: one equi-join against the single
persisted edge table + map-side-combinable aggs. Driver holds O(levels)
scalars. Backward reuses the persisted per-level table — no recomputation.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs, gather_table, id_set
from paragrapher_spark.plans import superstep


@dataclass
class BetweennessResult:
    scores: DataFrame  # (id, bc) — Σ_s δ(s, id), id ≠ s; double
    levels: DataFrame  # (source, id, dist, sigma) — exact shortest-path counts
    depth: int  # deepest level reached (max dist)
    history: list[dict[str, Any]] = field(default_factory=list)


def _forward_levels(
    e: DataFrame,
    sources: DataFrame | list[int],
    n_part: int,
    max_depth: int,
) -> tuple[DataFrame, int, list[dict[str, Any]]]:
    """Multi-source BFS with exact σ path counts over the pre-persisted
    simple arc table (a self-loop never lies on a dist + 1 DAG edge).
    Returns (levels persisted, depth, history)."""
    spark = e.sparkSession
    frontier = (
        id_set(spark, sources)
        .select(
            F.col("id").alias("source"),
            F.col("id"),
            F.lit(0).cast("int").alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .repartition(n_part, "source", "id")
        .localCheckpoint(eager=True)
    )

    def step(d: int, state, ckpt):
        visited, frontier, _ = state
        cand = (
            frontier.join(e, on=frontier["id"] == e["src"])
            .groupBy("source", F.col("dst").alias("nid"))
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "source",
                F.col("nid").alias("id"),
                F.lit(d).cast("int").alias("dist"),
                "sigma",
            )
        )
        frontier = (
            cand.join(visited.select("source", "id"), on=["source", "id"], how="left_anti")
            .repartition(n_part, "source", "id")
            .transform(ckpt.cut_lazy)
        )
        n_front = frontier.count()
        if n_front:
            visited = visited.unionByName(frontier).transform(ckpt.cut_lazy)
        return (visited, frontier, n_front), {"frontier_size": n_front}

    # pin into cached partitions (superstep.run's pin epilogue);
    # a caller's later unpersist() on this frame is a cache-manager no-op
    loop = superstep.run(
        step,
        (frontier, frontier, None),
        spark=spark,
        max_iter=max_depth,
        key="level",
        done=lambda s: s[2] == 0,
        result=lambda s: s[0].repartition(n_part, "source", "id"),
    )
    # the level that found the frontier empty reached no new depth
    depth = loop.last - 1 if loop.done else loop.last
    return loop.result, depth, loop.history


def _credits(
    levels: DataFrame, e: DataFrame, delta_next: DataFrame, d: int
) -> DataFrame:
    """(source, id, wid, part): the Brandes credit σ(s,v)/σ(s,w)·(1 +
    δ(s,w)) of every shortest-path DAG edge v -> w from level d to d+1
    (δ is 0 at the deepest level). Columns are renamed BEFORE the
    self-joins on ``levels`` so attribute resolution is unambiguous."""
    lv = levels.where(F.col("dist") == d).select("source", "id", "sigma")
    lw = levels.where(F.col("dist") == d + 1).select(
        F.col("source").alias("wsource"),
        F.col("id").alias("wid"),
        F.col("sigma").alias("wsigma"),
    )
    dn = delta_next.select(
        F.col("source").alias("dsource"),
        F.col("id").alias("did"),
        "delta",
    )
    return (
        lv.join(e, on=F.col("id") == F.col("src"))
        .join(
            lw,
            on=(F.col("source") == F.col("wsource")) & (F.col("dst") == F.col("wid")),
        )
        .join(
            dn,
            on=(F.col("source") == F.col("dsource")) & (F.col("wid") == F.col("did")),
            how="left",
        )
        .select(
            "source",
            "id",
            "wid",
            (
                F.col("sigma").cast("double")
                / F.col("wsigma").cast("double")
                * (F.lit(1.0) + F.coalesce(F.col("delta"), F.lit(0.0)))
            ).alias("part"),
        )
    )


def shortest_path_levels(
    edges: DataFrame,
    sources: DataFrame | list[int],
    directed: bool = False,
    max_depth: int = 50,
) -> tuple[DataFrame, int, list[dict[str, Any]]]:
    """Public forward phase alone: (source, id, dist, sigma) exact levels
    from the sampled sources, plus the reached depth and per-level
    history — the shared substrate of betweenness, sampled closeness, and
    harmonic centrality."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e, _ = gather_table(arcs(edges, directed=directed), "src")
    levels, depth, history = _forward_levels(e, sources, n_part, max_depth)
    e.unpersist()
    return levels, depth, history


def harmonic_centrality(levels: DataFrame, depth: int) -> DataFrame:
    """Harmonic centrality over the sampled sources, EXACT:
    h(v) = Σ_{s ≠ v} 1/dist(s, v) is a sum of unit fractions with
    denominators ≤ depth, so scaling by L = lcm(1..depth) turns every
    term into an exact integer — (id, h_num, h_den) with
    h(v) = h_num / h_den, no float summation anywhere."""
    import math

    L = math.lcm(*range(1, max(depth, 1) + 1))
    return (
        levels.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum(F.expr(f"{L} div dist")).cast("long").alias("h_num"),
        )
        .select("id", "h_num", F.lit(L).cast("long").alias("h_den"))
    )


def closeness_centrality(levels: DataFrame) -> DataFrame:
    """Closeness over the sampled sources, EXACT integers: ``reached`` =
    #sources at finite positive distance, ``dist_sum`` = Σ_s dist(s, v),
    and ``closeness`` = reached / dist_sum — the sample-restricted
    Bavelas closeness (the Wasserman-Faust normalization is one extra
    multiply for the caller). The double is ONE IEEE division of two
    exact longs, so an SQL oracle reproduces it bit-for-bit."""
    return (
        levels.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("reached"),
            F.sum("dist").cast("long").alias("dist_sum"),
        )
        .select(
            "id",
            "reached",
            "dist_sum",
            (F.col("reached").cast("double") / F.col("dist_sum").cast("double"))
            .alias("closeness"),
        )
    )


@dataclass
class EdgeBetweennessResult:
    scores: DataFrame  # (a, b, ebc) — canonical undirected edge, credit sum
    depth: int
    history: list[dict[str, Any]] = field(default_factory=list)


def edge_betweenness(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_depth: int = 50,
) -> EdgeBetweennessResult:
    """Girvan–Newman edge betweenness from the sampled sources (Brandes
    2001 §4 edge variant; Girvan & Newman PNAS 2002): during the backward
    sweep the per-edge credit σ(s,v)/σ(s,w) · (1 + δ(s,w)) for each
    shortest-path-DAG edge v→w is exactly the term the vertex loop sums
    into δ(s,v) — this kernel materializes those terms per edge instead
    of collapsing them, then sums over sources onto the canonical
    undirected edge. Zero-credit edges (on no sampled shortest path) are
    kept at 0.0 so the output is a total edge scoring, the input the
    Girvan–Newman community peel removes its max from.

    Same discipline as ``betweenness``: one action per backward level
    (the eager checkpoint of the joined credit table — the per-vertex δ
    agg and the edge credits both read that checkpoint, no re-join);
    state keyed (source, vertex) exactly like the forward phase.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e, _ = gather_table(arcs(edges, directed=False), "src")
    levels, depth, history = _forward_levels(e, sources, n_part, max_depth)

    def back(i: int, state, ckpt):
        delta_next, edge_parts = state
        joined = (
            _credits(levels, e, delta_next, depth - i)
            .repartition(n_part, "source", "id")
            .transform(ckpt.cut)
        )
        delta_next = joined.groupBy("source", "id").agg(
            F.sum("part").alias("delta")
        )
        edge_parts = edge_parts.unionByName(
            joined.select(F.col("id").alias("v"), F.col("wid").alias("w"), "part")
        )
        return (delta_next, edge_parts), {}

    def _scores(state) -> DataFrame:
        credits = (
            state[1].groupBy(
                F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
            )
            .agg(F.sum("part").alias("ebc"))
        )
        return (
            e.where(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .join(credits, on=["a", "b"], how="left")
            .select("a", "b", F.coalesce("ebc", F.lit(0.0)).alias("ebc"))
        )

    # backward sweep, deepest level first: step i credits level depth - i
    loop = superstep.run(
        back,
        (
            spark.createDataFrame([], "source long, id long, delta double"),
            spark.createDataFrame([], "v long, w long, part double"),
        ),
        spark=spark,
        max_iter=depth,
        key="level",
        result=_scores,
    )
    e.unpersist()
    levels.unpersist()
    return EdgeBetweennessResult(scores=loop.result, depth=depth, history=history)


def betweenness(
    edges: DataFrame,
    sources: DataFrame | list[int],
    directed: bool = False,
    max_depth: int = 50,
) -> BetweennessResult:
    """Brandes betweenness from ``sources`` over edges(src, dst).

    Returns per-vertex dependency sums over the sampled sources (exact
    Brandes for that source set; an unbiased |V|/|S|-scaled estimator of
    full betweenness). ``levels`` additionally exposes the exact σ table
    for integer-exact verification.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e, _ = gather_table(arcs(edges, directed=directed), "src")
    levels, depth, history = _forward_levels(e, sources, n_part, max_depth)

    # backward dependency accumulation, level by level (descending)
    def back(i: int, state, ckpt):
        delta_next, all_delta = state
        contrib = (
            _credits(levels, e, delta_next, depth - i)
            .groupBy("source", "id")
            .agg(F.sum("part").alias("delta"))
            .repartition(n_part, "source", "id")
            .transform(ckpt.cut)
        )
        return (contrib, all_delta.unionByName(contrib)), {}

    zero = spark.createDataFrame([], "source long, id long, delta double")
    loop = superstep.run(
        back,
        (zero, zero),  # δ rows for level d+1 (deepest level: δ = 0), all δ
        spark=spark,
        max_iter=depth,
        key="level",
        result=lambda s: s[1]
        .where(F.col("id") != F.col("source"))
        .groupBy("id")
        .agg(F.sum("delta").alias("bc")),
    )
    e.unpersist()
    return BetweennessResult(
        scores=loop.result, levels=levels.select("source", "id", "dist", "sigma"),
        depth=depth, history=history,
    )
