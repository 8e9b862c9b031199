"""Single-source shortest paths — frontier-relaxation (Bellman-Ford) kernel.

Completes the traversal family next to BFS: where ``kernels/bfs.py`` counts
hops, this kernel minimizes summed edge WEIGHTS — the natural query over the
reference's arc-labelled WG404 graphs (`src/WG404AP.java:171-182` emits
``(dest, label)`` pairs; the labels of MS-BioGraphs-style datasets are edge
weights). Not a reference client workload (its bundled clients are
degree/WCC/converters) but the canonical weighted-traversal analytic of a
link-graph engine.

Execution shape (the BFS/PageRank discipline):

- synchronous rounds; round k holds the exact frontier-k Bellman-Ford state,
  so results equal the classic |V|-1-round relaxation but each round only
  touches edges OUT OF vertices improved last round (delta/frontier
  optimization — identical fixpoint, far less work on small frontiers);
- one action per round: the merged distance table rides a non-eager
  localCheckpoint and the improved-count aggregation is the single action
  that materializes it;
- driver state is O(1) scalars per round; the edge table is repartitioned
  and sorted once before caching so the per-round SortMergeJoin reuses the
  order (``graph.gather_table`` holds the measurement behind this);
- weights must be non-negative for the early-exit fixpoint to be the true
  shortest-path solution (standard Bellman-Ford caveat; no negative-cycle
  detection — ``max_iter`` bounds the loop regardless).

100 TB shape: per-round cost is one equi-join frontier⋈edges (frontier side
shrinks geometrically on most graphs) + one min-aggregation on dst + one
min-merge on id — all map-side-combinable shuffles on the vertex key, no
driver-side vertex state, no collect of anything vertex-sized.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import gather_table, id_set
from paragrapher_spark.plans import superstep


@dataclass
class SSSPResult:
    distances: DataFrame  # (id, dist) — only reached vertices
    iterations: int
    converged: bool  # True if a round improved nothing before max_iter
    history: list[dict[str, Any]] = field(default_factory=list)


def sssp(
    edges: DataFrame,
    sources: DataFrame | list[int],
    weight_col: str = "weight",
    max_iter: int = 100,
    directed: bool = True,
) -> SSSPResult:
    """Weighted shortest paths over edges(src, dst, ``weight_col``) from
    ``sources`` (a (id) DataFrame or a list of vertex ids).

    Returns the minimal summed weight for every reachable vertex (sources
    at distance 0). Round k's state equals synchronous Bellman-Ford after
    k relaxations, so a DuckDB oracle can reproduce it with k unrolled
    materialized CTE rounds (and over-unrolling past convergence is exact —
    the fixpoint argument used by the k-core oracle).
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst", F.col(weight_col).alias("w"))
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col(weight_col).alias("w"),
            )
        )
    # parallel edges are harmless (min() absorbs them) but carrying only the
    # cheapest one shrinks every subsequent round's join input
    e, _ = gather_table(e.groupBy("src", "dst").agg(F.min("w").alias("w")), "src")

    zero = F.lit(0).cast(dict(e.dtypes)["w"])
    dist = (
        id_set(spark, sources)
        .select("id", zero.alias("dist"), F.lit(1).cast("int").alias("upd"))
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )

    def step(it: int, state, ckpt):
        dist, _ = state
        frontier = dist.where(F.col("upd") == 1).select("id", "dist")
        cand = (
            e.join(
                frontier.select(
                    F.col("id").alias("src"), F.col("dist").alias("fdist")
                ),
                on="src",
            )
            .select(
                F.col("dst").alias("id"), (F.col("fdist") + F.col("w")).alias("dist")
            )
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .select("id", "dist", F.lit(1).cast("int").alias("upd"))
        )
        # merge: min (dist, upd) struct per vertex — a candidate wins only
        # by a STRICTLY smaller dist (upd=1 sorts after upd=0 on ties, so a
        # tie keeps the settled row and the vertex does not re-enter the
        # frontier; termination then cannot loop on equal-cost paths)
        dist = (
            dist.select("id", "dist", F.lit(0).cast("int").alias("upd"))
            .unionByName(cand)
            .groupBy("id")
            .agg(F.min(F.struct("dist", "upd")).alias("s"))
            .select("id", F.col("s.dist").alias("dist"), F.col("s.upd").alias("upd"))
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        improved = dist.agg(F.sum("upd").alias("n")).collect()[0]["n"] or 0
        return (dist, improved), {"frontier_size": improved}

    loop = superstep.run(
        step,
        (dist, None),
        spark=spark,
        max_iter=max_iter,
        done=lambda s: s[1] == 0,
        result=lambda s: s[0].select("id", "dist"),
    )
    e.unpersist()
    return SSSPResult(
        distances=loop.result,
        # the round that improved nothing relaxed no new distance
        iterations=loop.last - 1 if loop.done else loop.last,
        converged=loop.done,
        history=loop.history,
    )
