"""Multi-source BFS — frontier-superstep reachability/distance kernel.

Not a reference client workload (its clients are degree/WCC/converters),
but the canonical frontier-driven traversal of a link-graph engine and the
op that makes the checkpoint manifest's ``frontier_size`` metric literal
(north rule: per-superstep metrics). Same execution discipline as the
other kernels: driver work O(1) scalars per superstep, edge table
repartitioned once, frontier/distances localCheckpointed per superstep,
resumable via CheckpointManager.

Per superstep: neighbors of the frontier (one equi-join on the persisted
edge table) minus already-visited (left-anti against the distance table)
become the next frontier at depth d+1. Terminates when the frontier is
empty or ``max_depth`` is hit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class BFSResult:
    distances: DataFrame  # (id, dist) — only reached vertices
    iterations: int
    exhausted: bool  # True if the frontier emptied before max_depth
    history: list[dict[str, Any]] = field(default_factory=list)


def bfs(
    edges: DataFrame,
    sources: DataFrame | list[int],
    max_depth: int = 50,
    directed: bool = True,
    num_partitions: int | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> BFSResult:
    """BFS over edges(src, dst) from ``sources`` (a (id) DataFrame or a
    list of vertex ids). Returns hop distances for every reached vertex."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # sorted before caching — once frontiers outgrow the broadcast
    # threshold the frontier join is a SortMergeJoin; the cached order
    # spares the |E| side a re-sort every superstep (see pagerank.py)
    e = (
        e.distinct()
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()

    if isinstance(sources, list):
        src_df = spark.createDataFrame([(int(s),) for s in sources], "id long")
    else:
        src_df = sources.select("id")
    # duplicate seeds would survive into the result (depth-0 rows are not
    # deduplicated by the frontier logic below)
    src_df = src_df.distinct()

    def _start(dist: DataFrame) -> tuple[DataFrame, DataFrame, None]:
        """(distances, frontier, frontier size) loop state: the frontier is
        the vertices at the current maximum depth (reconstructable from the
        distance snapshot — that is what makes resume exact)."""
        dist = dist.repartition(n_part, "id").localCheckpoint(eager=True)
        frontier = dist.where(
            F.col("dist") == (dist.agg(F.max("dist")).collect()[0][0] or 0)
        ).select("id")
        return dist, frontier.localCheckpoint(eager=True), None

    def step(it: int, state, ckpt):
        dist, frontier, _ = state
        # ONE job per superstep (the PageRank discipline): the unioned
        # distance table is a non-eager localCheckpoint and the frontier-
        # size aggregation below is the single action that materializes it.
        # The next frontier is then a cheap filter over the checkpointed
        # partitions — no recompute, no second job.
        nxt = (
            e.join(frontier.withColumnRenamed("id", "src"), on="src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist, on="id", how="left_anti")
            .select("id", F.lit(it).cast("long").alias("dist"))
        )
        dist = (
            dist.unionByName(nxt)
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        frontier_size = (
            dist.agg(
                F.sum((F.col("dist") == it).cast("long")).alias("f")
            ).collect()[0]["f"]
            or 0
        )
        frontier = dist.where(F.col("dist") == it).select("id")
        return (dist, frontier, frontier_size), {"frontier_size": frontier_size}

    loop = superstep.run(
        step,
        lambda: _start(src_df.select("id", F.lit(0).cast("long").alias("dist"))),
        spark=spark,
        max_iter=max_depth,
        done=lambda s: s[2] == 0,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: _start(snap),
        snapshot=lambda s: s[0],
        result=lambda s: s[0],
        final=lambda lp: (lp.last, {"exhausted": True}) if lp.done else None,
    )
    e.unpersist()
    return BFSResult(
        distances=loop.result,
        # the superstep that found the frontier empty reached no new depth
        iterations=loop.last - 1 if loop.done else loop.last,
        exhausted=loop.done,
        history=loop.history,
    )


@dataclass
class PseudoDiameterResult:
    sweeps: list[dict[str, int]]  # per sweep: {sweep, source, ecc, farthest}
    diameter_lb: int  # max eccentricity seen across sweeps
    max_depth_seen: int  # deepest BFS level materialized (for unroll guards)


def pseudo_diameter(
    edges: DataFrame,
    sweeps: int = 2,
    max_depth: int = 64,
    num_partitions: int | None = None,
) -> PseudoDiameterResult:
    """Double-sweep pseudo-diameter lower bound (the GAPBS/iFUB warm-start
    heuristic, Crescenzi et al.; e.g. Magnien, Latapy & Habib 2009): BFS
    from a deterministic start — the max-undirected-degree vertex, min id
    on ties — take the farthest vertex (max dist, min id on ties), BFS
    again from there, repeating ``sweeps`` times. max ecc over sweeps is a
    diameter lower bound that is empirically tight on power-law graphs,
    at the cost of ``sweeps`` BFS runs instead of the sampled-eccentricity
    battery's |S| runs.

    Driver traffic is O(1) rows per sweep (one argmax row each); each
    sweep is a frontier BFS with the kernel's one-job-per-superstep
    discipline. Everything is integer-exact, so the result gates
    bit-for-bit against an unrolled-BFS SQL oracle.
    """
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    start_row = deg.orderBy(F.desc("deg"), F.asc("id")).limit(1).collect()
    if not start_row:
        return PseudoDiameterResult(sweeps=[], diameter_lb=0, max_depth_seen=0)
    source = int(start_row[0]["id"])

    recs: list[dict[str, int]] = []
    max_depth_seen = 0
    for s in range(sweeps):
        res = bfs(
            und.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            [source],
            max_depth=max_depth,
            directed=False,
            num_partitions=num_partitions,
        )
        far = (
            res.distances.orderBy(F.desc("dist"), F.asc("id")).limit(1).collect()[0]
        )
        ecc = int(far["dist"])
        max_depth_seen = max(max_depth_seen, ecc)
        recs.append(
            {"sweep": s, "source": source, "ecc": ecc, "farthest": int(far["id"])}
        )
        if ecc == 0:  # isolated start (no undirected neighbors): converged
            break
        source = int(far["id"])
    return PseudoDiameterResult(
        sweeps=recs,
        diameter_lb=max((r["ecc"] for r in recs), default=0),
        max_depth_seen=max_depth_seen,
    )
