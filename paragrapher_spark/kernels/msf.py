"""Minimum spanning forest — Borůvka (1926), the parallel/dataflow MST
algorithm (GAPBS-adjacent kernel family; also the contraction core of
affinity clustering, Bateni et al. NeurIPS 2017): each round every
component selects its minimum-weight outgoing edge, all selected edges
join the forest at once, and the hooked components contract — the
component count at least halves per round, so O(log |V|) rounds.

Uniqueness/gating: ties are broken by the composite weight
(weight, a, b), which is strictly unique per canonical edge, so the MSF
is UNIQUE and a SQL oracle that unrolls the same rounds reproduces the
exact edge set — no float, no nondeterminism. Selection is min-of-struct
(lexicographic by field), identical to ORDER BY weight, a, b.

100 TB shape: per round one |E| double label join + two map-side-
combinable min-of-struct aggs keyed by component + a connected-components
contraction over the HOOK graph only (≤ #components edges — the
shrinking metadata graph, not |E|); ONE count action per round. Forest
accumulation rides localCheckpoints so lineage stays bounded.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import undirected_degrees
from paragrapher_spark.kernels.components import connected_components
from paragrapher_spark.plans import superstep


@dataclass
class MSFResult:
    edges: DataFrame  # (a, b, weight) — the forest, a < b
    clusters: DataFrame  # (id, c) — component labels after the last round:
    #   the affinity-clustering assignment at that contraction level
    #   (Bateni et al. NeurIPS 2017 — level-k clusters ARE Boruvka round-k
    #   components; run with max_rounds=k for the level-k clustering)
    n_edges: int
    total_weight: int
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def boruvka_msf(
    edges: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 30,
) -> MSFResult:
    """MSF of the undirected graph underlying edges(src, dst, weight).
    Parallel (a, b) rows collapse to their min weight first; self-loops
    drop. Terminates when no component has an outgoing edge."""
    spark = edges.sparkSession
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    comp = (
        undirected_degrees(e)
        .select("id", F.col("id").alias("c"))
        .localCheckpoint(eager=False)
    )

    def step(rnd: int, state, ckpt):
        comp, msf, _ = state
        lab = (
            e.join(comp.select(F.col("id").alias("a"), F.col("c").alias("ca")), on="a")
            .join(comp.select(F.col("id").alias("b"), F.col("c").alias("cb")), on="b")
            .where(F.col("ca") != F.col("cb"))
        )
        pick = F.struct("w", "a", "b", "ca", "cb").alias("s")
        both = lab.select(F.col("ca").alias("c"), pick).unionByName(
            lab.select(F.col("cb").alias("c"), pick)
        )
        hooks = (
            both.groupBy("c")
            .agg(F.min("s").alias("s"))
            .select("s.w", "s.a", "s.b", "s.ca", "s.cb")
            .distinct()
            .localCheckpoint(eager=True)  # the round's ONE action
        )
        n_hooks = hooks.count()
        if n_hooks == 0:
            return (comp, msf, 0), {"hooks": 0}
        msf = msf.unionByName(hooks.select("a", "b", "w")).transform(ckpt.cut_lazy)
        # contract: WCC over the hook graph (component-id vertices only);
        # labels are min old-component ids — the oracle's closure rule
        cc = connected_components(
            hooks.select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        )
        comp = (
            comp.join(
                cc.components.select(F.col("id").alias("c"), "component"),
                on="c",
                how="left",
            )
            .select("id", F.coalesce("component", F.col("c")).alias("c"))
            .transform(ckpt.cut_lazy)
        )
        return (comp, msf, n_hooks), {"hooks": n_hooks}

    loop = superstep.run(
        step,
        (comp, spark.createDataFrame([], "a long, b long, w long"), None),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2] == 0,
        result=lambda s: (s[1].select("a", "b", F.col("w").alias("weight")), s[0]),
    )
    msf_edges, comp = loop.result
    stats = msf_edges.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("weight"), F.lit(0)).alias("tw")
    ).collect()[0]
    return MSFResult(
        edges=msf_edges,
        clusters=comp,
        n_edges=int(stats["n"]),
        total_weight=int(stats["tw"]),
        # the round that found no hook merged nothing
        rounds=loop.last - 1 if loop.done else loop.last,
        history=loop.history,
    )
