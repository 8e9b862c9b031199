"""Louvain-style synchronous local-moving phase (community detection).

Label propagation (kernels/labelprop.py) optimizes nothing; the Louvain
method (Blondel et al., "Fast unfolding of communities in large networks",
J. Stat. Mech. 2008) greedily moves vertices to the neighboring community
with the best MODULARITY gain. The sequential algorithm is inherently
order-dependent; the published distributed adaptations run the local-moving
phase SYNCHRONOUSLY (all vertices evaluate moves against the same frozen
assignment — Que et al., "Scalable Community Detection with the Louvain
Algorithm", IPDPS 2015), which is the variant implemented here: it is
deterministic, oracle-checkable, and each round is two grouped aggregations
plus three equi-joins.

Determinism contract — all-integer gain scores. Moving v (degree k_v) from
community a to c changes modularity by

    ΔQ ∝ [k_{v,c} − k_{v,a∖v}]/m − k_v·[Σtot(c) − Σtot(a∖v)]/(2m²)

so comparing candidate targets c (including staying at a) reduces to
maximizing the exact-long score

    score(v, c) = 2m·k_{v,c} − k_v·Σtot(c∖v)

where k_{v,c} = #edges from v into c and Σtot(c∖v) subtracts k_v when v is
itself in c. Ties break to the SMALLEST community id; a vertex moves only
when its best score STRICTLY beats the score of staying — both rules fixed,
so the round function is a pure function of the previous assignment and a
DuckDB oracle replays it bit-exactly. Overflow: |score| ≤ (2m)², exact in
int64 up to ~1.5e9 edges (the modularity kernel's own bound).

Oscillation control — alternating parity subsets. Fully synchronous moves
oscillate on symmetric structures (two adjacent singletons adopt EACH
OTHER's community forever — the same period-2 pathology synchronous label
propagation is known for). The standard distributed remedy is to let only
a deterministic half of the vertices move per round: here round r applies
moves only to vertices with id % 2 == r % 2 (everyone still evaluates, so
the oracle stays a per-round pure function). A neighbor pair then settles
in two rounds instead of swapping — measured on the barbell fixture the
parity rule turns the oscillating q_num < 0 outcome into the correct
two-triangle partition.

Scale shape (100 TB): per round — one grouped Σtot (|C| rows), one grouped
k_{v,c} over the adjacency×labels join (≤ 2|E| rows in, ≤ 2|E| out), an
outer merge to seed each vertex's own community, a two-step grouped argmax
(max score, then min community at the max — no window over the edge table),
and one equi-join to apply moves. All shuffles key on vertex or community
ids; driver state is O(1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import gather_table
from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class LouvainResult:
    labels: DataFrame  # (id, community) — exact longs
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def louvain_level(
    edges: DataFrame,
    rounds: int = 3,
    checkpoint: "CheckpointManager | None" = None,
    checkpoint_every: int = 1,
) -> LouvainResult:
    """Run ``rounds`` synchronous local-moving rounds over canonical
    undirected edges(src, dst) (one row per unordered pair, src < dst,
    no self-loops — the modularity kernel's input contract). Initial
    assignment: every vertex its own community.

    Resumable (the north rule's mid-iteration contract, same pattern as
    pagerank/bfs/labelprop): with a ``checkpoint``, each saved round
    snapshots the (id, c) assignment with per-partition lineage; resume
    restarts at the NEXT round, and because the round index drives the
    parity-move rule, the manifest's iteration number keeps the
    alternation phase exact across restarts."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst").distinct()
    # the row count is 2m — one action, reused every round as a literal
    und, two_m = gather_table(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .select(F.col("src").alias("v"), F.col("dst").alias("u")),
        "u",
    )

    deg = (
        und.groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )

    def step(r: int, labels: DataFrame, ckpt):
        lab = labels.select("id", "c")
        tot = (
            lab.join(deg, "id")
            .groupBy(F.col("c").alias("comm"))
            .agg(F.sum("deg").cast("long").alias("tot"))
        )
        # k_{v,c}: edges from v into each neighboring community
        kvc = (
            und.join(lab.select(F.col("id").alias("u"), F.col("c").alias("comm")), "u")
            .groupBy("v", "comm")
            .agg(F.count(F.lit(1)).cast("long").alias("kv"))
        )
        # seed each vertex's own community with kv=0 when absent
        cand = (
            kvc.join(
                lab.select(F.col("id").alias("v"), F.col("c").alias("comm")),
                ["v", "comm"],
                "full_outer",
            )
            .select("v", "comm", F.coalesce("kv", F.lit(0)).alias("kv"))
        )
        scored = (
            cand.join(deg.select(F.col("id").alias("v"), "deg"), "v")
            .join(F.broadcast(tot), "comm")
            .join(lab.select(F.col("id").alias("v"), F.col("c").alias("cur")), "v")
            .select(
                "v",
                "comm",
                "cur",
                (
                    F.lit(two_m) * F.col("kv")
                    - F.col("deg")
                    * (
                        F.col("tot")
                        - F.when(F.col("comm") == F.col("cur"), F.col("deg")).otherwise(
                            F.lit(0)
                        )
                    )
                )
                .cast("long")
                .alias("score"),
            )
        )
        mx = scored.groupBy("v").agg(F.max("score").alias("smax"))
        best = (
            scored.join(mx, "v")
            .where(F.col("score") == F.col("smax"))
            .groupBy("v", "smax")
            .agg(F.min("comm").alias("bcomm"))
        )
        stay = scored.where(F.col("comm") == F.col("cur")).select(
            "v", F.col("score").alias("s_stay")
        )
        labels = (
            lab.join(best.select(F.col("v").alias("id"), "smax", "bcomm"), "id")
            .join(stay.select(F.col("v").alias("id"), "s_stay"), "id")
            .select(
                "id",
                F.when(
                    (F.col("smax") > F.col("s_stay"))
                    & (F.pmod(F.col("id"), F.lit(2)) == F.lit(r % 2)),
                    F.col("bcomm"),
                )
                .otherwise(F.col("c"))
                .alias("c"),
            )
            .repartition(n_part, "id")
            .transform(ckpt.cut)  # one action per round
        )
        n_comms = labels.select("c").distinct().count()
        return labels, {"n_communities": n_comms}

    loop = superstep.run(
        step,
        lambda: deg.select("id", F.col("id").alias("c")),
        spark=spark,
        max_iter=rounds,
        key="round",
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: snap.repartition(n_part, "id").localCheckpoint(
            eager=True
        ),
        result=lambda s: s.select("id", F.col("c").cast("long").alias("community")),
    )
    und.unpersist()
    return LouvainResult(labels=loop.result, rounds=rounds, history=loop.history)
