"""Densest subgraph — the (2+2ε)-approximation peel of Bahmani, Kumar &
Vassilvitskii (VLDB 2012, "Densest subgraph in streaming and MapReduce"),
THE dataflow-native formulation of Charikar's greedy peel: each round
removes EVERY vertex whose current degree is at most (1+ε)·avg-degree,
shrinking the vertex set geometrically — O(log_{1+ε} |V|) rounds instead
of Charikar's |V| sequential min-degree pops. The densest prefix of the
peel is returned.

All comparisons are exact integers: ε is a rational num/den, the removal
test `deg ≤ (1+ε)·2m/n` is cross-multiplied to
`deg·n·den ≤ 2·m·(den+num)`, and the running density argmax
`m/n > m*/n*` to `m·n* > m*·n` — no float anywhere, so a SQL oracle
replays the peel bit-for-bit (the kcore/ktruss unroll pattern).

100 TB shape (the paper's own point): per round one degree aggregation
(map-side combinable) + two semi-joins over the shrinking edge set; ONE
driver action per round collecting two scalars (n, 2m); lineage bounded
by non-eager localCheckpoints materialized by that same action. S is the
non-isolated vertex set of the induced subgraph — a vertex leaves the
moment its last edge dies, which only ever removes density-lowering
members (isolated vertices never belong to a densest subgraph).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep


@dataclass
class DensestResult:
    members: DataFrame  # (id) — vertices of the densest peel prefix
    best_m: int  # edges of the returned subgraph
    best_n: int  # vertices of the returned subgraph
    best_round: int  # 0 = the full graph was densest
    rounds: int  # peel rounds executed
    history: list[dict[str, Any]] = field(default_factory=list)


def densest_subgraph(
    edges: DataFrame,
    eps_num: int = 1,
    eps_den: int = 2,
    max_rounds: int = 100,
) -> DensestResult:
    """Densest-subgraph peel over the undirected simple graph underlying
    edges(src, dst). Guarantees density ≥ OPT / (2(1+ε)), ε = num/den.
    Ties in the density argmax keep the EARLIEST round (the larger
    subgraph), matching the SQL oracle's NOT-EXISTS-strictly-better rule.
    """
    if eps_num < 0 or eps_den <= 0:
        raise ValueError(f"invalid epsilon {eps_num}/{eps_den}")
    spark = edges.sparkSession
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def step(rnd: int, state, ckpt):
        e, _, best = state
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .transform(ckpt.cut_lazy)
        )
        # the round's ONE action: n and 2m in a single two-scalar collect
        # (materializes both checkpoints: this round's e and deg)
        row = deg.agg(
            F.count(F.lit(1)).alias("n"), F.sum("deg").alias("deg2")
        ).collect()[0]
        n = int(row["n"] or 0)
        m = int(row["deg2"] or 0) // 2
        if n == 0:
            return (e, 0, best), {"n": n, "m": m}
        # exact rational argmax, strict improvement keeps the earliest tie
        best_m, best_n, _, best_members = best
        if m * best_n > best_m * n or best_members is None:
            best = (m, n, rnd, deg.select("id"))
        # peel: drop v with deg·n·den ≤ 2·m·(den + num); the min-degree
        # vertex always qualifies, so the set strictly shrinks each round
        keep = deg.where(
            F.col("deg") * F.lit(n) * F.lit(eps_den)
            > F.lit(2 * m * (eps_den + eps_num))
        ).select("id")
        e = (
            e.join(keep.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(keep.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
            .transform(ckpt.cut_lazy)
        )
        return (e, n, best), {"n": n, "m": m}

    # state: (edges, n, best) with best = (m, n, round, members) of the
    # densest peel prefix so far; round 0 measures the full graph
    loop = superstep.run(
        step,
        (e, None, (0, 0, 0, None)),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[1] == 0,
        result=lambda s: s[2][3]
        if s[2][3] is not None
        else spark.createDataFrame([], "id long"),  # edgeless input
        start=-1,
    )
    best_m, best_n, best_round, _ = loop.state[2]
    # the round that found the graph empty peeled nothing
    rounds = max(loop.last - 1, 0) if loop.done else loop.last
    return DensestResult(
        members=loop.result,
        best_m=best_m,
        best_n=best_n,
        best_round=best_round,
        rounds=rounds,
        history=loop.history,
    )
