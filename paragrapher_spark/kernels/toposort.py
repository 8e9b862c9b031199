"""Topological levels — longest-path build order over a DAG.

The natural follow-up query to SCC condensation on the north-rule import
graph (kernels/scc.py): once cyclic imports are collapsed, "in what order
do I build these modules?" is the longest-path level of each condensation
node — level 0 = no dependencies, level L = some dependency chain of
length L ends here. Every classic build system (make, bazel, cargo)
schedules exactly these levels as its parallel waves; the reference has no
such client (its workloads are degree/WCC/converters) so this EXCEEDS it
the same way SCC does.

Algorithm: synchronous longest-path relaxation —

    lvl_0(v) = 0
    lvl_{t+1}(v) = max(lvl_t(v), 1 + max over in-neighbors u of lvl_t(u))

On a DAG this is monotone non-decreasing and reaches the exact longest-path
level of every vertex after depth(DAG) rounds (each round settles one more
level of the deepest chain). ALL-INTEGER, so a DuckDB oracle unrolled to
the same round count reproduces it bit-for-bit.

Loud-failure contract: any level exceeding |V| proves a cycle (a simple
path cannot revisit a vertex) -> ValueError naming the cycle; running out
of ``max_rounds`` without a fixpoint raises too (deeper DAG than the
caller unrolled for — raise max_rounds). Never silently truncates.

100 TB shape: one shuffle join + one map-side-combinable max per round
over an edge table repartitioned + sorted once before caching; driver
state O(1) scalars; one action per round (the convergence probe
materializes the round's checkpoint).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep


@dataclass
class TopoResult:
    levels: DataFrame  # (id, level) — exact longest-path level, 0-based
    rounds: int
    depth: int  # max level = number of build waves minus 1
    history: list[dict[str, Any]] = field(default_factory=list)


def topo_levels(
    edges: DataFrame,
    max_rounds: int = 64,
    num_partitions: int | None = None,
) -> TopoResult:
    """Longest-path level per vertex of the DAG edges(src, dst), src -> dst
    meaning "dst depends on src" (dst builds after src)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()

    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )
    n_vertices = vertices.count()

    def step(rnd: int, state, ckpt):
        lvl = state[0]
        cand = (
            e.join(lvl.select(F.col("id").alias("src"), "level"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("level") + F.lit(1)).alias("cand"))
        )
        nxt = (
            lvl.join(cand, on="id", how="left")
            .select(
                "id",
                F.greatest(F.col("level"), F.coalesce(F.col("cand"), F.lit(0))).alias(
                    "new_level"
                ),
                (F.coalesce(F.col("cand"), F.lit(0)) > F.col("level"))
                .cast("long")
                .alias("chg"),
            )
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: materializes the checkpoint and returns the
        # change count + running max level for the cycle guard
        row = nxt.agg(
            F.sum("chg").alias("changed"), F.max("new_level").alias("max_level")
        ).collect()[0]
        changed, max_level = int(row["changed"]), int(row["max_level"])
        if max_level > n_vertices:
            raise ValueError(
                f"topo_levels: level {max_level} exceeds |V|={n_vertices} — "
                f"the input graph has a cycle; condense SCCs first "
                f"(kernels/scc.py)"
            )
        lvl = nxt.select("id", F.col("new_level").alias("level"))
        return (lvl, changed), {"changed": changed, "max_level": max_level}

    loop = superstep.run(
        step,
        (vertices.select("id", F.lit(0).cast("long").alias("level")), None),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[1] == 0,
        result=lambda s: s[0],
    )
    if not loop.done:
        raise ValueError(
            f"topo_levels did not reach a fixpoint in {max_rounds} rounds "
            f"(DAG deeper than max_rounds, or cyclic input); raise max_rounds"
        )
    e.unpersist()
    return TopoResult(
        levels=loop.result,
        rounds=loop.last,
        depth=loop.history[-1]["max_level"],
        history=loop.history,
    )
