"""Greedy graph coloring — deterministic Jones–Plassmann rounds.

The scheduling complement of MIS (kernels/mis.py): a proper vertex
coloring partitions a link graph into conflict-free waves (register
allocation, parallel scheduling, timetabling — the classic applications of
Jones & Plassmann, "A parallel graph coloring heuristic", SIAM J. Sci.
Comput. 14(3), 1993). The reference ships no coloring client (its bundled
workloads are degree/WCC/converters) — this EXCEEDS it the same way
MIS/k-truss do.

Determinism contract: vertices carry the repo's fixed md5 priority
(`sources/corpus.py:58-80` hash family, totally ordered by (h, id)). A
vertex is colored in the round after ALL its lower-priority neighbors are
colored, and picks the SMALLEST positive color unused by them. The result
is exactly the SEQUENTIAL greedy coloring over vertices sorted by (h, id)
— so a pure-python replay and a DuckDB unrolled-CTE replay reproduce every
(id, color) pair bit-for-bit, and the color count is bounded by
max_degree + 1 (the greedy invariant, asserted in tests).

Min-gap without series generation: the smallest positive integer missing
from a used-color set S is min over ({1} union {c+1 : c in S}) of the
values not in S — a candidates/anti-join shape both engines express
relationally (Spark: one array expression over the collect_set, bounded by
degree; DuckDB: a UNION ALL + anti-join per unrolled round).

Scale shape (100 TB): the lower-priority adjacency is materialized ONCE
(static across rounds); each round is one semi-join (readiness = no
undecided lower neighbor), one join + collect_set over ready vertices
only (bounded by degree — the same bound every triangle/linkpred kernel
already carries), and one action. Round count = longest path of the
priority-oriented DAG — O(log n / log log n) for random priorities on
bounded-degree graphs (the Jones–Plassmann analysis). Loud
non-convergence at ``max_rounds``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.kernels.mis import _h
from paragrapher_spark.plans import superstep

SEED = 42


@dataclass
class ColoringResult:
    colors: DataFrame  # (id, color) — 1-based greedy colors
    rounds: int
    n_colors: int
    history: list[dict[str, Any]] = field(default_factory=list)


def greedy_coloring(
    edges: DataFrame,
    seed: int = SEED,
    max_rounds: int = 200,
    num_partitions: int | None = None,
) -> ColoringResult:
    """Sequential-greedy-equivalent coloring of the canonical undirected
    simple graph underlying ``edges(src, dst)`` (vertex set = edge
    endpoints; isolated vertices are trivially color 1 and passed through
    by the caller if needed)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    pri = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .distinct()
        .select("id", _h("color", seed, "id").alias("h"))
    )
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    # lower-priority adjacency, materialized ONCE: (v, u) where u is a
    # neighbor of v with (h_u, u) < (h_v, v)
    ladj = (
        sym.join(pri.select(F.col("id").alias("v"), F.col("h").alias("hv")), "v")
        .join(pri.select(F.col("id").alias("u"), F.col("h").alias("hu")), "u")
        .where(
            F.struct(F.col("hu").alias("h"), F.col("u").alias("id"))
            < F.struct(F.col("hv").alias("h"), F.col("v").alias("id"))
        )
        .select("v", "u")
        .repartition(n_part, "v")
        .sortWithinPartitions("v")
        .persist()
    )
    ladj.count()

    undecided = pri.select("id").repartition(n_part, "id").localCheckpoint(
        eager=True
    )

    def step(rnd: int, state, ckpt):
        undecided, colored, _ = state
        # ready = undecided vertices with NO undecided lower neighbor
        blocked = (
            ladj.join(undecided.withColumnRenamed("id", "u"), on="u", how="left_semi")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        ready = undecided.join(blocked, on="id", how="left_anti")
        used = (
            ladj.join(ready.withColumnRenamed("id", "v"), on="v", how="left_semi")
            .join(colored.withColumnRenamed("id", "u"), on="u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.collect_set("color").alias("s"))
        )
        # min-gap: smallest k in {1} ∪ {c+1 : c ∈ s} with k ∉ s
        picked = (
            ready.join(used, on="id", how="left")
            .select(
                "id",
                F.when(F.col("s").isNull(), F.lit(1))
                .otherwise(
                    F.array_min(
                        F.filter(
                            F.array_union(
                                F.array(F.lit(1)),
                                F.transform("s", lambda c: c + F.lit(1)),
                            ),
                            lambda k: ~F.array_contains("s", k),
                        )
                    )
                )
                .cast("int")
                .alias("color"),
            )
            .transform(ckpt.cut_lazy)
        )
        undecided = (
            undecided.join(picked, on="id", how="left_anti")
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: materializes picked + next undecided
        n_left = undecided.count()
        colored = colored.unionByName(picked)
        return (undecided, colored, n_left), {"undecided": n_left}

    loop = superstep.run(
        step,
        (undecided, spark.createDataFrame([], "id long, color int"), undecided.count()),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2] == 0,
        result=lambda s: s[1].select("id", F.col("color").cast("long").alias("color")),
    )
    ladj.unpersist()
    if not loop.done:
        raise RuntimeError(
            f"coloring did not converge within max_rounds={max_rounds} "
            f"({loop.state[2]} vertices still undecided) — raise max_rounds"
        )
    colors = loop.result
    n_colors = colors.agg(F.max("color")).collect()[0][0] or 0
    return ColoringResult(
        colors=colors,
        rounds=loop.last,
        n_colors=int(n_colors),
        history=loop.history,
    )
