"""k-truss decomposition: peel edges by triangle support to a fixpoint.

The cohesive-subgraph companion to k-core (Cohen, "Trusses: cohesive
subgraphs for social network analysis", NSA TR 2008; distributed rounds
as in Wang & Cheng, "Truss decomposition in massive networks", VLDB'12):
the k-truss is the maximal subgraph in which every edge lies on at least
``k-2`` triangles *of that subgraph*. Same extension family as the north
rule's kernel quartet around the reference's loader clients
(`test/test1_deg_dist_WG400.c`, `test/test2_jtcc_WG400.c` are one-pass
analytics over the loaded graph; truss peeling is the standard next rung
above the k-core robustness analytic).

Each round recounts per-edge support with the degree-oriented triangle
listing (Suri & Vassilvitskii WWW'11 — oriented out-degree capped at
O(sqrt |E|), so wedge fan-out is bounded on hubs, the same power-law skew
the reference's edge-balanced blocks address, `src/webgraph.c:957-971`)
and drops edges below ``k-2``. All integer arithmetic — no tie ambiguity,
bit-reproducible, DuckDB-replayable by unrolling rounds (peeling is
idempotent at the fixpoint, so over-unrolling is exact).

Scale shape (100 TB): the edge set only shrinks; per round the cost is
the triangle listing of the CURRENT subgraph (two equi-joins, no
cartesian), support aggregation is map-side combinable on (a, b), one
action per round (the kcore/PageRank discipline), non-eager
localCheckpoint bounds lineage. Unconverged at ``max_rounds`` fails
LOUDLY rather than returning a partial truss.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class KTrussResult:
    edges: DataFrame  # (a, b, support) — truss edges, a < b, fixpoint support
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def _support(und: DataFrame) -> DataFrame:
    """(a, b, support): triangles through each canonical undirected edge.

    Degree-oriented listing — every triangle found exactly once at its
    lowest-(degree, id) apex, then credited to all three of its edges.
    """
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = und.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    o = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )
    x = o.select(
        F.col("src").alias("apex"), F.col("dst").alias("v"), F.col("ddeg").alias("vdeg")
    )
    y = o.select(
        F.col("src").alias("apex"), F.col("dst").alias("w"), F.col("ddeg").alias("wdeg")
    )
    wedges = x.join(y, on="apex").where(
        F.struct(F.col("vdeg"), F.col("v")) < F.struct(F.col("wdeg"), F.col("w"))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, on=["v", "w"]).select("apex", "v", "w")

    def _edge(u: str, v: str) -> F.Column:
        return F.struct(
            F.least(F.col(u), F.col(v)).alias("a"),
            F.greatest(F.col(u), F.col(v)).alias("b"),
        )

    credits = tris.select(
        F.explode(
            F.array(_edge("apex", "v"), _edge("apex", "w"), _edge("v", "w"))
        ).alias("e")
    ).select("e.a", "e.b")
    return credits.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


def ktruss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> KTrussResult:
    """k-truss of the undirected simple graph underlying ``edges(src, dst)``.

    Returns the surviving canonical edges with their FIXPOINT support
    (the support recomputed in the terminating round — no edge was removed
    in it, so these are the k-truss subgraph's own triangle counts).

    Resumable: the surviving (a, b, support) edge set IS the whole loop
    state, so the checkpoint payload is one table; a resumed run re-peels
    from it (the support recount is a pure function of the edge set) and
    converges to the identical truss.
    """
    if k < 2:
        raise ValueError(f"k-truss needs k >= 2, got k={k}")
    spark = edges.sparkSession

    def _restore(_: int, snap: DataFrame):
        kept = snap.localCheckpoint(eager=True)
        return kept, kept.count(), False

    def step(rnd: int, state, ckpt):
        kept, prev_m, _ = state
        e = kept.select("a", "b")
        kept = (
            e.join(_support(e), on=["a", "b"], how="left")
            .select(
                "a", "b", F.coalesce("support", F.lit(0)).cast("long").alias("support")
            )
            .where(F.col("support") >= k - 2)
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: the count below materializes the kept-edge
        # checkpoint and doubles as the fixpoint detector — peeling
        # strictly decreases the edge count until the truss is stable.
        m = kept.count()
        return (kept, m, m == 0 or m == prev_m), {"edges": m}

    loop = superstep.run(
        step,
        lambda: (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=False)
            .select("a", "b", F.lit(0).cast("long").alias("support")),
            None,
            False,
        ),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2],
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=_restore,
        snapshot=lambda s: s[0],
        result=lambda s: s[0],
    )
    if not loop.done:
        raise RuntimeError(
            f"k-truss did not converge within max_rounds={max_rounds} "
            f"({loop.state[1]} edges still peeling) — raise max_rounds"
        )
    return KTrussResult(edges=loop.result, rounds=loop.last, history=loop.history)
