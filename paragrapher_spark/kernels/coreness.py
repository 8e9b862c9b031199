"""Full core decomposition: the core number of EVERY vertex at once.

Completes `kernels/kcore.py` (membership of one k-core, the reference's
robustness analytic over loaded graphs — same client-kernel family as
`test/test1_deg_dist_WG400.c` / `test/test2_jtcc_WG400.c`): instead of
peeling for a single k, iterate the neighborhood H-index operator

    c_0(v)   = deg(v)
    c_t+1(v) = H({ c_t(u) : u in N(v) })

where ``H`` is the largest ``k`` such that at least ``k`` neighbors have
value >= ``k``. Starting from degrees the sequence is pointwise
non-increasing and converges exactly to the coreness (Lu, Zhou, Zhang,
Stanley, "The H-index of a network node and its relation to degree and
coreness", Nature Communications 2016; distributed formulation per
Montresor, De Pellegrini, Miorandi, "Distributed k-core decomposition",
PODC'11). All-integer, no tie ambiguity — bit-reproducible and
DuckDB-replayable by unrolling rounds (the operator is idempotent at the
fixpoint, so over-unrolling is exact).

Scale shape (100 TB): per round ONE equi-join (neighbor values onto the
static adjacency) + one per-vertex H-index aggregation. The H-index is
computed with a window ``row_number`` partitioned by vertex — partition
width is bounded by max degree, and the adjacency is cached once
(``graph.gather_table``) and reused every round, so per-round cost is one
shuffle pair on |E| rows. Convergence check rides the round's single
action (count of changed vertices). Unconverged at ``max_rounds`` fails
LOUDLY rather than returning a partial decomposition.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs, gather_table
from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class CorenessResult:
    vertices: DataFrame  # (id, coreness)
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def coreness(
    edges: DataFrame,
    max_rounds: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> CorenessResult:
    """Core number of every vertex of the undirected simple graph
    underlying ``edges(src, dst)``. Self-loops dropped, directions and
    duplicate arcs collapsed (same canonicalization as kcore/ktruss).

    Resumable like the other supersteps (the reference's buffer-status
    protocol reified, `src/webgraph.c:29-35`): the (id, c) state is the
    checkpoint payload, and any round can restart from the manifest —
    the H-index operator is a pure function of the persisted state, so
    a resumed run converges to the identical fixpoint."""
    spark = edges.sparkSession
    adj, _ = gather_table(arcs(edges, directed=False).toDF("v", "u"), "u")

    def step(rnd: int, state, ckpt):
        cur, _ = state
        ranked = adj.join(
            cur.select(F.col("id").alias("u"), F.col("c").alias("cu")), on="u"
        ).select(
            "v",
            "cu",
            F.row_number()
            .over(Window.partitionBy("v").orderBy(F.desc("cu"), F.asc("u")))
            .alias("rn"),
        )
        nxt = ranked.groupBy(F.col("v").alias("id")).agg(
            F.coalesce(
                F.max(F.when(F.col("cu") >= F.col("rn"), F.col("rn"))), F.lit(0)
            )
            .cast("long")
            .alias("c")
        ).transform(ckpt.cut_lazy)
        # ONE action per round: materializes the new values AND detects the
        # fixpoint (the operator is pointwise non-increasing from degrees,
        # so "no vertex changed" == converged to the coreness).
        changed = (
            nxt.join(cur.select(F.col("id"), F.col("c").alias("c_prev")), on="id")
            .where(F.col("c") != F.col("c_prev"))
            .count()
        )
        return (nxt, changed), {"changed": changed}

    loop = superstep.run(
        step,
        lambda: (
            adj.groupBy(F.col("v").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint(eager=False),
            None,
        ),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[1] == 0,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: (snap.localCheckpoint(eager=True), None),
        snapshot=lambda s: s[0],
        result=lambda s: s[0].select("id", F.col("c").alias("coreness")),
    )
    adj.unpersist()
    if not loop.done:
        raise RuntimeError(
            f"coreness H-index iteration did not converge within "
            f"max_rounds={max_rounds} — raise max_rounds"
        )
    return CorenessResult(
        vertices=loop.result, rounds=loop.last, history=loop.history
    )
