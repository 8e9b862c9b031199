"""k-core: iterative peeling to the maximal subgraph of min-degree >= k.

Standard link-graph robustness analytic (not a reference client, same
extension family as PageRank/LP in the north rule's kernel set). Peeling is
the canonical dataflow formulation: repeatedly drop vertices whose degree
in the CURRENT subgraph is < k until a fixpoint; what survives is the
k-core. Each round is one degree aggregation + two semi-joins over the
shrinking edge set — map-side-combinable, no driver-side vertex state,
localCheckpoint bounds lineage (single-action-per-round discipline: the
surviving-EDGE count materializes the non-eager checkpoint and doubles as
the fixpoint detector — peeling strictly decreases the edge count until
the vertex set is stable).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import undirected_degrees, undirected_pairs, vertex_ids
from paragrapher_spark.plans import superstep


@dataclass
class KCoreResult:
    vertices: DataFrame  # (id) — members of the k-core
    edges: DataFrame  # (src, dst) — induced undirected edges, src < dst
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def kcore(edges: DataFrame, k: int, max_rounds: int = 100) -> KCoreResult:
    """k-core of the undirected simple graph underlying edges(src, dst)."""
    e = undirected_pairs(edges).localCheckpoint(eager=False)

    def step(rnd: int, state, ckpt):
        e, prev_m, _ = state
        deg = undirected_degrees(e)
        keep = deg.where(F.col("deg") >= k).select("id")
        # ONE action per round (the PageRank discipline): the filtered edge
        # set rides a non-eager localCheckpoint materialized by the count
        # below. Fixpoint detection on EDGE count — removing any vertex
        # removes >= 1 of its incident edges, so the edge count strictly
        # decreases until (and exactly until) the vertex set is stable.
        e = (
            e.join(keep.withColumnRenamed("id", "a"), on="a", how="left_semi")
            .join(keep.withColumnRenamed("id", "b"), on="b", how="left_semi")
            .transform(ckpt.cut_lazy)
        )
        m = e.count()
        return (e, m, m == prev_m or m == 0), {"edges": m}

    def _core(state) -> tuple[DataFrame, DataFrame]:
        e = state[0].toDF("src", "dst")
        return vertex_ids(e), e

    loop = superstep.run(
        step,
        (e, None, False),
        spark=edges.sparkSession,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2],
        result=_core,
    )
    verts, e = loop.result
    return KCoreResult(vertices=verts, edges=e, rounds=loop.last, history=loop.history)
