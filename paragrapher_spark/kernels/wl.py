"""Weisfeiler–Leman (1-WL) color refinement — the canonical structural
fingerprint of a graph's vertices (Weisfeiler & Leman 1968; Shervashidze
et al. JMLR 2011 "Weisfeiler-Lehman graph kernels"): start from degree
colors, then repeatedly replace each vertex's color with a canonical id
for the pair (own color, sorted multiset of neighbor colors). Two
vertices that 1-WL distinguishes are structurally different; the stable
coloring is the standard graph-kernel feature and the orbit partition
most code-graph dedup/similarity pipelines use.

Determinism/gating: the relabeling is a GLOBAL dense rank over the
distinct (color, neighbor-signature) pairs ordered by (numeric color,
signature string) — computed with the two-phase distributed ranker
(operators/indexing.py:dense_ids — per-partition counts + prefix bases,
O(#partitions) driver work, NO single-partition window), so ids are
canonical 0..C-1 and a SQL oracle reproduces them with DENSE_RANK() over
the same order. Neighbor multisets serialize as comma-joined sorted
numerics — Spark sort_array and SQL string_agg(ORDER BY color) agree.

100 TB shape: per round one |E| equi-join (neighbor colors), one
map-side-combinable collect_list agg keyed by vertex, and the dense_ids
pass over the DISTINCT color classes (at most |V|, usually far smaller).
Isolated vertices never enter (no neighbor multiset, no edges) — stated
contract, same as the peel kernels.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs
from paragrapher_spark.operators.indexing import dense_ids
from paragrapher_spark.plans import superstep


@dataclass
class WLResult:
    colors: DataFrame  # (id, color) — canonical 0..C-1 after `rounds`
    n_colors: int  # color classes in the final round
    rounds: int
    stable: bool  # True if the partition stopped refining before `rounds`
    history: list[dict[str, Any]] = field(default_factory=list)


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
) -> WLResult:
    """1-WL refinement over the undirected simple graph underlying
    edges(src, dst), exactly ``rounds`` rounds from degree colors.
    Refinement is monotone — once the class count stops growing the
    partition is stable and further rounds relabel it identically (the
    canonical rank order is preserved), so fixed-round results gate
    bit-for-bit even past stabilization."""
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sym = arcs(edges, directed=False).toDF("v", "u").localCheckpoint(eager=False)
    colors = (
        sym.groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).alias("color"))
        .localCheckpoint(eager=False)
    )

    def step(r: int, state, ckpt):
        colors, prev_c, _ = state
        nsig = (
            sym.join(colors.select(F.col("id").alias("u"), "color"), on="u")
            .groupBy(F.col("v").alias("id"))
            .agg(
                F.concat_ws(",", F.sort_array(F.collect_list("color"))).alias("nsig")
            )
        )
        combined = colors.join(nsig, on="id")
        mapping = dense_ids(
            combined.select("color", "nsig"),
            ["color", "nsig"],
            id_col="new_color",
            num_partitions=n_part,
        )
        colors = (
            combined.join(mapping, on=["color", "nsig"])
            .select("id", F.col("new_color").alias("color"))
            .transform(ckpt.cut_lazy)
        )
        n_colors = mapping.count()
        # an unchanged class count means the partition is a fixpoint; ids
        # are already canonical
        return (colors, n_colors, n_colors == prev_c), {"n_colors": n_colors}

    loop = superstep.run(
        step,
        (colors, None, False),
        spark=edges.sparkSession,
        max_iter=rounds,
        key="round",
        done=lambda s: s[2],
        result=lambda s: s[0],
    )
    return WLResult(
        colors=loop.result,
        n_colors=loop.state[1] or 0,
        rounds=loop.last,
        stable=loop.done,
        history=loop.history,
    )
