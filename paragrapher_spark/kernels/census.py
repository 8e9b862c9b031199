"""Directed dyad census and triad-motif counts.

The reference's descriptive battery stops at degrees and components
(`test/test1_deg_dist_WG400.c`, `test/test2_jtcc_WG400.c`); the classical
next rung of link-graph descriptives is the Holland–Leinhardt census
family ("A method for detecting structure in sociometric data", AJS 1970):
how many vertex PAIRS are mutual / asymmetric / unconnected, and how many
ordered length-2 paths close transitively vs cyclically. Web-graph papers
report exactly these (e.g. reciprocity of the web ≈ 0.25, transitive-vs-
cyclic triad skew) over the same WebGraph datasets the reference loads
(paper Table 3) — so the kernels run on directed edges(src, dst) as-is.

Determinism contract: every output column is an exact long (counts, or a
count-derived integer); the cross-engine gate compares bit-exactly.

Scale shape (100 TB):

- ``dyad_census`` is two grouped counts over the canonicalized pair table
  — one shuffle on the unordered pair key, map-side combinable; the null
  count is closed-form n·(n−1)/2 − observed (no complement join ever).
- ``triad_motifs`` joins the edge table to itself on the path midpoint
  (fan-out = in·out degree product per midpoint, the same wedge curse the
  triangle kernel documents) and then closes each wedge with ONE more
  equi-join probe. A loud ``max_mid_degree`` hub cap bounds the wedge
  blow-up exactly like linkpred's ``max_center_degree``; the cyclic count
  divides the closing-triple count by 3 with integer DIV (each directed
  3-cycle closes at all 3 midpoints — exact, no remainder possible).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs


def dyad_census(edges: DataFrame, n_vertices: int) -> DataFrame:
    """One row (n_vertices, mutual, asym, null_dyads) of exact longs.

    A dyad {u,v} is *mutual* when both u→v and v→u exist, *asymmetric*
    when exactly one does, *null* otherwise; null is computed closed-form
    from ``n_vertices`` (the caller names the vertex universe — isolated
    vertices leave no trace in an edge table).
    """
    e = arcs(edges, directed=True)
    pair = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    )
    per_pair = pair.groupBy("a", "b").agg(F.count(F.lit(1)).alias("k"))
    counts = per_pair.agg(
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0)).alias("mutual"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("asym"),
    )
    total_pairs = n_vertices * (n_vertices - 1) // 2
    return counts.select(
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.coalesce(F.col("mutual"), F.lit(0)).cast("long").alias("mutual"),
        F.coalesce(F.col("asym"), F.lit(0)).cast("long").alias("asym"),
        (
            F.lit(total_pairs)
            - F.coalesce(F.col("mutual"), F.lit(0))
            - F.coalesce(F.col("asym"), F.lit(0))
        )
        .cast("long")
        .alias("null_dyads"),
    )


@dataclass
class TriadMotifsResult:
    motifs: DataFrame  # one row (n_paths2, n_transitive, n_cyclic)
    n_dropped_mids: int  # hub midpoints excluded by max_mid_degree


def triad_motifs(
    edges: DataFrame, max_mid_degree: int | None = None
) -> TriadMotifsResult:
    """Count directed length-2 paths and their closures, one exact row:

    - ``n_paths2``:     ordered u→v→w with u≠w (wedges through v)
    - ``n_transitive``: wedges where the shortcut u→w also exists
    - ``n_cyclic``:     directed 3-cycles, each counted ONCE
                        (closing-triple count DIV 3)

    Hub midpoints with in·out work above ``max_mid_degree`` (compared
    against max(in_deg, out_deg)) are excluded LOUDLY via the returned
    ``n_dropped_mids`` — the same bounded-blow-up contract as
    linkpred/dedup caps.
    """
    e = arcs(edges, directed=True).persist()
    try:
        left = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        right = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        n_dropped = 0
        if max_mid_degree is not None:
            ind = e.groupBy(F.col("dst").alias("v")).agg(
                F.count(F.lit(1)).alias("i")
            )
            outd = e.groupBy(F.col("src").alias("v")).agg(
                F.count(F.lit(1)).alias("o")
            )
            deg = ind.join(outd, "v", "outer").select(
                "v",
                F.greatest(
                    F.coalesce("i", F.lit(0)), F.coalesce("o", F.lit(0))
                ).alias("d"),
            )
            hot = deg.where(F.col("d") > max_mid_degree)
            n_dropped = hot.count()
            keep = deg.where(F.col("d") <= max_mid_degree).select("v")
            left = left.join(keep, "v")
            right = right.join(keep, "v")
        wedges = (
            left.join(right, "v")
            .where(F.col("u") != F.col("w"))
            .select("u", "v", "w")
        )
        closed = wedges.join(
            e.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            ["u", "w"],
            "left_semi",
        )
        cyc = wedges.join(
            e.select(F.col("src").alias("w"), F.col("dst").alias("u")),
            ["u", "w"],
            "left_semi",
        )
        motifs = (
            wedges.agg(F.count(F.lit(1)).alias("n_paths2"))
            .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_transitive")))
            .crossJoin(cyc.agg(F.count(F.lit(1)).alias("n_closing")))
            .select(
                F.col("n_paths2").cast("long"),
                F.col("n_transitive").cast("long"),
                F.expr("n_closing DIV 3").cast("long").alias("n_cyclic"),
            )
        )
        # collected, so the persisted arcs are released before returning
        row = motifs.collect()
    finally:
        e.unpersist()
    motifs = edges.sparkSession.createDataFrame(row, motifs.schema)
    return TriadMotifsResult(motifs=motifs, n_dropped_mids=n_dropped)
