"""Exact triangle counting via degree orientation + wedge closure.

Not a reference client workload, but part of the north rule's quartet.
The classic shuffle-native exact algorithm (cf. Suri & Vassilvitskii,
"Counting Triangles and the Curse of the Last Reducer", WWW'11 — the
power-law mitigation the north rule demands):

1. canonicalize to undirected distinct edges,
2. orient every edge from the endpoint with smaller (degree, id) to the
   larger — caps oriented out-degree at O(sqrt(|E|)), so the wedge
   self-join's fan-out is bounded even on hub vertices (the same skew the
   reference's edge-balanced blocks address, `src/webgraph.c:957-971`),
3. wedges = oriented ⋈ oriented on the apex, ordered by (degree, id) to
   count each wedge once,
4. close each wedge against the oriented edge set — every triangle is
   counted exactly once, at its lowest-(degree,id) apex.

Joins: the closure join is a join of the wedge set against the edge set on
the full (v, w) pair — equi-join on two columns, sort-merge/shuffle-hash;
AQE skew-split applies. No Python in the path; whole-stage codegen
throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs, undirected_degrees, undirected_pairs
from paragrapher_spark.operators.salting import hub_cap


def _oriented(und: DataFrame) -> DataFrame:
    """(src, dst, ddeg) from a canonical ``(a, b)`` pair frame: src -> dst
    iff (deg, id) of src < of dst."""
    deg = undirected_degrees(und)
    withdeg = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    )
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    return withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    )


def _listing(o: DataFrame) -> DataFrame:
    """(apex, v, w): wedges of the oriented frame ``o`` on their apex,
    ordered by (degree, id), closed against ``o`` — every triangle once,
    at its lowest-(degree, id) vertex."""
    x = o.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("v"),
        F.col("ddeg").alias("vdeg"),
    )
    y = o.select(
        F.col("src").alias("apex"),
        F.col("dst").alias("w"),
        F.col("ddeg").alias("wdeg"),
    )
    wedges = x.join(y, on="apex").where(
        F.struct(F.col("vdeg"), F.col("v")) < F.struct(F.col("wdeg"), F.col("w"))
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, on=["v", "w"]).select("apex", "v", "w")


def _support(und: DataFrame) -> DataFrame:
    """(a, b, support): triangles through each edge of a canonical
    ``(a, b)`` pair frame, for edges on at least one — each listed
    triangle credits its three edges in one ``explode`` pass."""

    def _edge(u: str, v: str) -> F.Column:
        return F.struct(
            F.least(F.col(u), F.col(v)).alias("a"),
            F.greatest(F.col(u), F.col(v)).alias("b"),
        )

    credits = _listing(_oriented(und)).select(
        F.explode(
            F.array(_edge("apex", "v"), _edge("apex", "w"), _edge("v", "w"))
        ).alias("e")
    ).select("e.a", "e.b")
    return credits.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles as (u, v, w) vertex triples, each exactly once."""
    return _listing(_oriented(undirected_pairs(edges)))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row (triangles: long) — global exact count. The count is
    collected so the persisted oriented frame is released before the
    one-row frame is returned."""
    o = _oriented(undirected_pairs(edges)).persist()
    try:
        o.count()
        counted = _listing(o).agg(F.count(F.lit(1)).alias("triangles"))
        return edges.sparkSession.createDataFrame(counted.collect(), counted.schema)
    finally:
        o.unpersist()


def triangles_per_vertex(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """(id, triangles) — per-vertex incident triangle counts; vertices with
    zero triangles included when ``vertices`` is given."""
    tris = triangles(edges)
    member = (
        tris.select(F.col("apex").alias("id"))
        .unionByName(tris.select(F.col("v").alias("id")))
        .unionByName(tris.select(F.col("w").alias("id")))
    )
    counts = member.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    if vertices is not None:
        counts = (
            vertices.select("id")
            .join(counts, on="id", how="left")
            .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        )
    return counts


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, degree, triangles, coeff): local clustering coefficient
    2*t(v) / (d(v)*(d(v)-1)) over the undirected simple graph, for every
    vertex with degree >= 2 (the denominator's domain). Composes the
    triangle kernel with the degree aggregation — one extra join."""
    deg = undirected_degrees(undirected_pairs(edges)).withColumnRenamed(
        "deg", "degree"
    )
    tri = triangles_per_vertex(edges)
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, on="id", how="left")
        .select(
            "id",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("coeff"),
        )
    )


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """(a, b, embeddedness): common-neighbor count per canonical undirected
    edge — the tie-strength / structural-embeddedness measure of Granovetter
    bridges (an edge with embeddedness 0 is a local bridge), equal to the
    number of triangles through the edge. Reuses the degree-oriented
    triangle enumeration (O(E^1.5) wedge fan-out, no cartesian): each
    (apex, v, w) triple credits its three edges, then a left join restores
    the zero-support edges the k-truss peel would discard.

    100 TB shape: the triangle kernel's two equi-joins + one map-side-
    combinable count + one left join on (a, b) — all shuffles keyed on
    edge endpoints, no skew beyond the triangle kernel's own (already
    orientation-capped)."""
    und = undirected_pairs(edges)
    return und.join(_support(und), on=["a", "b"], how="left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("embeddedness")
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """Single-row (triangles, wedges, transitivity): the GLOBAL clustering
    coefficient C = 3*T / W with W = sum over vertices of d(d-1)/2 (closed
    wedges over all wedges — Newman SIAM Rev. 2003 eq. 3). Exact longs
    (d(d-1)/2 is always integral) + ONE IEEE division, SQL-reproducible
    bit-for-bit. Cost: the triangle kernel + one degree aggregation."""
    deg = undirected_degrees(undirected_pairs(edges))
    # d(d-1) is always even: integer `div` keeps the whole sum in exact
    # long arithmetic (a double-sum would silently lose exactness past
    # 2^53 wedges — reachable at 100 TB hub degrees)
    wedges = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) div 2"))
        .cast("long")
        .alias("wedges")
    )
    tri = triangle_count(edges).select(F.col("triangles").cast("long"))
    return tri.crossJoin(wedges).select(
        "triangles",
        "wedges",
        (
            (F.lit(3).cast("long") * F.col("triangles")).cast("double")
            / F.col("wedges").cast("double")
        ).alias("transitivity"),
    )


def triangle_count_sampled(
    edges: DataFrame,
    fraction: float = 0.5,
    seed: int = 42,
    tag: str = "doulion",
) -> DataFrame:
    """DOULION approximate triangle count (Tsourakakis et al., KDD 2009):
    keep each canonical undirected edge with probability p via the
    repo's deterministic md5-threshold coin (operators/sampling.py — the
    same replayable hash family as every sampled query), exact-count
    triangles on the sparsified graph, scale by 1/p^3.

    Returns ONE row: ``sampled_triangles`` (exact long) and
    ``triangles_est`` = sampled * float(1/p^3) — ONE IEEE multiply of an
    exact long by a driver-computed constant (for p = 1/2 the scale is
    exactly 8.0, so even the estimate is exact in a second engine).

    Scale story: the sparsified graph has ~p*|E| edges, so the oriented
    wedge join's O(sqrt(E)) hub fan-out shrinks by p^1.5 — this is the
    100 TB path when the exact count's shuffle is the bottleneck; the
    coin is a pushed-down filter, so the scan prunes before any shuffle.
    """
    from fractions import Fraction

    from paragrapher_spark.operators.sampling import (
        HASH_SPACE,
        sample_hash,
        threshold_for,
    )

    und = undirected_pairs(edges).toDF("src", "dst")
    kept = sample_hash(und, fraction, ["src", "dst"], tag=tag, seed=seed)
    inv = Fraction(HASH_SPACE, threshold_for(fraction)) ** 3
    return triangle_count(kept).select(
        F.col("triangles").alias("sampled_triangles"),
        (F.col("triangles") * F.lit(float(inv))).alias("triangles_est"),
    )


def square_count(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Single-row (squares: long[, n_dropped_centers, n_dropped_wedges])
    — exact global 4-cycle (C4) count via the diagonal identity

        #C4 = (1/2) * sum over unordered vertex pairs {u,w} of C(lam, 2),
        lam = |common neighbors of u and w|

    (each square a-b-c-d is counted once per diagonal — {a,c} and {b,d} —
    hence the /2; the sum is provably even and every step is integer, so
    the result is exact, cf. Chiba & Nishizeki 1985 rectangle counting).

    Shape: wedge enumeration (adjacency self-joined on the center) +
    one pair aggregation — cost is sum(deg^2), the same last-reducer
    curse the triangle kernel's orientation dodges, but C4's diagonal
    pairs have no one-sided orientation trick that stays exact. The
    100 TB lever is ``max_center_degree``: hub centers above the cap are
    excluded from wedge generation and LOUDLY counted in the extra
    ``n_dropped_centers``/``n_dropped_wedges`` columns (never a silent
    drop — the minhash/knn_lsh metric convention); with the cap unset
    the count is exact and the extra columns are omitted.
    """
    adj = arcs(edges, directed=False).toDF("v", "n")
    if max_center_degree is not None:
        adj, hot = hub_cap(adj, "v", max_center_degree)
        drop_stats = hot.select(
            F.col("n_keys").alias("n_dropped_centers"),
            F.col("n_pairs").alias("n_dropped_wedges"),
        )
    left = adj.select("v", F.col("n").alias("u"))
    right = adj.select("v", F.col("n").alias("w"))
    lam = (
        left.join(right, on="v")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("lam"))
    )
    # integer-exact: sum(lam*(lam-1)) = 4 * #C4 (two diagonals, each
    # contributing lam*(lam-1)/2 ordered pairs) — a long sum + one integer
    # division, never a float (a double sum would silently round past 2^53
    # wedge pairs, which 100 TB graphs exceed)
    total = lam.agg(
        F.expr("coalesce(sum(lam * (lam - 1)) div 4, 0)")
        .cast("long")
        .alias("squares")
    )
    if max_center_degree is not None:
        return total.crossJoin(drop_stats)
    return total


def delta_triangles(
    full_edges: DataFrame,
    delta_edges: DataFrame,
    old_edges: DataFrame | None = None,
) -> DataFrame:
    """One row (new_triangles): exact count of distinct triangles of the
    FULL graph that contain at least one delta edge — the incremental
    counting step: after a batch append,
    ``total = previous_total + delta_triangles(full, delta)``
    (pinned against a cold full-graph count in tests and the
    `triangle_count_incremental` oracle).

    PRECONDITION (ADVICE r3): the identity above requires the delta's
    undirected edges to be DISJOINT from the old graph's — a delta that
    re-asserts an existing edge (duplicate row or reversed orientation)
    makes triangles already counted in ``previous_total`` also "contain
    a delta edge" and they get double-counted. The in-repo callers
    satisfy this by construction (canonical src<dst distinct edge tables
    row-partitioned into old/delta); callers appending to an arbitrary
    edge table should pass ``old_edges`` (the pre-append table), which
    ENFORCES the precondition here: re-asserted delta edges are dropped
    by one undirected anti-join before counting (ADVICE r4 — the
    disjointness identity is now enforceable, not just documented).
    Without ``old_edges`` the precondition is the caller's contract, as
    the function cannot separate old from delta inside ``full_edges``.

    Shape: for each canonical delta edge (a, b), common neighbors w come
    from two equi-joins against the full undirected adjacency; each
    triangle is identified by its SORTED vertex triple and deduped with
    one distinct — a triangle closing two or three delta edges is found
    2-3 times but counted once, which kills the inclusion-exclusion
    bookkeeping the per-edge formula would need. Work is
    sum over delta edges of (deg(a) + deg(b)) candidate wedges — the
    incremental win: proportional to the DELTA's degree mass, not |E|.
    Hub deltas fan out like any wedge join; AQE skew-split applies (the
    degree-orientation trick does not, because both endpoints' full
    adjacencies are needed)."""
    adj = arcs(full_edges, directed=False).toDF("v", "n")
    d = undirected_pairs(delta_edges)
    if old_edges is not None:
        # drop delta edges the old graph already had — their triangles
        # are in previous_total; counting them again double-counts
        d = d.join(undirected_pairs(old_edges), on=["a", "b"], how="left_anti")
    wa = adj.select(F.col("v").alias("a"), F.col("n").alias("w"))
    wb = adj.select(F.col("v").alias("b"), F.col("n").alias("w"))
    tris = (
        d.join(wa, on="a")
        .join(wb, on=["b", "w"])
        .where((F.col("w") != F.col("a")) & (F.col("w") != F.col("b")))
        .select(F.array_sort(F.array("a", "b", "w")).alias("t"))
        .distinct()
    )
    return tris.agg(F.count(F.lit(1)).cast("long").alias("new_triangles"))
