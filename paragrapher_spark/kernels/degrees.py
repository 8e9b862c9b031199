"""Degree kernels — the reference's test1 workload.

`test/test1_deg_dist_WG400.c` computes in-degrees with per-edge atomic
increments during the scan (line 59) and then a histogram of the histogram
(lines 227-257). Both collapse to hash aggregations with map-side partial
aggregation — exactly the partial-then-final pattern the reference
hand-rolls (per-buffer atomics, then a global pass at test1:233-243).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from paragrapher_spark.graph import undirected_degrees, undirected_pairs


def in_degrees(edges: DataFrame) -> DataFrame:
    """(id, in_degree) — `test1:59`'s atomic in_degrees[dst]++."""
    return edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree) — offsets[v+1]-offsets[v] (`test1:158-161`)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )


def degree_distribution(edges: DataFrame, direction: str = "in") -> DataFrame:
    """(degree, frequency) histogram — `test1:227-257`.

    Two chained hash aggs; the second groups by degree value, whose
    cardinality is tiny (max degree), so the final shuffle is negligible
    at any scale.
    """
    deg = in_degrees(edges) if direction == "in" else out_degrees(edges)
    col = "in_degree" if direction == "in" else "out_degree"
    return (
        deg.groupBy(F.col(col).alias("degree"))
        .agg(F.count(F.lit(1)).alias("frequency"))
    )


def top_k_degrees(edges: DataFrame, k: int = 10, direction: str = "in") -> DataFrame:
    """Top-k vertices by degree — the reference's max-degree scan
    (`test1:233-237`) generalized. orderBy().limit() lets Spark run a
    per-partition top-k (TakeOrderedAndProject), no full sort."""
    deg = in_degrees(edges) if direction == "in" else out_degrees(edges)
    col = "in_degree" if direction == "in" else "out_degree"
    return deg.orderBy(F.col(col).desc(), F.col("id").asc()).limit(k)


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club curve of the undirected simple graph underlying
    ``edges(src, dst)`` (Colizza-Flammini-Serrano-Vespignani, Nature
    Physics 2006): for every degree threshold k present in the graph,

        phi(k) = 2 * E_k / (N_k * (N_k - 1))

    with N_k = #vertices of degree > k and E_k = #edges whose BOTH
    endpoints have degree > k. Returns (k, n_k, e_k, phi) for every k
    where the club has >= 2 members; n_k/e_k are exact longs and phi is
    ONE IEEE division of exact longs (SQL-reproducible bit-for-bit).

    Scale shape (100 TB): no per-k scan — N_k and E_k are suffix sums
    over two histograms (vertex degrees; per-edge min endpoint degree),
    each at most max-degree rows, so the windows are tiny regardless of
    |E|. Cost = degree agg + one two-sided degree join on the edges +
    two histogram aggs.
    """
    und = undirected_pairs(edges)
    deg = undirected_degrees(und)
    # histogram of vertex degrees -> N_k = suffix count of deg > k
    vh = deg.groupBy("deg").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    # histogram of per-edge min endpoint degree -> E_k = suffix count > k
    emin = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
        .select(F.least("da", "db").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("ne"))
    )
    w = Window.orderBy(F.desc("deg")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # suffix sums strictly ABOVE k: rank thresholds at the distinct degree
    # values themselves (k takes every degree value present in the graph)
    joined = (
        vh.join(emin, vh["deg"] == emin["m"], "full")
        .select(
            F.coalesce(vh["deg"], emin["m"]).alias("deg"),
            F.coalesce("nv", F.lit(0)).alias("nv"),
            F.coalesce("ne", F.lit(0)).alias("ne"),
        )
    )
    cum = joined.select(
        "deg",
        (F.sum("nv").over(w) - F.col("nv")).cast("long").alias("n_gt"),
        (F.sum("ne").over(w) - F.col("ne")).cast("long").alias("e_gt"),
    )
    return (
        cum.where(F.col("n_gt") >= 2)
        .select(
            F.col("deg").alias("k"),
            F.col("n_gt").alias("n_k"),
            F.col("e_gt").alias("e_k"),
            (
                (F.lit(2).cast("long") * F.col("e_gt")).cast("double")
                / (F.col("n_gt") * (F.col("n_gt") - F.lit(1))).cast("double")
            ).alias("phi"),
        )
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """Degree-correlation profile knn(k) of the undirected simple graph
    underlying ``edges(src, dst)`` (Pastor-Satorras, Vazquez & Vespignani,
    PRL 2001 — the standard assortativity *curve* that complements the
    scalar Newman r in kernels/linkpred.py):

        knn(k) = (Σ over edge endpoints u with deg(u)=k of deg(other end))
                 / (k * N_k)

    i.e. the edge-weighted mean neighbor degree of the degree-k class
    (each vertex contributes once per incident edge, so the numerator and
    denominator are both exact longs and knn is ONE IEEE division —
    SQL-reproducible bit-for-bit; the mean-of-per-vertex-means variant
    would nest IEEE divisions and is deliberately not used). Returns
    (k, n_k, s_k, knn) for every degree value present: n_k = #vertices of
    degree k, s_k = the exact numerator.

    Scale shape (100 TB): degree agg + one two-sided degree join over the
    edge table + one histogram agg whose key cardinality is max-degree —
    the same single-pass shape as ``rich_club`` above; no per-k scan, no
    window over |E| rows.
    """
    und = undirected_pairs(edges)
    deg = undirected_degrees(und)
    # each undirected edge contributes both directions: (deg a -> deg b)
    # and (deg b -> deg a)
    endp = (
        und.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    )
    both = endp.select(F.col("da").alias("k"), F.col("db").alias("nd")).unionByName(
        endp.select(F.col("db").alias("k"), F.col("da").alias("nd"))
    )
    s = both.groupBy("k").agg(F.sum("nd").cast("long").alias("s_k"))
    nk = deg.groupBy(F.col("deg").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n_k")
    )
    return (
        nk.join(s, on="k")
        .select(
            "k",
            "n_k",
            "s_k",
            (
                F.col("s_k").cast("double")
                / (F.col("k") * F.col("n_k")).cast("double")
            ).alias("knn"),
        )
    )
