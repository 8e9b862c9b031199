"""Neighborhood-based link prediction + degree assortativity.

Link prediction is the canonical *predictive* workload over a link graph —
the reference's client programs stop at descriptive analytics (degree
distributions `test/test1_deg_dist_WG400.c`, components
`test/test2_jtcc_WG400.c`), but the graphs it loads (web/social/biograph,
paper Table 3) are exactly the inputs the published neighborhood indices
were defined on:

- common neighbors        CN(u,v)  = |Γ(u) ∩ Γ(v)|
- resource allocation     RA(u,v)  = Σ_{w ∈ Γ(u)∩Γ(v)} 1/deg(w)
  (Zhou, Lü, Zhang, "Predicting missing links via local information",
  Eur. Phys. J. B 71, 2009 — consistently the strongest purely-local index)
- Jaccard                 J(u,v)   = CN / (deg(u)+deg(v) − CN)

Determinism contract (same pattern as `labelprop.modularity`): every
aggregated column is an exact integer —

- ``cn`` is a count,
- ``ra_fp`` is RA in 1e-12 fixed point, Σ (10^12 DIV deg(w)) — integer
  floor-division then integer sum, so the value is independent of
  summation order and bit-identical across engines (a float Σ 1/deg would
  gate flakily: IEEE addition is not associative),
- ``jaccard`` is ONE IEEE division of two exact longs.

Scale shape (100 TB): the only superlinear step is the wedge self-join —
fan-out through a center vertex w is C(deg(w), 2), the same curse the
triangle kernel's orientation kills (Suri-Vassilvitskii WWW'11). Link
prediction needs *unordered pairs* through w, so orientation does not
apply; the standard mitigation is a hub cap: wedges through centers with
deg(w) > ``max_center_degree`` are excluded LOUDLY (returned metric, same
contract as the dedup stop-gram / bucket caps) — for RA/Jaccard ranking a
hub contributes weight ≤ 1/deg(w) ≈ 0 per pair anyway. Everything is
equi-joins + map-side-combinable aggs; no Python in the path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs, undirected_degrees, undirected_pairs
from paragrapher_spark.operators.salting import hub_cap

RA_FIXED_POINT = 1_000_000_000_000  # 1e-12 resolution; deg < 1e12 assumed


@dataclass
class LinkPredictionResult:
    scores: DataFrame  # (u, v, cn, ra_fp, du, dv, jaccard)
    n_dropped_centers: int  # hub centers excluded by max_center_degree


def link_prediction(
    edges: DataFrame, max_center_degree: int | None = None
) -> LinkPredictionResult:
    """Score all NON-adjacent unordered pairs (u < v) sharing ≥1 common
    neighbor on the canonical undirected simple graph of ``edges``.

    Returns exact-integer ``cn``/``ra_fp``/``du``/``dv`` plus ``jaccard``
    (single IEEE division). Pairs already joined by an edge are anti-joined
    out — the link-prediction task scores *candidate* links only.
    """
    und = undirected_pairs(edges)
    deg = undirected_degrees(und)
    # adjacency in both directions: (center w, endpoint u)
    adj = arcs(edges, directed=False).toDF("w", "u")
    n_dropped = 0
    if max_center_degree is not None:
        adj, hot = hub_cap(adj, "w", max_center_degree)
        n_dropped = hot.collect()[0]["n_keys"]
    centers = adj.join(deg.select(F.col("id").alias("w"), "deg"), on="w")
    left = centers.select("w", F.col("u"), F.col("deg").alias("wdeg"))
    right = centers.select("w", F.col("u").alias("v"))
    wedges = left.join(right, on="w").where(F.col("u") < F.col("v"))
    # exact-integer RA contribution of this center: floor(1e12 / deg(w))
    ra_term = F.expr(f"{RA_FIXED_POINT} DIV wdeg")
    pair_scores = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(ra_term).cast("long").alias("ra_fp"),
    )
    # candidates only: drop pairs that are already edges
    candidates = pair_scores.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        on=["u", "v"],
        how="left_anti",
    )
    scores = (
        candidates.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), on="u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), on="v")
        .select(
            F.col("u").cast("long"),
            F.col("v").cast("long"),
            "cn",
            "ra_fp",
            F.col("du").cast("long"),
            F.col("dv").cast("long"),
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    return LinkPredictionResult(scores=scores, n_dropped_centers=n_dropped)


def assortativity(edges: DataFrame) -> DataFrame:
    """Newman degree assortativity r of the canonical undirected simple
    graph (Newman, "Assortative mixing in networks", PRL 89, 2002) —
    Pearson correlation of endpoint degrees over directed stubs.

    Exact-integer formulation: over the symmetrized stub set (each
    undirected edge contributes (u→v) and (v→u)) with x = deg(src),
    y = deg(dst), by symmetry Σx = Σy and Σx² = Σy², so

        r = (S·Σxy − (Σx)²) / (S·Σx² − (Σx)²),   S = #stubs = 2m.

    Returned row: (n_stubs, sxy, sx, sxx, r_num, r_den) all exact longs +
    ``r`` as ONE IEEE division — deterministic across engines. Overflow:
    S·Σxy ≤ 4m²·deg_max² — exact in int64 up to ~10^9 edge-degree product
    scale; past that promote the products to decimal(38,0).
    """
    und = undirected_pairs(edges)
    deg = undirected_degrees(und)
    stubs = arcs(edges, directed=False).select(
        F.col("src").alias("s"), F.col("dst").alias("d")
    )
    x = stubs.join(deg.select(F.col("id").alias("s"), F.col("deg").alias("dx")), on="s").join(
        deg.select(F.col("id").alias("d"), F.col("deg").alias("dy")), on="d"
    )
    sums = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_stubs"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
    )
    return sums.select(
        "n_stubs",
        "sxy",
        "sx",
        "sxx",
        (F.col("n_stubs") * F.col("sxy") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("r_num"),
        (F.col("n_stubs") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("r_den"),
        (
            (F.col("n_stubs") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("n_stubs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("r"),
    )
