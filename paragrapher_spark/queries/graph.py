"""Structural graph queries: degrees, components, triangles and cycles,
cores and trusses, MIS/matching/coloring, densest subgraph, MSF, census,
rich-club, reciprocity, assortativity and sampled or generated graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import edges_from_corpus, undirected_pairs, vertex_ids
from paragrapher_spark.kernels.coloring import greedy_coloring
from paragrapher_spark.kernels.components import component_sizes, connected_components
from paragrapher_spark.kernels.coreness import coreness
from paragrapher_spark.kernels.degrees import degree_distribution, top_k_degrees
from paragrapher_spark.kernels.kcore import kcore
from paragrapher_spark.kernels.ktruss import ktruss
from paragrapher_spark.kernels.linkpred import assortativity
from paragrapher_spark.kernels.mis import maximal_independent_set
from paragrapher_spark.kernels.scc import scc
from paragrapher_spark.kernels.triangles import (
    clustering_coefficient,
    triangle_count,
    triangles_per_vertex,
)
from paragrapher_spark.operators.indexing import prefix_sum
from paragrapher_spark.operators.sampling import sample_hash, threshold_for
from paragrapher_spark.queries import query
from paragrapher_spark.queries.centrality import _CENSUS_N, _CENSUS_OUT_DEG
from paragrapher_spark.queries.code import (
    _SCC_FILES,
    _import_edges_md5_sql,
    _md5h,
    _scc_oracle_sql,
)
from paragrapher_spark.sources.corpus import synth_corpus
from paragrapher_spark.sources.edges import (
    COPURCHASE_EDGES_SQL,
    COPURCHASE_WEIGHTED_EDGES_SQL,
    CUSTOMER_ORDER_EDGES_SQL,
    copurchase_edges,
    copurchase_weighted_edges,
    customer_order_edges,
    md5_vertex_graph,
    md5_vertex_graph_sql,
)


@query("graph_meta", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            verts AS (
                SELECT src AS id FROM edges UNION SELECT dst FROM edges
            ),
            m AS (
                SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts) AS vertices,
                       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS edges,
                       (SELECT CAST(MAX(c) AS BIGINT) FROM (
                           SELECT count(*) AS c FROM edges GROUP BY src)) AS max_out_degree,
                       (SELECT CAST(MAX(c) AS BIGINT) FROM (
                           SELECT count(*) AS c FROM edges GROUP BY dst)) AS max_in_degree
            )
            SELECT vertices, edges, max_out_degree, max_in_degree,
                   ROUND(CAST(edges AS DOUBLE) / CAST(vertices AS DOUBLE), 6)
                       AS avg_degree
            FROM m
        """)
def _q_graph_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|V|, |E|, max/avg degrees of the co-purchase graph — the reference's
    GET_VERTICES_COUNT / GET_EDGES_COUNT metadata options
    (`src/webgraph.c:456-462`) plus the degree extremes its test1 prints."""
    edges = copurchase_edges(spark, sf_dir)
    deg_out = edges.groupBy("src").count()
    deg_in = edges.groupBy("dst").count()
    verts = vertex_ids(edges)
    return (
        verts.agg(F.count(F.lit(1)).alias("vertices"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("edges")))
        .crossJoin(deg_out.agg(F.max("count").alias("max_out_degree")))
        .crossJoin(deg_in.agg(F.max("count").alias("max_in_degree")))
        .select(
            F.col("vertices").cast("long"),
            F.col("edges").cast("long"),
            F.col("max_out_degree").cast("long"),
            F.col("max_in_degree").cast("long"),
            F.round(
                F.col("edges").cast("double") / F.col("vertices").cast("double"), 6
            ).alias("avg_degree"),
        )
    )


@query("in_degree_dist", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            indeg AS (
                SELECT dst, CAST(count(*) AS BIGINT) AS degree
                FROM edges GROUP BY dst
            )
            SELECT degree, CAST(count(*) AS BIGINT) AS frequency
            FROM indeg GROUP BY degree
        """)
def _q_in_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return degree_distribution(edges, direction="in").select(
        F.col("degree").cast("long").alias("degree"),
        F.col("frequency").cast("long").alias("frequency"),
    )


@query("degree_topk", oracle=f"""
            WITH edges AS ({CUSTOMER_ORDER_EDGES_SQL})
            SELECT CAST(src AS BIGINT) AS id,
                   CAST(count(*) AS BIGINT) AS out_degree
            FROM edges GROUP BY src
            ORDER BY out_degree DESC, id ASC
            LIMIT 20
        """)
def _q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = customer_order_edges(spark, sf_dir)
    return top_k_degrees(edges, k=20, direction="out").select(
        F.col("id").cast("long").alias("id"),
        F.col("out_degree").cast("long").alias("out_degree"),
    )


@query("csr_offsets", oracle=f"""
            WITH edges AS ({CUSTOMER_ORDER_EDGES_SQL}),
            deg AS (
                SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree
                FROM edges GROUP BY src
            )
            SELECT id, out_degree,
                   CAST(COALESCE(
                       SUM(out_degree) OVER (
                           ORDER BY id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS offset
            FROM deg
        """)
def _q_csr_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = customer_order_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    out = prefix_sum(deg, ["id"], "out_degree", out_col="offset", num_partitions=8)
    return out.select(
        F.col("id").cast("long"),
        F.col("out_degree").cast("long"),
        F.col("offset").cast("long"),
    )


_WCC_CTE = f"""
    WITH RECURSIVE edges AS ({COPURCHASE_EDGES_SQL}),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    verts AS (SELECT DISTINCT a AS v FROM und),
    reach(v, r) AS (
        SELECT v, v FROM verts
        UNION
        SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
    ),
    comp AS (SELECT v AS id, MIN(r) AS component FROM reach GROUP BY v)
"""


@query("wcc_labels", oracle=_WCC_CTE
    + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp")
def _q_wcc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = connected_components(edges)
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


# trajectory-independent: labels are min-ids, so the incremental
# run gates against the exact SAME closure as the cold run
@query("wcc_incremental", oracle=_WCC_CTE
    + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp")
def _q_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental WCC under the oracle gate
    (kernels/components.py incremental_components): label yesterday's
    ~90% edge subset cold, then merge only the delta's edges into the
    resulting star forest. Labels are min-ids, so the warm result is
    bit-identical to a cold full-graph run — the oracle is the SAME
    closure SQL as wcc_labels (trajectory-independent), which is the
    strongest possible gate: any warm-start shortcut error shows as a
    label mismatch."""
    from paragrapher_spark.kernels.components import incremental_components

    edges = copurchase_edges(spark, sf_dir)
    in_old = (F.col("src") * 7919 + F.col("dst")) % 10 != 0
    prev = connected_components(edges.where(in_old))
    delta = edges.where(~in_old)
    res = incremental_components(prev.components, delta)
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


# decremental twin: closure runs over the post-removal edge set, but the
# vertex universe stays the FULL graph's endpoints so vertices isolated
# by the removal appear as singleton components (matching the engine's
# kept-previous-labels semantics)
_WCC_DEC_CTE = f"""
    WITH RECURSIVE alledges AS ({COPURCHASE_EDGES_SQL}),
    edges AS (
        SELECT src, dst FROM alledges WHERE (src * 7919 + dst) % 10 <> 3
    ),
    und AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    verts AS (
        SELECT DISTINCT src AS v FROM alledges
        UNION
        SELECT DISTINCT dst AS v FROM alledges
    ),
    reach(v, r) AS (
        SELECT v, v FROM verts
        UNION
        SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.v
    ),
    comp AS (SELECT v AS id, MIN(r) AS component FROM reach GROUP BY v)
"""


# trajectory-independent closure over the REMAINING edges with
# the ORIGINAL vertex set (removal-isolated vertices stay as
# singletons on both sides) — gates the deletion-aware warm path
@query("wcc_decremental", oracle=_WCC_DEC_CTE
    + "SELECT CAST(id AS BIGINT) AS id, CAST(component AS BIGINT) AS component FROM comp")
def _q_wcc_decremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental WCC under the oracle gate
    (kernels/components.py decremental_components — the deletion half of
    the daily-delta story): label the FULL graph cold, delete a ~10% edge
    batch, then re-solve only the components the deleted edges touched,
    keeping every untouched label verbatim. Labels are min-ids, so the
    warm-with-removals result is bit-identical to a cold run on the
    reduced edge set — the oracle is the trajectory-independent closure
    SQL over the REMAINING edges (with the original vertex set, so
    vertices isolated by the removal stay as singletons on both sides).
    Any affected-set under-reach or stale-label leak shows as a label
    mismatch."""
    from paragrapher_spark.kernels.components import decremental_components

    edges = copurchase_edges(spark, sf_dir)
    removed_pred = (F.col("src") * 7919 + F.col("dst")) % 10 == 3
    prev = connected_components(edges)
    res = decremental_components(
        prev.components,
        remaining_edges=edges.where(~removed_pred),
        removed_edges=edges.where(removed_pred),
    )
    return res.components.select(
        F.col("id").cast("long"), F.col("component").cast("long")
    )


@query("wcc_sizes", oracle=_WCC_CTE
    + """
            SELECT CAST(component AS BIGINT) AS component,
                   CAST(count(*) AS BIGINT) AS size
            FROM comp GROUP BY component
        """)
def _q_wcc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = connected_components(edges)
    return component_sizes(res.components).select(
        F.col("component").cast("long"), F.col("size").cast("long")
    )


_TRIANGLE_COUNT_SQL = f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        """


@query("triangle_count", oracle=_TRIANGLE_COUNT_SQL)
def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return triangle_count(edges).select(F.col("triangles").cast("long"))


# trajectory-independent: the incremental path (old count + delta
# triangles) must land on the exact full-graph total
@query("triangle_count_incremental", oracle=_TRIANGLE_COUNT_SQL)
def _q_triangle_count_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance under the oracle gate
    (kernels/triangles.py delta_triangles): count yesterday's ~90% edge
    subset cold, then add exactly the distinct full-graph triangles that
    touch a delta edge — work proportional to the delta's degree mass,
    not |E|. The oracle is the SAME trajectory-independent full-graph
    count as `triangle_count`, so any double-count or miss in the
    incremental path shows as a value mismatch."""
    from paragrapher_spark.kernels.triangles import delta_triangles

    edges = copurchase_edges(spark, sf_dir)
    in_old = (F.col("src") * 7919 + F.col("dst")) % 10 != 0
    prev = triangle_count(edges.where(in_old)).select(
        F.col("triangles").alias("c")
    )
    delta = delta_triangles(edges, edges.where(~in_old)).select(
        F.col("new_triangles").alias("c")
    )
    return (
        prev.unionByName(delta)
        .agg(F.sum("c").cast("long").alias("triangles"))
    )


# trajectory-independent cold count over the remaining edges —
# gates the subtract-lost-triangles deletion path
@query("triangle_count_decremental", oracle=f"""
            WITH alledges AS ({COPURCHASE_EDGES_SQL}),
            edges AS (
                SELECT src, dst FROM alledges
                WHERE (src * 7919 + dst) % 10 <> 3
            ),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        """)
def _q_triangle_count_decremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decremental triangle maintenance under the oracle gate: count the
    FULL graph cold, then SUBTRACT exactly the distinct full-graph
    triangles that contain at least one edge of a ~10% removal batch
    (kernels/triangles.py delta_triangles applied to the removal side: a
    triangle survives a deletion batch iff it contains no removed edge,
    so total_after = total_before - |triangles touching removed|; the
    sorted-triple distinct counts a triangle losing 2-3 edges once).
    Work is proportional to the removal's degree mass, not |E|. Oracle:
    the trajectory-independent cold count over the remaining edges."""
    from paragrapher_spark.kernels.triangles import delta_triangles

    edges = copurchase_edges(spark, sf_dir)
    removed_pred = (F.col("src") * 7919 + F.col("dst")) % 10 == 3
    full = triangle_count(edges).select(F.col("triangles").alias("c"))
    lost = delta_triangles(edges, edges.where(removed_pred)).select(
        (-F.col("new_triangles")).alias("c")
    )
    return full.unionByName(lost).agg(
        F.sum("c").cast("long").alias("triangles")
    )


@query("square_count", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            adj AS (
                SELECT a AS v, b AS n FROM und
                UNION ALL
                SELECT b AS v, a AS n FROM und
            ),
            lam AS (
                SELECT l.n AS u, r.n AS w, count(*) AS lam
                FROM adj l JOIN adj r ON r.v = l.v AND l.n < r.n
                GROUP BY 1, 2
            )
            SELECT CAST(COALESCE(SUM(lam * (lam - 1)) // 4, 0) AS BIGINT)
                AS squares
            FROM lam
        """)
def _q_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global 4-cycle count (kernels/triangles.py square_count —
    the diagonal identity sum C(lam,2)/2, all-integer) on the
    copurchase graph; oracle replays the identical identity in SQL."""
    from paragrapher_spark.kernels.triangles import square_count

    edges = copurchase_edges(spark, sf_dir)
    return square_count(edges).select(F.col("squares").cast("long"))


@query("transitivity", oracle=f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    w AS (
        SELECT CAST(SUM((degree * (degree - 1)) // 2) AS BIGINT) AS wedges
        FROM (
            SELECT CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und
            ) GROUP BY id
        )
    )
    SELECT triangles, wedges,
           CAST(3 * triangles AS DOUBLE) / CAST(wedges AS DOUBLE)
               AS transitivity
    FROM t, w
    """)
def _q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient C = 3*T/W of the co-purchase graph
    (kernels/triangles.py transitivity): exact triangle and wedge longs
    (wedges summed with integer div — no double accumulation), C is ONE
    IEEE division."""
    from paragrapher_spark.kernels.triangles import transitivity

    edges = copurchase_edges(spark, sf_dir)
    return transitivity(edges)


@query("edge_embeddedness", oracle=f"""
    WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM e0 UNION ALL SELECT b AS v, a AS u FROM e0
    ),
    sup AS MATERIALIZED (
        SELECT e.a, e.b, count(*) AS emb
        FROM e0 e
        JOIN adj x ON x.v = e.a
        JOIN adj y ON y.v = e.b AND y.u = x.u
        GROUP BY e.a, e.b
    )
    SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
           CAST(COALESCE(s.emb, 0) AS BIGINT) AS embeddedness
    FROM e0 e LEFT JOIN sup s ON s.a = e.a AND s.b = e.b
    """)
def _q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural embeddedness (common-neighbor count) per canonical
    undirected co-purchase edge (kernels/triangles.py edge_embeddedness) —
    all-integer, zero-support edges (local bridges) included."""
    from paragrapher_spark.kernels.triangles import edge_embeddedness

    edges = copurchase_edges(spark, sf_dir)
    return edge_embeddedness(edges).select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("embeddedness").cast("long"),
    )


@query("rich_club", oracle=f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id
    ),
    vh AS (SELECT deg, CAST(count(*) AS BIGINT) AS nv FROM deg GROUP BY deg),
    emin AS (
        SELECT m, CAST(count(*) AS BIGINT) AS ne FROM (
            SELECT LEAST(da.deg, db.deg) AS m
            FROM und
            JOIN deg da ON da.id = und.a
            JOIN deg db ON db.id = und.b
        ) GROUP BY m
    ),
    joined AS (
        SELECT COALESCE(vh.deg, emin.m) AS deg,
               COALESCE(nv, 0) AS nv, COALESCE(ne, 0) AS ne
        FROM vh FULL JOIN emin ON vh.deg = emin.m
    ),
    cum AS (
        SELECT deg,
               CAST(SUM(nv) OVER (ORDER BY deg DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - nv AS BIGINT)
                   AS n_gt,
               CAST(SUM(ne) OVER (ORDER BY deg DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) - ne AS BIGINT)
                   AS e_gt
        FROM joined
    )
    SELECT CAST(deg AS BIGINT) AS k, n_gt AS n_k, e_gt AS e_k,
           CAST(2 * e_gt AS DOUBLE) / CAST(n_gt * (n_gt - 1) AS DOUBLE)
               AS phi
    FROM cum WHERE n_gt >= 2
    """)
def _q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club curve of the co-purchase graph (kernels/degrees.py
    rich_club): phi(k) per degree threshold from suffix sums over two
    tiny histograms — n_k/e_k exact longs, phi ONE IEEE division."""
    from paragrapher_spark.kernels.degrees import rich_club

    edges = copurchase_edges(spark, sf_dir)
    return rich_club(edges).select(
        F.col("k").cast("long"),
        F.col("n_k").cast("long"),
        F.col("e_k").cast("long"),
        "phi",
    )


@query("reciprocity", oracle=f"""
    WITH edges AS ({_import_edges_md5_sql(_SCC_FILES, 8, 12, 16)}),
    e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)
    SELECT CAST(COUNT(*) AS BIGINT) AS arcs,
           CAST(COUNT(r.src) AS BIGINT) AS reciprocated,
           CAST(COUNT(r.src) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS reciprocity
    FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
    """)
def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc reciprocity of the DIRECTED import graph (the Newman-style
    directed-graph scalar: the fraction of arcs whose reverse arc also
    exists — mutual imports are the precursor of the cyclic-import SCCs
    `scc_imports` detects). Exact longs + ONE IEEE division; one
    self-left-join over the deduped arc set."""
    corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    e = (
        g.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("has_rev", F.lit(1))
    flagged = e.join(rev, on=["src", "dst"], how="left")
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("arcs"),
        F.coalesce(F.sum("has_rev"), F.lit(0)).cast("long").alias("reciprocated"),
    ).withColumn(
        "reciprocity",
        F.col("reciprocated").cast("double") / F.col("arcs").cast("double"),
    )


@query("triangles_per_vertex", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            tri AS (
                SELECT e1.a AS u, e1.b AS v, e2.b AS w
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            members AS (
                SELECT u AS id FROM tri
                UNION ALL SELECT v FROM tri
                UNION ALL SELECT w FROM tri
            )
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(count(*) AS BIGINT) AS triangles
            FROM members GROUP BY id
        """)
def _q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return triangles_per_vertex(edges).select(
        F.col("id").cast("long"), F.col("triangles").cast("long")
    )


@query("clustering_coeff", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst
                GROUP BY 1, 2
            ),
            deg AS (
                SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY id
            ),
            tri AS (
                SELECT e1.a AS u, e1.b AS v, e2.b AS w
                FROM und e1
                JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            tcount AS (
                SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
                    SELECT u AS id FROM tri
                    UNION ALL SELECT v FROM tri
                    UNION ALL SELECT w FROM tri
                ) GROUP BY id
            )
            SELECT CAST(d.id AS BIGINT) AS id, d.degree,
                   CAST(COALESCE(t.t, 0) AS BIGINT) AS triangles,
                   ROUND(2.0 * COALESCE(t.t, 0) / (d.degree * (d.degree - 1)), 6)
                       AS coeff
            FROM deg d LEFT JOIN tcount t ON t.id = d.id
            WHERE d.degree >= 2
        """)
def _q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    return clustering_coefficient(edges).select(
        F.col("id").cast("long"),
        F.col("degree").cast("long"),
        F.col("triangles").cast("long"),
        "coeff",
    )


_KCORE_UNROLL = 32


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Iterative k-core peel (kernels/kcore.py) unrolled; over-unrolling
    past the fixpoint is exact (peeling is idempotent there)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    keep{r} AS MATERIALIZED (
        SELECT id FROM (
            SELECT id, count(*) AS c FROM (
                SELECT src AS id FROM e{r - 1}
                UNION ALL SELECT dst FROM e{r - 1}
            ) GROUP BY id
        ) WHERE c >= {k}
    ),
    e{r} AS MATERIALIZED (
        SELECT src, dst FROM e{r - 1}
        WHERE src IN (SELECT id FROM keep{r})
          AND dst IN (SELECT id FROM keep{r})
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id FROM (
        SELECT src AS id FROM e{rounds} UNION SELECT dst FROM e{rounds}
    )""")
    return "".join(parts)


# generously over-unrolled (peeling is idempotent at the fixpoint,
# so extra rounds are free): the Spark kernel peels to a
# data-dependent fixpoint; 32 rounds covers any SF the gate runs at
@query("kcore_members", oracle=_kcore_oracle_sql(64, _KCORE_UNROLL))
def _q_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the 64-core of the co-purchase graph. Oracle: the peel
    unrolled as materialized DuckDB CTEs (idempotent past the fixpoint, so
    over-unrolling is exact). k=64 sits just above the graph's min degree
    at these SFs, so the peel actually cascades before stabilizing."""
    edges = copurchase_edges(spark, sf_dir)
    res = kcore(edges, k=64)
    # the oracle below materializes _KCORE_UNROLL peel rounds; if a bigger
    # SF ever needs more, fail HERE with the cause rather than letting the
    # gate report an opaque hash mismatch (ADVICE r2)
    if res.rounds > _KCORE_UNROLL:
        raise AssertionError(
            f"k-core peel took {res.rounds} rounds > the oracle's "
            f"{_KCORE_UNROLL}-round unroll; raise _KCORE_UNROLL"
        )
    return res.vertices.select(F.col("id").cast("long"))


_MIS_UNROLL = 16


def _mis_oracle_sql(rounds: int) -> str:
    """Deterministic-Luby MIS (kernels/mis.py) unrolled: per round,
    every undecided vertex compares its (md5-priority, id) key against
    the lexicographic minimum over its UNDECIDED neighbors; strict
    winners join, their neighbors leave. Past the fixpoint the
    undecided CTE is empty, so over-unrolling is exact. The lexicographic
    neighbor-min is computed in two grouped steps (min h, then min id at
    that h) to stay on plain scalar aggregates."""
    h_expr = _md5h("mis", "CAST(id AS VARCHAR)")
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        f"""
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und
        UNION ALL SELECT b AS v, a AS u FROM und
    ),
    u0 AS MATERIALIZED (
        SELECT id, {h_expr} AS h FROM (
            SELECT a AS id FROM und UNION SELECT b FROM und
        )
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    nb{r} AS MATERIALIZED (
        SELECT a.v, uu.h, uu.id AS uid
        FROM adj a JOIN u{r - 1} uu ON a.u = uu.id
        WHERE a.v IN (SELECT id FROM u{r - 1})
    ),
    mn{r} AS MATERIALIZED (
        SELECT n.v, n.mh, MIN(b.uid) AS mid FROM (
            SELECT v, MIN(h) AS mh FROM nb{r} GROUP BY v
        ) n JOIN nb{r} b ON b.v = n.v AND b.h = n.mh
        GROUP BY n.v, n.mh
    ),
    w{r} AS MATERIALIZED (
        SELECT uu.id FROM u{r - 1} uu LEFT JOIN mn{r} m ON uu.id = m.v
        WHERE m.v IS NULL
           OR uu.h < m.mh OR (uu.h = m.mh AND uu.id < m.mid)
    ),
    u{r} AS MATERIALIZED (
        SELECT id, h FROM u{r - 1}
        WHERE id NOT IN (SELECT id FROM w{r})
          AND id NOT IN (
            SELECT a.v FROM adj a WHERE a.u IN (SELECT id FROM w{r})
          )
    )""")
    members = "\n        UNION ALL ".join(
        f"SELECT id, {r} AS r FROM w{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(r AS INTEGER) AS round
    FROM ({members})""")
    return "".join(parts)


@query("mis_members", oracle=_mis_oracle_sql(_MIS_UNROLL))
def _q_mis_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographically-first maximal independent set (deterministic
    Luby, kernels/mis.py) of the co-purchase graph, with the Luby round
    that decided each member. Oracle: the rounds unrolled as materialized
    DuckDB CTEs — past the fixpoint the undecided set is empty so every
    further round's winner CTE is empty (over-unrolling exact, the kcore
    pattern)."""
    edges = copurchase_edges(spark, sf_dir)
    res = maximal_independent_set(edges)
    if res.rounds > _MIS_UNROLL:
        raise AssertionError(
            f"MIS took {res.rounds} rounds > the oracle's "
            f"{_MIS_UNROLL}-round unroll; raise _MIS_UNROLL"
        )
    return res.members.select(
        F.col("id").cast("long"), F.col("round").cast("int")
    )


_CORENESS_UNROLL = 24


def _coreness_oracle_sql(rounds: int) -> str:
    """Neighborhood H-index iteration (kernels/coreness.py) unrolled from
    degrees: per round, each vertex's value becomes the H-index of its
    neighbors' values — ROW_NUMBER over values descending, then the
    largest rank whose value still covers it. Pointwise non-increasing
    and idempotent at the fixpoint (= the coreness, Lu et al. 2016), so
    over-unrolling is exact."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    adj AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und
        UNION ALL SELECT b AS v, a AS u FROM und
    ),
    c0 AS MATERIALIZED (
        SELECT v AS id, count(*) AS c FROM adj GROUP BY v
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    c{r} AS MATERIALIZED (
        SELECT v AS id, COALESCE(MAX(CASE WHEN cu >= rn THEN rn END), 0) AS c
        FROM (
            SELECT a.v, c.c AS cu,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.v ORDER BY c.c DESC, a.u ASC
                   ) AS rn
            FROM adj a JOIN c{r - 1} c ON c.id = a.u
        ) GROUP BY v
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS coreness
    FROM c{rounds}""")
    return "".join(parts)


@query("coreness_all", oracle=_coreness_oracle_sql(_CORENESS_UNROLL))
def _q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number of EVERY vertex of the co-purchase graph via the
    neighborhood H-index iteration (kernels/coreness.py) — the full
    decomposition completing the single-k `kcore_members` peel. Oracle:
    the iteration unrolled as materialized DuckDB CTEs (all-integer,
    idempotent at the fixpoint, so over-unrolling is exact). 19 rounds
    converge at sf0.01; the guard fails loudly if a bigger SF ever needs
    more than the unroll."""
    edges = copurchase_edges(spark, sf_dir)
    res = coreness(edges)
    if res.rounds > _CORENESS_UNROLL:
        raise AssertionError(
            f"coreness took {res.rounds} rounds > the oracle's "
            f"{_CORENESS_UNROLL}-round unroll; raise _CORENESS_UNROLL"
        )
    return res.vertices.select(
        F.col("id").cast("long"), F.col("coreness").cast("long")
    )


_KTRUSS_K = 12
_KTRUSS_UNROLL = 12


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    """k-truss peel (kernels/ktruss.py) unrolled: per round, each edge's
    triangle support is recounted over the CURRENT edge set via the
    common-neighbor join (u adjacent to both endpoints — self-loops were
    removed up front, so no endpoint can appear as its own common
    neighbor), then edges below k-2 drop. Over-unrolling past the fixpoint
    is exact: the support recount over an unchanged edge set is
    idempotent, so every extra round reproduces the same (a, b, support)
    rows the Spark kernel's terminating round materialized."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    adj{r} AS MATERIALIZED (
        SELECT a AS v, b AS u FROM e{r - 1}
        UNION ALL SELECT b AS v, a AS u FROM e{r - 1}
    ),
    sup{r} AS MATERIALIZED (
        SELECT e.a, e.b, count(*) AS support
        FROM e{r - 1} e
        JOIN adj{r} x ON x.v = e.a
        JOIN adj{r} y ON y.v = e.b AND y.u = x.u
        GROUP BY e.a, e.b
    ),
    e{r} AS MATERIALIZED (
        SELECT e.a, e.b, COALESCE(s.support, 0) AS support
        FROM e{r - 1} e LEFT JOIN sup{r} s ON s.a = e.a AND s.b = e.b
        WHERE COALESCE(s.support, 0) >= {k - 2}
    )""")
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(support AS BIGINT) AS support
    FROM e{rounds}""")
    return "".join(parts)


@query("ktruss_edges", oracle=_ktruss_oracle_sql(_KTRUSS_K, _KTRUSS_UNROLL))
def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-truss of the co-purchase graph (kernels/ktruss.py): surviving
    canonical edges with their fixpoint triangle support. k=12 sits just
    above the sf0.01 median support (10), so the peel cascades for several
    rounds before stabilizing on a non-empty truss. Oracle: the peel
    unrolled as materialized DuckDB CTEs — support recounted per round via
    the common-neighbor join; past the fixpoint each extra round recomputes
    the same support over the same edge set (over-unrolling exact, the
    kcore pattern)."""
    edges = copurchase_edges(spark, sf_dir)
    res = ktruss(edges, k=_KTRUSS_K)
    if res.rounds > _KTRUSS_UNROLL:
        raise AssertionError(
            f"k-truss peel took {res.rounds} rounds > the oracle's "
            f"{_KTRUSS_UNROLL}-round unroll; raise _KTRUSS_UNROLL"
        )
    return res.edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("support").cast("long"),
    )


#: scc_random_digraph fixture: the EXACT input class that crashed the r4
#: SCC kernel (tests/test_walks_scc_neighborhood.py::
#: test_scc_md5_graph_has_giant_component) — a sparse md5 random digraph
#: whose giant SCC forces ~10 propagation supersteps, i.e. a deep chain
#: of state cuts through plans/iterstate.py. The gated SCC
#: queries (scc_imports/call_scc) settle in few supersteps, which is why
#: the r4 crash lived only in pytest; this query pins the deep-superstep
#: path under the oracle gate forever (VERDICT r4 task #7).
_SCC_RAND_N = 80
_SCC_RAND_DEG = 2
#: Floor on total propagation supersteps: if a future fixture tweak (or
#: kernel change) settles this graph shallowly, the query fails loudly
#: instead of silently leaving the regression class ungated.
_SCC_RAND_MIN_STEPS = 8


@query("scc_random_digraph", oracle=_scc_oracle_sql(
    md5_vertex_graph_sql(_SCC_RAND_N, _SCC_RAND_DEG)
))
def _q_scc_random_digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC labels of a deterministic sparse random digraph
    (sources/edges.py:md5_vertex_graph, n=80, out_deg=2) — the
    deep-superstep regression fixture for kernels/scc.py: a giant SCC
    plus rho-shaped tails that needs ~10 pointer-jumped propagation
    steps (many chained checkpoint generations), the input class whose
    accumulated-lineage constraint rewrite crashed the r4 kernel.
    Self-generated input (sf_dir unused, like rmat_degree_dist); oracle:
    DuckDB recursive-CTE transitive closure over the byte-identical
    md5-regenerated edge set."""
    g = md5_vertex_graph(spark, _SCC_RAND_N, out_deg=_SCC_RAND_DEG)
    res = scc(g.select("src", "dst"))
    steps = sum(
        h.get("forward_supersteps", 0) + h.get("backward_supersteps", 0)
        for h in res.history
    )
    if not res.converged or steps < _SCC_RAND_MIN_STEPS:
        raise RuntimeError(
            f"scc_random_digraph fixture degraded: converged={res.converged}, "
            f"{steps} total supersteps < floor {_SCC_RAND_MIN_STEPS} — the "
            "gated input no longer exercises the deep-superstep path"
        )
    return res.components.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


# assortativity: all sums exact longs; r = one IEEE division
@query("assortativity", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
                FROM edges WHERE src <> dst GROUP BY 1, 2
            ),
            deg AS (
                SELECT id, COUNT(*) AS deg FROM (
                    SELECT a AS id FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ),
            stubs AS (
                SELECT a AS s, b AS d FROM und
                UNION ALL SELECT b AS s, a AS d FROM und
            ),
            j AS (
                SELECT dx.deg AS dx, dy.deg AS dy
                FROM stubs
                JOIN deg dx ON dx.id = stubs.s
                JOIN deg dy ON dy.id = stubs.d
            ),
            sums AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_stubs,
                       CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                       CAST(SUM(dx) AS BIGINT) AS sx,
                       CAST(SUM(dx * dx) AS BIGINT) AS sxx
                FROM j
            )
            SELECT n_stubs, sxy, sx, sxx,
                   CAST(n_stubs * sxy - sx * sx AS BIGINT) AS r_num,
                   CAST(n_stubs * sxx - sx * sx AS BIGINT) AS r_den,
                   CAST(n_stubs * sxy - sx * sx AS DOUBLE)
                     / CAST(n_stubs * sxx - sx * sx AS DOUBLE) AS r
            FROM sums
        """)
def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph
    (kernels/linkpred.py:assortativity) — exact-integer sums, final ``r``
    as one IEEE division."""
    edges = copurchase_edges(spark, sf_dir)
    return assortativity(edges)


_DENSEST_EPS = (1, 2)  # ε = 1/2 → (2+2ε)=3-approx, ~log_1.5|V| rounds
_DENSEST_UNROLL = 28


def _densest_oracle_sql(num: int, den: int, rounds: int) -> str:
    """The Bahmani peel unrolled (kernels/densest.py): per round the
    degree table, the (n, 2m) stats, the integer cross-multiplied keep
    filter, and the induced edge set; the density argmax is the earliest
    round no other round strictly beats (m'·n > m·n'). Over-unrolling is
    safe — an empty edge set propagates and n=0 rounds are excluded."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
        FROM edges WHERE src <> dst GROUP BY 1, 2
    )""",
    ]
    for r in range(rounds + 1):
        parts.append(f""",
    deg{r} AS MATERIALIZED (
        SELECT id, COUNT(*) AS deg FROM (
            SELECT src AS id FROM e{r} UNION ALL SELECT dst FROM e{r}
        ) GROUP BY 1
    ),
    st{r} AS MATERIALIZED (
        SELECT COUNT(*) AS n, COALESCE(SUM(deg), 0) // 2 AS m FROM deg{r}
    )""")
        if r < rounds:
            parts.append(f""",
    keep{r} AS MATERIALIZED (
        SELECT d.id FROM deg{r} d, st{r} s
        WHERE d.deg * s.n * {den} > 2 * s.m * {den + num}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{r} e
        JOIN keep{r} a ON a.id = e.src
        JOIN keep{r} b ON b.id = e.dst
    )""")
    rounds_union = " UNION ALL ".join(
        f"SELECT {r} AS r, n, m FROM st{r}" for r in range(rounds + 1)
    )
    members_union = " UNION ALL ".join(
        f"SELECT {r} AS r, id FROM deg{r}" for r in range(rounds + 1)
    )
    parts.append(f""",
    rounds_tbl AS MATERIALIZED (
        SELECT * FROM ({rounds_union}) WHERE n > 0
    ),
    best AS MATERIALIZED (
        SELECT r, n, m FROM rounds_tbl ro
        WHERE NOT EXISTS (
            SELECT 1 FROM rounds_tbl x WHERE x.m * ro.n > ro.m * x.n
        )
        ORDER BY r LIMIT 1
    ),
    members AS ({members_union})
    SELECT CAST(mm.id AS BIGINT) AS id,
           CAST(b.m AS BIGINT) AS best_m,
           CAST(b.n AS BIGINT) AS best_n,
           CAST(b.r AS BIGINT) AS best_round
    FROM members mm JOIN best b ON mm.r = b.r""")
    return "".join(parts)


@query("densest_subgraph", oracle=_densest_oracle_sql(
    _DENSEST_EPS[0], _DENSEST_EPS[1], _DENSEST_UNROLL
))
def _q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani-Kumar-Vassilvitskii densest-subgraph peel over the
    co-purchase graph (kernels/densest.py): members of the densest peel
    prefix with its exact (m, n, round) — every comparison integer
    cross-multiplied, so the whole peel gates bit-for-bit."""
    from paragrapher_spark.kernels.densest import densest_subgraph

    edges = copurchase_edges(spark, sf_dir)
    res = densest_subgraph(edges, *_DENSEST_EPS)
    if res.rounds > _DENSEST_UNROLL:
        raise AssertionError(
            f"peel ran {res.rounds} rounds > the oracle's "
            f"{_DENSEST_UNROLL}-round unroll; raise _DENSEST_UNROLL"
        )
    return res.members.select(
        F.col("id").cast("long"),
        F.lit(res.best_m).cast("long").alias("best_m"),
        F.lit(res.best_n).cast("long").alias("best_n"),
        F.lit(res.best_round).cast("long").alias("best_round"),
    )


_MSF_UNROLL = 16


def _msf_oracle_sql(rounds: int, select: str = "forest") -> str:
    """Boruvka unrolled (kernels/msf.py): per round the crossing-edge
    labeling, the per-component min outgoing edge by (w, a, b) — unique,
    so ROW_NUMBER()=1 ≡ Spark's min-of-struct — and the hook-graph
    contraction as a recursive min-label closure (the WCC oracle rule,
    matching the kernel's connected_components labels). Over-unrolling is
    safe: once no edge crosses, hooks are empty and labels are fixed."""
    parts = [
        f"WITH RECURSIVE edges AS MATERIALIZED ({COPURCHASE_WEIGHTED_EDGES_SQL}),",
        """
    e0 AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
               MIN(weight) AS w
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    comp0 AS MATERIALIZED (
        SELECT id, id AS c
        FROM (SELECT a AS id FROM e0 UNION SELECT b FROM e0)
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    lab{r} AS MATERIALIZED (
        SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
        FROM e0 e
        JOIN comp{r - 1} x ON x.id = e.a
        JOIN comp{r - 1} y ON y.id = e.b
        WHERE x.c <> y.c
    ),
    sel{r} AS MATERIALIZED (
        SELECT w, a, b, ca, cb FROM (
            SELECT c, w, a, b, ca, cb,
                   ROW_NUMBER() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
            FROM (
                SELECT ca AS c, w, a, b, ca, cb FROM lab{r}
                UNION ALL SELECT cb AS c, w, a, b, ca, cb FROM lab{r}
            )
        ) WHERE rn = 1
    ),
    hooks{r} AS MATERIALIZED (SELECT DISTINCT w, a, b, ca, cb FROM sel{r}),
    hsym{r} AS MATERIALIZED (
        SELECT ca AS x, cb AS y FROM hooks{r}
        UNION SELECT cb AS x, ca AS y FROM hooks{r}
    ),
    hreach{r}(x, y) AS (
        SELECT DISTINCT x, x FROM hsym{r}
        UNION
        SELECT h.y, hr.y FROM hreach{r} hr JOIN hsym{r} h ON h.x = hr.x
    ),
    hlab{r} AS MATERIALIZED (
        SELECT x AS c, MIN(y) AS nc FROM hreach{r} GROUP BY x
    ),
    comp{r} AS MATERIALIZED (
        SELECT v.id, COALESCE(l.nc, v.c) AS c
        FROM comp{r - 1} v LEFT JOIN hlab{r} l ON l.c = v.c
    )""")
    if select == "clusters":
        # affinity clustering level-`rounds`: the component labels ARE
        # the clusters (Bateni et al. NeurIPS'17 — see kernels/msf.py)
        parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS cluster
    FROM comp{rounds}""")
        return "".join(parts)
    forest_union = " UNION ALL ".join(
        f"SELECT a, b, w FROM hooks{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(w AS BIGINT) AS weight
    FROM ({forest_union})""")
    return "".join(parts)


@query("msf_edges", oracle=_msf_oracle_sql(_MSF_UNROLL))
def _q_msf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boruvka minimum spanning forest of the WEIGHTED co-purchase graph
    (kernels/msf.py): unique under the composite (weight, a, b) order, so
    the full forest edge set gates bit-for-bit against the unrolled-round
    oracle (each round: per-component min outgoing edge + hook-graph
    contraction)."""
    from paragrapher_spark.kernels.msf import boruvka_msf

    edges = copurchase_weighted_edges(spark, sf_dir)
    res = boruvka_msf(edges)
    if res.rounds > _MSF_UNROLL:
        raise AssertionError(
            f"Boruvka ran {res.rounds} rounds > the oracle's "
            f"{_MSF_UNROLL}-round unroll; raise _MSF_UNROLL"
        )
    return res.edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("weight").cast("long"),
    )


_COLOR_N = 2000
_COLOR_OUT_DEG = 4
_COLOR_UNROLL = 28


def _coloring_oracle_sql(rounds: int, n: int, out_deg: int) -> str:
    """Jones–Plassmann rounds unrolled as materialized CTEs over the md5
    vertex graph: readiness = no undecided lower-priority neighbor; color
    pick = min-gap over lower-neighbor colors via the candidates
    ({1} ∪ {c+1}) anti-join — all-integer, reproduces the kernel (and the
    sequential greedy in (h, id) order) bit-for-bit."""
    ctes = []
    prev_c, prev_u = "c0", "und0"
    for t in range(1, rounds + 1):
        ctes.append(
            f"""rdy{t} AS MATERIALIZED (
                SELECT u.id FROM {prev_u} u
                LEFT JOIN (
                    SELECT DISTINCT l.v AS id
                    FROM ladj l JOIN {prev_u} w ON w.id = l.u
                ) b ON b.id = u.id
                WHERE b.id IS NULL
            ),
            usd{t} AS MATERIALIZED (
                SELECT DISTINCT l.v AS id, c.color
                FROM ladj l
                JOIN rdy{t} r ON r.id = l.v
                JOIN {prev_c} c ON c.id = l.u
            ),
            pck{t} AS MATERIALIZED (
                SELECT n.id, MIN(n.k) AS color
                FROM (
                    SELECT id, 1 AS k FROM rdy{t}
                    UNION ALL
                    SELECT id, color + 1 FROM usd{t}
                ) n
                LEFT JOIN usd{t} u ON u.id = n.id AND u.color = n.k
                WHERE u.color IS NULL
                GROUP BY n.id
            ),
            c{t} AS MATERIALIZED (
                SELECT * FROM {prev_c}
                UNION ALL SELECT id, color FROM pck{t}
            ),
            und{t} AS MATERIALIZED (
                SELECT u.id FROM {prev_u} u
                LEFT JOIN rdy{t} r ON r.id = u.id
                WHERE r.id IS NULL
            )"""
        )
        prev_c, prev_u = f"c{t}", f"und{t}"
    return f"""
        WITH dedges AS ({md5_vertex_graph_sql(n, out_deg)}),
        und AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM dedges GROUP BY 1, 2
        ),
        pri AS (
            SELECT id, {_md5h("color", "CAST(id AS VARCHAR)")} AS h
            FROM (SELECT a AS id FROM und UNION SELECT b FROM und)
        ),
        sym AS (
            SELECT a AS v, b AS u FROM und
            UNION ALL SELECT b AS v, a AS u FROM und
        ),
        ladj AS MATERIALIZED (
            SELECT s.v, s.u
            FROM sym s
            JOIN pri pv ON pv.id = s.v
            JOIN pri pu ON pu.id = s.u
            WHERE (pu.h, pu.id) < (pv.h, pv.id)
        ),
        und0 AS (SELECT id FROM pri),
        c0 AS (
            SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) AS color
            WHERE FALSE
        ),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color
        FROM {prev_c}
    """


@query("graph_coloring", oracle=_coloring_oracle_sql(
    _COLOR_UNROLL, _COLOR_N, _COLOR_OUT_DEG
))
def _q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy coloring (kernels/coloring.py) of the md5
    vertex graph: Jones–Plassmann rounds with fixed md5 priorities, so the
    result is EXACTLY the sequential greedy coloring in (h, id) order —
    every (id, color) pair gates bit-for-bit. Oracle: the rounds unrolled
    as materialized CTEs with the candidates/anti-join min-gap."""
    g = md5_vertex_graph(spark, _COLOR_N, out_deg=_COLOR_OUT_DEG)
    res = greedy_coloring(g)
    if res.rounds > _COLOR_UNROLL:
        raise ValueError(
            f"coloring needed {res.rounds} rounds vs the oracle's "
            f"{_COLOR_UNROLL}-round unroll; raise _COLOR_UNROLL"
        )
    return res.colors.select(
        F.col("id").cast("long"), F.col("color").cast("long")
    )


_SUBG_FRACTION = 0.5


@query("subgraph_sample", oracle=f"""
            WITH edges AS ({COPURCHASE_EDGES_SQL})
            SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
            FROM edges
            WHERE {_md5h("subg", "CAST(src AS VARCHAR)")}
                      < {threshold_for(_SUBG_FRACTION)}
              AND {_md5h("subg", "CAST(dst AS VARCHAR)")}
                      < {threshold_for(_SUBG_FRACTION)}
        """)
def _q_subgraph_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic vertex-induced subgraph of the co-purchase graph
    (operators/sampling.py): keep vertices whose 60-bit md5 prefix falls
    under fraction 0.5 of the hash space, then edges with BOTH endpoints
    kept — the standard subgraph-extraction step for scaling experiments
    and graph-ML train/test splits, reproducible across engines (the
    oracle replays every keep decision bit-for-bit). Map-only: two
    pushed-down hash filters, no shuffle beyond the edge derivation."""
    edges = copurchase_edges(spark, sf_dir)
    sub = sample_hash(
        sample_hash(edges, _SUBG_FRACTION, ["src"], tag="subg"),
        _SUBG_FRACTION,
        ["dst"],
        tag="subg",
    )
    return sub.select(F.col("src").cast("long"), F.col("dst").cast("long"))


@query("knn_profile", oracle=f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS id FROM und UNION ALL SELECT b FROM und
        ) GROUP BY id
    ),
    endp AS (
        SELECT da.deg AS dda, db.deg AS ddb
        FROM und
        JOIN deg da ON da.id = und.a
        JOIN deg db ON db.id = und.b
    ),
    ends AS (
        SELECT dda AS k, ddb AS nd FROM endp
        UNION ALL
        SELECT ddb AS k, dda AS nd FROM endp
    ),
    s AS (SELECT k, CAST(SUM(nd) AS BIGINT) AS s_k FROM ends GROUP BY k),
    nk AS (
        SELECT deg AS k, CAST(count(*) AS BIGINT) AS n_k FROM deg GROUP BY deg
    )
    SELECT CAST(nk.k AS BIGINT) AS k, n_k, s_k,
           CAST(s_k AS DOUBLE) / CAST(nk.k * n_k AS DOUBLE) AS knn
    FROM nk JOIN s ON s.k = nk.k
    """)
def _q_knn_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-correlation profile knn(k) of the co-purchase graph
    (kernels/degrees.py avg_neighbor_degree — Pastor-Satorras et al. PRL
    2001): per degree class k, the edge-weighted mean neighbor degree.
    n_k and the numerator s_k are exact longs; knn is ONE IEEE division,
    so every column gates bit-for-bit. Complements the scalar Newman
    assortativity r (`assortativity`) with the full curve."""
    from paragrapher_spark.kernels.degrees import avg_neighbor_degree

    edges = copurchase_edges(spark, sf_dir)
    return avg_neighbor_degree(edges).select(
        F.col("k").cast("long"), F.col("n_k"), F.col("s_k"), "knn"
    )


@query("bipartite_check", oracle=f"""
    {_WCC_CTE},
    walk(id, d) AS (
        SELECT component, 0 FROM (SELECT DISTINCT component FROM comp)
        UNION
        SELECT u.b, walk.d + 1 FROM walk JOIN und u ON u.a = walk.id
        WHERE walk.d < 16
    ),
    dist AS (SELECT id, MIN(d) AS d FROM walk GROUP BY id),
    canon AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    confl AS (
        SELECT c.component, count(*) AS n FROM canon e
        JOIN dist da ON da.id = e.a
        JOIN dist db ON db.id = e.b
        JOIN comp c ON c.id = e.a
        WHERE da.d % 2 = db.d % 2
        GROUP BY 1
    )
    SELECT CAST(c.component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(COALESCE(MAX(f.n), 0) AS BIGINT) AS n_conflicts,
           COALESCE(MAX(f.n), 0) = 0 AS is_bipartite
    FROM comp c LEFT JOIN confl f ON f.component = c.component
    GROUP BY c.component
    """)
def _q_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component odd-cycle test (kernels/components.py
    bipartite_check): WCC roots seed one BFS per component, the parity
    join counts same-level canonical edges — is_bipartite per component
    with exact conflict counts. Composition of two already-oracled
    kernels under one new gate."""
    from paragrapher_spark.kernels.components import bipartite_check

    edges = copurchase_edges(spark, sf_dir)
    res = bipartite_check(edges, max_depth=16)
    return res.select(
        F.col("component").cast("long"),
        F.col("n_vertices").cast("long"),
        F.col("n_conflicts").cast("long"),
        "is_bipartite",
    )


@query("triangle_count_doulion", oracle=f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    kept AS MATERIALIZED (
        SELECT a, b FROM und
        WHERE {_md5h("doulion", "CAST(a AS VARCHAR), CAST(b AS VARCHAR)")}
                  < {threshold_for(0.5)}
    ),
    ts AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM kept e1
        JOIN kept e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN kept e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    tx AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT ts.n AS sampled_triangles,
           CAST(ts.n AS DOUBLE) * 8.0 AS triangles_est,
           tx.n AS exact_triangles,
           (CAST(ts.n AS DOUBLE) * 8.0 - CAST(tx.n AS DOUBLE))
               / CAST(tx.n AS DOUBLE) AS rel_err
    FROM ts, tx
    """)
def _q_triangle_count_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle count (kernels/triangles.py
    triangle_count_sampled, Tsourakakis KDD'09) at p=1/2 next to the
    exact count: the deterministic md5 edge coin makes the sparsified
    count replayable, the estimate is sampled*8.0 exactly, and rel_err
    is ONE IEEE division — an approximate operator under a fully exact
    gate."""
    from paragrapher_spark.kernels.triangles import triangle_count_sampled

    # canonicalize ONCE and materialize: the sampled and exact counts
    # share the (expensive) co-purchase derivation instead of replaying
    # the whole lineage twice (plan audit: 84 -> ~40 exchanges)
    edges = (
        undirected_pairs(copurchase_edges(spark, sf_dir))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    s = triangle_count_sampled(edges, fraction=0.5)
    exact = triangle_count(edges).select(F.col("triangles").alias("exact_triangles"))
    return s.crossJoin(exact).select(
        F.col("sampled_triangles").cast("long"),
        F.col("triangles_est"),
        F.col("exact_triangles").cast("long"),
        (
            (F.col("triangles_est") - F.col("exact_triangles"))
            / F.col("exact_triangles")
        ).alias("rel_err"),
    )


_MATCH_UNROLL = 16


def _matching_oracle_sql(rounds: int) -> str:
    """kernels/matching.py unrolled: per round every undecided canonical
    edge compares its (md5, a, b) key against the ROW-min over undecided
    edges at each endpoint; strict double winners join, their endpoints'
    edges leave. Empty past the fixpoint, so over-unrolling is exact."""
    h_expr = _md5h("match", "CAST(a AS VARCHAR), CAST(b AS VARCHAR)")
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        f"""
    e0 AS MATERIALIZED (
        SELECT a, b, {h_expr} AS h FROM (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM edges WHERE src <> dst GROUP BY 1, 2
        )
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    vm{r} AS MATERIALIZED (
        SELECT v, MIN(ROW(h, a, b)) AS mn FROM (
            SELECT a AS v, h, a, b FROM e{r - 1}
            UNION ALL SELECT b AS v, h, a, b FROM e{r - 1}
        ) GROUP BY v
    ),
    w{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r - 1} e
        JOIN vm{r} ma ON ma.v = e.a
        JOIN vm{r} mb ON mb.v = e.b
        WHERE ROW(e.h, e.a, e.b) = ma.mn AND ROW(e.h, e.a, e.b) = mb.mn
    ),
    mv{r} AS MATERIALIZED (
        SELECT a AS v FROM w{r} UNION SELECT b FROM w{r}
    ),
    e{r} AS MATERIALIZED (
        SELECT a, b, h FROM e{r - 1}
        WHERE a NOT IN (SELECT v FROM mv{r})
          AND b NOT IN (SELECT v FROM mv{r})
    )""")
    matched = "\n        UNION ALL ".join(
        f"SELECT a, b, {r} AS r FROM w{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(r AS INTEGER) AS round
    FROM ({matched})""")
    return "".join(parts)


@query("maximal_matching", oracle=_matching_oracle_sql(_MATCH_UNROLL))
def _q_maximal_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicographically-first maximal matching (deterministic parallel
    local-min edge rounds, kernels/matching.py) of the co-purchase
    graph, with the round that matched each edge. Oracle: the rounds
    unrolled as materialized CTEs (empty past the fixpoint, so
    over-unrolling is exact — the MIS pattern on edges)."""
    from paragrapher_spark.kernels.matching import maximal_matching

    edges = copurchase_edges(spark, sf_dir)
    res = maximal_matching(edges)
    if res.rounds > _MATCH_UNROLL:
        raise AssertionError(
            f"matching took {res.rounds} rounds > the oracle's "
            f"{_MATCH_UNROLL}-round unroll; raise _MATCH_UNROLL"
        )
    return res.matching.select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("round").cast("int")
    )


def _dyad_census_oracle_sql() -> str:
    n = _CENSUS_N
    return f"""
        WITH e AS MATERIALIZED ({md5_vertex_graph_sql(n, _CENSUS_OUT_DEG)}),
        pair AS (
            SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                   count(*) AS k
            FROM e GROUP BY 1, 2
        )
        SELECT CAST({n} AS BIGINT) AS n_vertices,
               CAST(COALESCE(SUM(CASE WHEN k = 2 THEN 1 END), 0) AS BIGINT)
                   AS mutual,
               CAST(COALESCE(SUM(CASE WHEN k = 1 THEN 1 END), 0) AS BIGINT)
                   AS asym,
               CAST({n * (n - 1) // 2}
                    - COALESCE(SUM(CASE WHEN k = 2 THEN 1 END), 0)
                    - COALESCE(SUM(CASE WHEN k = 1 THEN 1 END), 0) AS BIGINT)
                   AS null_dyads
        FROM pair
    """


@query("dyad_census", oracle=_dyad_census_oracle_sql())
def _q_dyad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland–Leinhardt dyad census (kernels/census.py) of the md5
    directed vertex graph: mutual / asymmetric / null unordered pairs,
    null closed-form from the declared vertex universe. One exact-long
    row; the oracle regenerates the identical edge set by hash."""
    from paragrapher_spark.kernels.census import dyad_census

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return dyad_census(g, n_vertices=_CENSUS_N)


def _triad_motifs_oracle_sql() -> str:
    return f"""
        WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        p AS MATERIALIZED (
            SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
            FROM e e1 JOIN e e2 ON e2.src = e1.dst
            WHERE e1.src <> e2.dst
        )
        SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_paths2,
               CAST((SELECT count(*) FROM p
                     WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.src = p.u AND e.dst = p.w))
                    AS BIGINT) AS n_transitive,
               CAST((SELECT count(*) FROM p
                     WHERE EXISTS (SELECT 1 FROM e
                                   WHERE e.src = p.w AND e.dst = p.u)) // 3
                    AS BIGINT) AS n_cyclic
    """


@query("triad_motifs", oracle=_triad_motifs_oracle_sql())
def _q_triad_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad motifs (kernels/census.py): ordered length-2 paths,
    transitive closures, and directed 3-cycles (closing triples DIV 3 —
    exact) on the md5 vertex graph. One exact-long row."""
    from paragrapher_spark.kernels.census import triad_motifs

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return triad_motifs(g).motifs


_RMAT_SCALE = 10
_RMAT_EDGE_FACTOR = 8


def _rmat_degree_dist_oracle_sql() -> str:
    from paragrapher_spark.sources.edges import rmat_edges_sql

    return f"""
        WITH e AS MATERIALIZED (
            {rmat_edges_sql(_RMAT_SCALE, _RMAT_EDGE_FACTOR)}
        ),
        outd AS (SELECT src, count(*) AS d FROM e GROUP BY src)
        SELECT CAST(d AS BIGINT) AS out_degree,
               CAST(count(*) AS BIGINT) AS n_vertices
        FROM outd GROUP BY 1
    """


@query("rmat_degree_dist", oracle=_rmat_degree_dist_oracle_sql())
def _q_rmat_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the deterministic R-MAT scale-10 graph
    (sources/edges.py rmat_edges — Chakrabarti et al. 2004, Graph500
    .57/.19/.19/.05 quadrants as integer-percent hash thresholds): the
    heavy-tailed counterpart of the uniform md5 graph, exercising the
    skew path. The oracle regenerates the identical edge set by hash."""
    from paragrapher_spark.sources.edges import rmat_edges

    g = rmat_edges(spark, scale=_RMAT_SCALE, edge_factor=_RMAT_EDGE_FACTOR)
    return (
        g.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .groupBy(F.col("d").cast("long").alias("out_degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )
