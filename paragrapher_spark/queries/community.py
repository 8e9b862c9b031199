"""Community and embedding-input queries: label propagation, modularity,
Louvain, conductance, affinity, WL colors, link prediction, random and
node2vec walks, neighbor sampling and neighbor features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import vertex_ids
from paragrapher_spark.kernels.labelprop import label_propagation, modularity
from paragrapher_spark.kernels.linkpred import link_prediction
from paragrapher_spark.kernels.neighborhood import neighbor_feature_agg
from paragrapher_spark.kernels.walks import random_walks
from paragrapher_spark.queries import query
from paragrapher_spark.queries.graph import _msf_oracle_sql
from paragrapher_spark.sources.edges import (
    COPURCHASE_EDGES_SQL,
    COPURCHASE_WEIGHTED_EDGES_SQL,
    copurchase_edges,
    copurchase_weighted_edges,
    load_table,
    md5_vertex_graph,
)


def _lp_oracle_sql(rounds: int) -> str:
    """Synchronous label propagation, min-label tie-break, self-vote
    included — kernels/labelprop.py unrolled round by round.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs per reference,
    and each round references the previous one 2x — un-materialized, the
    expansion is 2^rounds copies of the base self-join (observed: disk
    exhaustion via temp spill)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT src AS a, dst AS b FROM edges WHERE src <> dst
        UNION
        SELECT dst AS a, src AS b FROM edges WHERE src <> dst
    ),
    lp0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS label FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    votes{r} AS MATERIALIZED (
        SELECT u.a AS id, l.label FROM und u JOIN lp{r - 1} l ON l.id = u.b
        UNION ALL
        SELECT id, label FROM lp{r - 1}
    ),
    cnt{r} AS MATERIALIZED (
        SELECT id, label, count(*) AS c FROM votes{r} GROUP BY id, label
    ),
    lp{r} AS MATERIALIZED (
        SELECT id, label FROM (
            SELECT id, label,
                   row_number() OVER (
                       PARTITION BY id ORDER BY c DESC, label ASC
                   ) AS rn
            FROM cnt{r}
        ) WHERE rn = 1
    )""")
    parts.append(
        f"\n    SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label"
        f" FROM lp{rounds}"
    )
    return "".join(parts)


@query("label_propagation", oracle=_lp_oracle_sql(10))
def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    res = label_propagation(edges, max_iter=10)
    return res.labels.select(F.col("id").cast("long"), F.col("label").cast("long"))


_WALK_LEN = 6
_WALK_START_MOD = 97


_NF_OUT_DEG = 4


def _walks_oracle_sql(length: int, start_mod: int, weighted: bool = False) -> str:
    """Unrolled replay of kernels/walks.py: step t's pick is
    md5('walk:42:walk_id:t') mod degree (unweighted: index pick) or mod
    total weight (weighted: pick lands in the neighbor's cumulative-
    weight interval) over the dst-sorted neighbor list — identical hash
    family both sides, so the walks match row for row."""
    hv = "('0x' || substr(md5('walk:42:' || s.walk_id::VARCHAR || ':{t}'), 1, 15))::BIGINT"
    ctes = []
    selects = ["SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS id FROM s0"]
    prev = "s0"
    for t in range(1, length + 1):
        h = hv.format(t=t)
        if weighted:
            ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT s.walk_id, a.dst AS cur
            FROM {prev} s
            JOIN tot tt ON tt.src = s.cur
            JOIN adj a ON a.src = s.cur
             AND ({h} % tt.totw) >= a.cumw - a.w
             AND ({h} % tt.totw) < a.cumw
        )""")
        else:
            ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT s.walk_id, a.dst AS cur
            FROM {prev} s JOIN adj a ON a.src = s.cur
             AND a.idx = {h} % a.deg
        )""")
        selects.append(
            f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS id FROM s{t}"
        )
        prev = f"s{t}"
    joined_ctes = ",\n        ".join(ctes)
    if weighted:
        return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_WEIGHTED_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst, weight FROM base
            UNION ALL SELECT dst AS src, src AS dst, weight FROM base),
        best AS MATERIALIZED (
            SELECT src, dst, CAST(MAX(weight) AS BIGINT) AS w
            FROM sym GROUP BY 1, 2),
        adj AS MATERIALIZED (
            SELECT src, dst, w,
                   CAST(SUM(w) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw
            FROM best),
        tot AS MATERIALIZED (
            SELECT src, CAST(SUM(w) AS BIGINT) AS totw FROM best GROUP BY src),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM best
            WHERE src % {start_mod} = 0),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst,
                   CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
                   CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
            FROM sym),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM sym
            WHERE src % {start_mod} = 0),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """


@query("random_walks", oracle=_walks_oracle_sql(_WALK_LEN, _WALK_START_MOD))
def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus (kernels/walks.py): md5-picked
    6-step walks over the undirected co-purchase graph from every vertex
    divisible by 97. The neighbor choice is a pure function of
    (walk_id, step), so the DuckDB oracle replays the walks exactly with
    6 unrolled pick-joins — a 'random' algorithm under the exact gate."""
    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    res = random_walks(edges, starts, length=_WALK_LEN, directed=False)
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


_N2V_LEN = 5
# (alpha_return, alpha_in, alpha_out) integer bias weights — node2vec's
# rational (1/p, 1, 1/q) scaled to integers; (1, 6, 3) favors
# triangle-closing 2x over outward steps and penalizes immediate
# backtracking 6x (an exploratory, backtrack-averse walker)
_N2V_ALPHAS = (1, 6, 3)


def _n2v_oracle_sql(
    length: int, start_mod: int, a_ret: int, a_in: int, a_out: int
) -> str:
    """Unrolled replay of kernels/walks.py node2vec_walks: step 1 is the
    first-order index pick; each later step classifies cur's neighbors
    by distance from prev via one LEFT join against the undirected edge
    set, builds cumulative integer alpha-weight intervals per walk, and
    lands the md5 pick value in one interval — identical hash family
    and arithmetic both sides, so the second-order walks match row for
    row."""
    hv = "('0x' || substr(md5('n2v:42:' || walk_id::VARCHAR || ':{t}'), 1, 15))::BIGINT"
    ctes = []
    selects = [
        "SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS id FROM s0",
        "SELECT walk_id, CAST(1 AS BIGINT) AS step, cur AS id FROM s1",
    ]
    prev = "s1"
    for t in range(2, length + 1):
        h = hv.format(t=t)
        ctes.append(f"""c{t} AS MATERIALIZED (
            SELECT s.walk_id, s.prev, s.cur, a.dst, a.idx,
                   (CASE WHEN a.dst = s.prev THEN {a_ret}
                         WHEN e.src IS NOT NULL THEN {a_in}
                         ELSE {a_out} END) AS aw
            FROM {prev} s
            JOIN adj a ON a.src = s.cur
            LEFT JOIN sym e ON e.src = s.prev AND e.dst = a.dst
        )""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT walk_id, cur AS prev, dst AS cur FROM (
                SELECT c.*,
                       SUM(aw) OVER (PARTITION BY walk_id ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(aw) OVER (PARTITION BY walk_id) AS tot
                FROM c{t} c)
            WHERE ({h} % tot) >= cum - aw AND ({h} % tot) < cum
        )""")
        selects.append(
            f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS id FROM s{t}"
        )
        prev = f"s{t}"
    joined_ctes = ",\n        ".join(ctes)
    h1 = hv.format(t=1)
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst,
                   CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
                   CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
            FROM sym),
        s0 AS MATERIALIZED (
            SELECT DISTINCT src AS walk_id, src AS cur FROM sym
            WHERE src % {start_mod} = 0),
        s1 AS MATERIALIZED (
            SELECT s.walk_id, s.cur AS prev, a.dst AS cur
            FROM s0 s JOIN adj a ON a.src = s.cur
             AND a.idx = ({h1} % a.deg)
        ),
        {joined_ctes}
        {' UNION ALL '.join(selects)}
    """


@query("node2vec_walks", oracle=_n2v_oracle_sql(
    _N2V_LEN, _WALK_START_MOD, *_N2V_ALPHAS
))
def _q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec corpus (kernels/walks.py node2vec_walks,
    Grover & Leskovec 2016): 5-step walks with integer bias triple
    (return=1, in=6, out=3) — a BFS-ish explorer that discourages
    immediate backtracking — from every vertex divisible by 97 on the
    undirected co-purchase graph. Step 1 is the first-order index pick;
    each later step classifies cur's neighbors by distance from prev
    (returns / triangle-closing / outward) and picks by cumulative
    integer alpha-weight interval, so the DuckDB oracle replays every
    walk row for row with unrolled candidate/window CTEs."""
    from paragrapher_spark.kernels.walks import node2vec_walks

    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    a_ret, a_in, a_out = _N2V_ALPHAS
    res = node2vec_walks(
        edges,
        starts,
        length=_N2V_LEN,
        alpha_return=a_ret,
        alpha_in=a_in,
        alpha_out=a_out,
        directed=False,
    )
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


_NSAMP_FANOUTS = (4, 3)


def _nsamp_oracle_sql(fanouts: tuple, start_mod: int) -> str:
    hv = (
        "('0x' || substr(md5('nsamp:42:{hop}:' || src::VARCHAR || ':' || "
        "dst::VARCHAR), 1, 15))::BIGINT"
    )
    ctes = []
    selects = []
    for hop, fanout in enumerate(fanouts):
        h = hv.format(hop=hop)
        ctes.append(f"""h{hop} AS MATERIALIZED (
            SELECT {hop} AS hop, src, dst FROM (
                SELECT a.src, a.dst,
                       row_number() OVER (PARTITION BY a.src
                           ORDER BY {h}, a.dst) AS rn
                FROM f{hop} f JOIN adj a ON a.src = f.id
            ) WHERE rn <= {int(fanout)}
        )""")
        ctes.append(
            f"f{hop + 1} AS (SELECT DISTINCT dst AS id FROM h{hop})"
        )
        selects.append(
            f"SELECT CAST(hop AS BIGINT) AS hop, src, dst FROM h{hop}"
        )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH base AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        sym AS MATERIALIZED (
            SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base),
        adj AS MATERIALIZED (
            SELECT src, dst FROM sym WHERE src <> dst),
        f0 AS MATERIALIZED (
            SELECT DISTINCT src AS id FROM sym WHERE src % {start_mod} = 0),
        {joined}
        {' UNION ALL '.join(selects)}
    """


@query("neighbor_sampling", oracle=_nsamp_oracle_sql(
    _NSAMP_FANOUTS, _WALK_START_MOD
))
def _q_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE minibatch sampler (kernels/walks.py neighbor_sampling):
    2-hop deterministic fan-out sample (4 then 3 neighbors, md5-ranked)
    from every vertex divisible by 97 on the undirected co-purchase
    graph — a mega-hub contributes fanout edges, not its adjacency. The
    oracle replays both hops with the same hash rank."""
    from paragrapher_spark.kernels.walks import neighbor_sampling

    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    seeds = verts.where(F.col("id") % _WALK_START_MOD == 0)
    return neighbor_sampling(
        edges, seeds, fanouts=list(_NSAMP_FANOUTS), directed=False
    ).select(
        F.col("hop").cast("long"),
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
    )


@query("random_walks_weighted", oracle=_walks_oracle_sql(
    _WALK_LEN, _WALK_START_MOD, weighted=True
))
def _q_random_walks_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional walks (kernels/walks.py, weight_col set) over
    the arc-labelled co-purchase graph — the reference's WG404 weighted
    capability driving the DeepWalk corpus generator: step picks land in
    cumulative-weight intervals, md5-deterministic, replayed exactly by
    the oracle's unrolled interval-joins."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    starts = verts.where(F.col("id") % _WALK_START_MOD == 0)
    res = random_walks(
        edges, starts, length=_WALK_LEN, directed=False, weight_col="weight"
    )
    return res.steps.select(
        F.col("walk_id").cast("long"),
        F.col("step").cast("long"),
        F.col("id").cast("long"),
    )


def _neighbor_features_oracle_sql(out_deg: int, scale: int = 10**6) -> str:
    """Exact-integer SpMM twin of kernels/neighborhood.py at hops=2 over
    the md5 vertex graph (sources/edges.py:md5_vertex_graph_sql inlined
    with n = count(embeddings) as a scalar subquery)."""
    return f"""
        WITH g AS (
            SELECT DISTINCT src, dst FROM (
                SELECT e.vec_id AS src,
                       ('0x' || substr(md5('gf:42:' || e.vec_id::VARCHAR || ':' || u.j::VARCHAR), 1, 15))::BIGINT
                           % (SELECT count(*) FROM embeddings) AS dst
                FROM embeddings e
                CROSS JOIN (SELECT unnest(range(1, {out_deg} + 1)) AS j) u
            ) WHERE src != dst
        ),
        q AS (
            SELECT vec_id AS id,
                   CAST(unnest(range(array_length(embedding))) AS BIGINT) AS pos,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * {scale}) AS BIGINT) AS s
            FROM embeddings
        ),
        s1 AS (SELECT g.src AS id, q.pos, SUM(q.s) AS s
               FROM g JOIN q ON q.id = g.dst GROUP BY 1, 2),
        c1 AS (SELECT g.src AS id, CAST(count(*) AS BIGINT) AS c
               FROM g JOIN (SELECT DISTINCT vec_id FROM embeddings) f
                 ON f.vec_id = g.dst GROUP BY 1),
        s2 AS (SELECT g.src AS id, s1.pos, SUM(s1.s) AS s
               FROM g JOIN s1 ON s1.id = g.dst GROUP BY 1, 2),
        c2 AS (SELECT g.src AS id, SUM(c1.c) AS c
               FROM g JOIN c1 ON c1.id = g.dst GROUP BY 1)
        SELECT s2.id, s2.pos, CAST(s2.s AS BIGINT) AS sum_q,
               CAST(c2.c AS BIGINT) AS cnt
        FROM s2 JOIN c2 ON c2.id = s2.id
    """


@query("neighbor_features", oracle=_neighbor_features_oracle_sql(_NF_OUT_DEG))
def _q_neighbor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 2-hop feature aggregation (kernels/neighborhood.py)
    over the embeddings table wired to a deterministic md5 vertex graph:
    sum_q = (A^2 q)(id, pos), cnt = (A^2 1)(id) with q the fixed-point
    quantized embeddings — EXACT integers end to end, so the oracle
    matches bit-for-bit (no float-summation-order ambiguity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    g = md5_vertex_graph(spark, n, out_deg=_NF_OUT_DEG)
    res = neighbor_feature_agg(
        g, emb, id_col="vec_id", vec_col="embedding", hops=2
    )
    return res.features.select(
        F.col("id").cast("long"),
        F.col("pos").cast("long"),
        F.col("sum_q").cast("long"),
        F.col("cnt").cast("long"),
    )


def _modularity_lp_oracle_sql(rounds: int) -> str:
    """Newman modularity of the round-``rounds`` LP labeling, exact-integer
    formulation mirroring kernels/labelprop.py:modularity — reuses the LP
    unroll as a subquery and recomputes Q = (4·m·Σe_c − Σd_c²)/(4·m²)."""
    return f"""
        WITH labels AS MATERIALIZED ({_lp_oracle_sql(rounds)}),
        edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS sum_ec
               FROM edges e
               JOIN labels l1 ON l1.id = e.src
               JOIN labels l2 ON l2.id = e.dst
               WHERE l1.label = l2.label),
        deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
                FROM und GROUP BY src),
        dc AS (SELECT l.label, CAST(SUM(d.d) AS BIGINT) AS dcs
               FROM deg d JOIN labels l ON l.id = d.id GROUP BY l.label),
        s2 AS (SELECT CAST(SUM(dcs * dcs) AS BIGINT) AS sum_dc2 FROM dc)
        SELECT m, sum_ec, sum_dc2,
               CAST(4 * m * sum_ec - sum_dc2 AS BIGINT) AS q_num,
               CAST(CAST(4 * m * sum_ec - sum_dc2 AS BIGINT) AS DOUBLE)
                   / CAST(4 * m * m AS DOUBLE) AS q
        FROM mm, ec, s2
    """


@query("modularity_lp", oracle=_modularity_lp_oracle_sql(10))
def _q_modularity_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 10-round label-propagation partition of
    the co-purchase graph (kernels/labelprop.py:modularity) — the
    standard community-quality score, in the exact-integer formulation
    Q = (4·m·Σe_c − Σd_c²)/(4·m²) so every column gates exactly (q is a
    single IEEE division of two exact longs, bit-identical across
    engines)."""
    edges = copurchase_edges(spark, sf_dir)
    res = label_propagation(edges, max_iter=10)
    return modularity(edges, res.labels)


# link prediction: exact-integer CN/RA (RA in 1e-12 fixed point via
# integer floor-division — summation-order-independent), jaccard =
# one IEEE division; total sort key -> deterministic top-50 set
@query("link_prediction", oracle=f"""
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
            adj AS (
                SELECT a AS w, b AS u FROM und
                UNION ALL SELECT b AS w, a AS u FROM und
            ),
            cen AS (
                SELECT adj.w, adj.u, deg.deg AS wdeg
                FROM adj JOIN deg ON deg.id = adj.w
            ),
            wedges AS (
                SELECT l.u AS u, r.u AS v, l.wdeg
                FROM cen l JOIN cen r ON l.w = r.w AND l.u < r.u
            ),
            pair AS (
                SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
                       CAST(SUM(1000000000000 // wdeg) AS BIGINT) AS ra_fp
                FROM wedges GROUP BY 1, 2
            ),
            cand AS (
                SELECT p.* FROM pair p
                LEFT JOIN und ON und.a = p.u AND und.b = p.v
                WHERE und.a IS NULL
            )
            SELECT CAST(c.u AS BIGINT) AS u, CAST(c.v AS BIGINT) AS v,
                   c.cn, c.ra_fp,
                   CAST(du.deg AS BIGINT) AS du, CAST(dv.deg AS BIGINT) AS dv,
                   CAST(c.cn AS DOUBLE)
                     / CAST(du.deg + dv.deg - c.cn AS DOUBLE) AS jaccard
            FROM cand c
            JOIN deg du ON du.id = c.u
            JOIN deg dv ON dv.id = c.v
            ORDER BY c.cn DESC, c.ra_fp DESC, u, v LIMIT 50
        """)
def _q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted links on the co-purchase graph by (common
    neighbors, resource allocation) — kernels/linkpred.py. Every score
    column is an exact integer (RA in 1e-12 fixed point via integer
    floor-division, summation-order-independent); jaccard is one IEEE
    division of exact longs. The (cn, ra_fp, u, v) sort key is total, so
    the top-50 SET is deterministic."""
    edges = copurchase_edges(spark, sf_dir)
    res = link_prediction(edges)
    return (
        res.scores.orderBy(
            F.col("cn").desc(), F.col("ra_fp").desc(), "u", "v"
        )
        .limit(50)
    )


_AFFINITY_LEVELS = 2


@query("affinity_clusters", oracle=_msf_oracle_sql(_AFFINITY_LEVELS, select="clusters"))
def _q_affinity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affinity clustering at contraction level 2 (Bateni et al.
    NeurIPS'17): the Boruvka component labels after 2 min-edge-hook
    rounds over the weighted co-purchase graph — a hierarchical
    clustering whose level-k cut is exactly round-k contraction
    (kernels/msf.py boruvka_msf(max_rounds=2).clusters)."""
    from paragrapher_spark.kernels.msf import boruvka_msf

    edges = copurchase_weighted_edges(spark, sf_dir)
    res = boruvka_msf(edges, max_rounds=_AFFINITY_LEVELS)
    return res.clusters.select(
        F.col("id").cast("long"), F.col("c").cast("long").alias("cluster")
    )


_WL_ROUNDS = 3


def _wl_oracle_sql(rounds: int) -> str:
    """1-WL refinement unrolled (kernels/wl.py): per round the sorted
    neighbor-color multiset as a comma-joined string (string_agg ORDER BY
    numeric color ≡ Spark sort_array) and DENSE_RANK() - 1 over the
    distinct (color, nsig) classes ordered (numeric, binary-string) — the
    same total order dense_ids ranks by. Over-unrolling past the class-
    count fixpoint relabels identically (refinement only splits classes,
    and a stable canonical coloring ranks back to itself)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),",
        """
    und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
        SELECT a AS v, b AS u FROM und UNION ALL SELECT b AS v, a AS u FROM und
    ),
    col0 AS MATERIALIZED (
        SELECT v AS id, COUNT(*) AS color FROM sym GROUP BY v
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
    sig{r} AS MATERIALIZED (
        SELECT s.v AS id,
               string_agg(CAST(c.color AS VARCHAR), ',' ORDER BY c.color) AS nsig
        FROM sym s JOIN col{r - 1} c ON c.id = s.u
        GROUP BY s.v
    ),
    cmb{r} AS MATERIALIZED (
        SELECT c.id, c.color, g.nsig
        FROM col{r - 1} c JOIN sig{r} g ON g.id = c.id
    ),
    map{r} AS MATERIALIZED (
        SELECT color, nsig,
               DENSE_RANK() OVER (ORDER BY color, nsig) - 1 AS new_color
        FROM (SELECT DISTINCT color, nsig FROM cmb{r})
    ),
    col{r} AS MATERIALIZED (
        SELECT cmb.id, m.new_color AS color
        FROM cmb{r} cmb
        JOIN map{r} m ON m.color = cmb.color AND m.nsig = cmb.nsig
    )""")
    parts.append(f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color
    FROM col{rounds}""")
    return "".join(parts)


@query("wl_colors", oracle=_wl_oracle_sql(_WL_ROUNDS))
def _q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement of the co-purchase graph (kernels/wl.py):
    canonical structural-fingerprint colors after 3 rounds from degree
    colors. All-integer canonical ids (two-phase distributed dense rank),
    gated bit-for-bit; the kernel's sound early stop (class count
    fixpoint ⟹ identity relabeling) keeps it exact vs the fixed unroll."""
    from paragrapher_spark.kernels.wl import wl_refinement

    edges = copurchase_edges(spark, sf_dir)
    res = wl_refinement(edges, rounds=_WL_ROUNDS)
    return res.colors.select(
        F.col("id").cast("long"), F.col("color").cast("long")
    )


_LOUVAIN_ROUNDS = 3


def _louvain_oracle_sql(rounds: int) -> str:
    """Louvain local-moving unroll mirroring kernels/louvain.py: per
    round Σtot, k_{v,c} (adjacency×labels), own-community seed via FULL
    OUTER merge, exact-long gain scores, grouped argmax with min-comm
    tie, strict-improvement move rule."""
    parts = [
        f"""WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src AS v, dst AS u FROM edges
            UNION ALL SELECT dst AS v, src AS u FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT v AS id, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY v
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM und),
        c0 AS MATERIALIZED (SELECT id, id AS c FROM deg)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        tot{r} AS MATERIALIZED (
            SELECT l.c AS comm, CAST(SUM(d.deg) AS BIGINT) AS tot
            FROM c{r - 1} l JOIN deg d ON d.id = l.id GROUP BY 1
        ),
        kvc{r} AS MATERIALIZED (
            SELECT a.v, l.c AS comm, CAST(count(*) AS BIGINT) AS kv
            FROM und a JOIN c{r - 1} l ON l.id = a.u GROUP BY 1, 2
        ),
        cand{r} AS MATERIALIZED (
            SELECT COALESCE(k.v, l.id) AS v,
                   COALESCE(k.comm, l.c) AS comm,
                   COALESCE(k.kv, 0) AS kv
            FROM kvc{r} k FULL OUTER JOIN c{r - 1} l
              ON l.id = k.v AND l.c = k.comm
        ),
        sc{r} AS MATERIALIZED (
            SELECT cd.v, cd.comm,
                   (SELECT two_m FROM mm) * cd.kv
                   - d.deg * (t.tot - CASE WHEN cd.comm = cu.c
                                           THEN d.deg ELSE 0 END) AS score
            FROM cand{r} cd
            JOIN deg d ON d.id = cd.v
            JOIN tot{r} t ON t.comm = cd.comm
            JOIN c{r - 1} cu ON cu.id = cd.v
        ),
        mx{r} AS (SELECT v, MAX(score) AS smax FROM sc{r} GROUP BY v),
        bst{r} AS (
            SELECT s.v, m.smax, MIN(s.comm) AS bcomm
            FROM sc{r} s JOIN mx{r} m ON m.v = s.v AND s.score = m.smax
            GROUP BY 1, 2
        ),
        c{r} AS MATERIALIZED (
            SELECT cu.id,
                   CASE WHEN b.smax > st.score AND cu.id % 2 = {r % 2}
                        THEN b.bcomm ELSE cu.c END AS c
            FROM c{r - 1} cu
            JOIN bst{r} b ON b.v = cu.id
            JOIN sc{r} st ON st.v = cu.id AND st.comm = cu.c
        )""")
    parts.append(f"""
        SELECT CAST(id AS BIGINT) AS id, CAST(c AS BIGINT) AS community
        FROM c{rounds}""")
    return "".join(parts)


@query("louvain_labels", oracle=_louvain_oracle_sql(_LOUVAIN_ROUNDS))
def _q_louvain_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain synchronous local-moving phase (kernels/louvain.py),
    3 rounds on the co-purchase graph: all-integer modularity-gain
    scores (2m·k_vc − k_v·Σtot(c∖v)), min-community tie-break, strict
    improvement to move — the oracle replays every round bit-exactly."""
    from paragrapher_spark.kernels.louvain import louvain_level

    edges = copurchase_edges(spark, sf_dir)
    return louvain_level(edges, rounds=_LOUVAIN_ROUNDS).labels


def _conductance_oracle_sql(rounds: int) -> str:
    return f"""
        WITH labels AS MATERIALIZED (
            SELECT id, community AS label FROM ({_louvain_oracle_sql(rounds)})
        ),
        edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
        tagged AS MATERIALIZED (
            SELECT l1.label AS ls, l2.label AS ld
            FROM edges e
            JOIN labels l1 ON l1.id = e.src
            JOIN labels l2 ON l2.id = e.dst
        ),
        cut AS (
            SELECT label, CAST(count(*) AS BIGINT) AS cut FROM (
                SELECT ls AS label FROM tagged WHERE ls <> ld
                UNION ALL SELECT ld AS label FROM tagged WHERE ls <> ld
            ) GROUP BY 1
        ),
        ud AS (
            SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
        ),
        deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM ud GROUP BY id),
        vol AS (
            SELECT l.label, CAST(count(*) AS BIGINT) AS n_vertices,
                   CAST(SUM(d.d) AS BIGINT) AS vol
            FROM deg d JOIN labels l ON l.id = d.id GROUP BY 1
        )
        SELECT CAST(v.label AS BIGINT) AS label, v.n_vertices, v.vol,
               CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
               CASE WHEN LEAST(v.vol, 2 * (SELECT m FROM mm) - v.vol) > 0
                    THEN CAST(COALESCE(c.cut, 0) AS DOUBLE)
                         / LEAST(v.vol, 2 * (SELECT m FROM mm) - v.vol)
                    ELSE 0.0 END AS phi
        FROM vol v LEFT JOIN cut c ON c.label = v.label
    """


@query("community_conductance", oracle=_conductance_oracle_sql(_LOUVAIN_ROUNDS))
def _q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the 3-round Louvain partition
    (kernels/labelprop.py community_conductance over kernels/louvain.py
    labels — detect-then-score, the community-pipeline shape): exact-long
    cut and volume per community, φ as one IEEE division; min(vol,
    2m−vol)=0 communities get φ=0.0 by documented convention. (LP labels
    would collapse to ONE community at small SF — a 1-row gate; Louvain's
    partition keeps the gate surface wide.)"""
    from paragrapher_spark.kernels.labelprop import community_conductance
    from paragrapher_spark.kernels.louvain import louvain_level

    edges = copurchase_edges(spark, sf_dir)
    res = louvain_level(edges, rounds=_LOUVAIN_ROUNDS)
    return community_conductance(edges, res.labels)
