"""Centrality and traversal queries: the PageRank family and PPR, HITS,
SALSA, Katz, eigenvector, BFS, SSSP, HyperBall, pseudo-diameter and the
sampled Brandes family (path counts, betweenness, closeness, ...).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import vertex_ids
from paragrapher_spark.kernels.betweenness import (
    betweenness,
    closeness_centrality,
    harmonic_centrality,
    shortest_path_levels,
)
from paragrapher_spark.kernels.bfs import bfs
from paragrapher_spark.kernels.hits import hits
from paragrapher_spark.kernels.hyperball import hyperball
from paragrapher_spark.kernels.katz import eigencentrality, katz
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.sssp import sssp
from paragrapher_spark.queries import _substrate, query
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


def _pagerank_oracle_sql(
    iters: int,
    damping: float = 0.85,
    seeds_limit: int | None = None,
    weighted: bool = False,
    edges_sql: str | None = None,
    converged_tol: float | None = None,
    verts_sql: str | None = None,
    seeds_sql: str | None = None,
    init_rank_sql: str | None = None,
    round_output: bool = True,
) -> str:
    """Damped PageRank with dangling redistribution (kernels/pagerank.py)
    unrolled. Arithmetic mirrors the Spark expressions operation-for-
    operation (e.g. ``(1.0 - d) + d*dm`` then ``restart*p + d*mass``) so
    IEEE-754 evaluation matches; the only divergence is float summation
    order, ~1e-16 relative, absorbed by ROUND(rank, 6) on both sides.

    ``seeds_limit=k``: personalized over the k smallest vertex ids.
    ``seeds_sql``: explicit seed-set SELECT (overrides seeds_limit's
    default ORDER BY id LIMIT k rule; must yield a column ``id``).
    ``weighted``: coef = weight / Σ_out weights instead of 1/outdeg
    (integer-valued weights sum exactly in float64 — deterministic).
    ``verts_sql``: explicit vertex-set SELECT (default: edge endpoints) —
    the kernel's ``vertices=`` argument, e.g. every corpus file including
    isolated ones.
    ``converged_tol``: mirror the kernel's CONVERGED mode — a per-round
    L-inf delta CTE rides each unrolled superstep and the final select
    picks the FIRST round with delta < tol (falling back to round
    ``iters``, the kernel's max_iter cap). Past the true stop round the
    extra unrolled rounds are dead CTEs — over-unrolling is safe, so
    ``iters`` only needs to be >= the data's actual iteration count
    (probed 21-28 at sf0.001/sf0.01; 40 leaves margin).
    ``init_rank_sql``: a SELECT yielding (id, rank) used as pr0 instead
    of the teleport distribution — the kernel's ``init_ranks`` warm-start
    twin; ids it misses coalesce to the per-vertex teleport share
    (uniform 1/n, or the personalized p), exactly the kernel's rule
    (kernels/pagerank.py warm-start branch — the r3 ADVICE asymmetry is
    resolved on both sides). ``round_output=False`` emits the raw double
    (needed
    when the query nests as another run's init vector — the kernel hands
    phase 2 its UNROUNDED phase-1 vector, so the oracle must too)."""
    d = damping
    if edges_sql is None:
        edges_sql = (
            COPURCHASE_WEIGHTED_EDGES_SQL if weighted else COPURCHASE_EDGES_SQL
        )
    if weighted:
        coef_sql = """
    wsum AS MATERIALIZED (
        SELECT src, SUM(CAST(weight AS DOUBLE)) AS ws FROM edges
        GROUP BY src HAVING SUM(CAST(weight AS DOUBLE)) <> 0
    ),
    ecoef AS MATERIALIZED (
        SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / w.ws AS coef
        FROM edges e JOIN wsum w ON w.src = e.src
    ),
    linked AS MATERIALIZED (SELECT src AS id FROM wsum)"""
    else:
        coef_sql = """
    odeg AS MATERIALIZED (SELECT src, count(*) AS c FROM edges GROUP BY src),
    ecoef AS MATERIALIZED (
        SELECT e.src, e.dst, 1.0 / o.c AS coef
        FROM edges e JOIN odeg o ON o.src = e.src
    ),
    linked AS MATERIALIZED (SELECT src AS id FROM odeg)"""
    personalized = seeds_limit is not None or seeds_sql is not None
    if not personalized:
        p_sql = "SELECT id, 1.0 / (SELECT n FROM nn) AS p FROM verts"
    else:
        p_sql = f"""
        SELECT v.id, CASE WHEN s.id IS NOT NULL
                          THEN 1.0 / (SELECT ns FROM nseeds)
                          ELSE 0.0 END AS p
        FROM verts v LEFT JOIN seeds s ON s.id = v.id"""
    if verts_sql is None:
        verts_sql = "SELECT src AS id FROM edges UNION SELECT dst FROM edges"
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql}),",
        f"""
    verts AS MATERIALIZED ({verts_sql}),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),""",
        coef_sql + ",",
    ]
    if personalized:
        if seeds_sql is None:
            seeds_sql = f"SELECT id FROM verts ORDER BY id LIMIT {seeds_limit}"
        parts.append(f"""
    seeds AS MATERIALIZED ({seeds_sql}),
    nseeds AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns FROM seeds),""")
    parts.append(f"""
    pv AS MATERIALIZED ({p_sql}),
    pr0 AS MATERIALIZED ({
        f'''SELECT v.id, COALESCE(i.rank, v.p) AS rank
        FROM pv v LEFT JOIN ({init_rank_sql}) i ON i.id = v.id'''
        if init_rank_sql is not None
        else "SELECT id, p AS rank FROM pv"
    })""")
    for r in range(1, iters + 1):
        parts.append(f""",
    dm{r} AS MATERIALIZED (
        SELECT COALESCE(SUM(p.rank), 0.0) AS dm
        FROM pr{r - 1} p LEFT JOIN linked l ON l.id = p.id
        WHERE l.id IS NULL
    ),
    pr{r} AS MATERIALIZED (
        SELECT v.id,
               ((1.0 - {d}) + {d} * (SELECT dm FROM dm{r})) * v.p
                   + {d} * COALESCE(m.mass, 0.0) AS rank
        FROM pv v LEFT JOIN (
            SELECT e.dst AS id, SUM(p.rank * e.coef) AS mass
            FROM ecoef e JOIN pr{r - 1} p ON p.id = e.src
            GROUP BY e.dst
        ) m ON m.id = v.id
    )""")
        if converged_tol is not None:
            parts.append(f""",
    dl{r} AS MATERIALIZED (
        SELECT MAX(ABS(p.rank - q.rank)) AS delta
        FROM pr{r} p JOIN pr{r - 1} q ON q.id = p.id
    )""")
    rank_out = "ROUND(rank, 6)" if round_output else "rank"
    # (see _prefix_pagerank_ctes below for nesting one run inside another)
    if converged_tol is None:
        parts.append(
            f"\n    SELECT CAST(id AS BIGINT) AS id, {rank_out} AS rank"
            f" FROM pr{iters}"
        )
    else:
        deltas = "\n        UNION ALL ".join(
            f"SELECT {r} AS r, (SELECT delta FROM dl{r}) AS delta"
            for r in range(1, iters + 1)
        )
        rounds = "\n        UNION ALL ".join(
            f"SELECT {r} AS r, id, rank FROM pr{r}" for r in range(1, iters + 1)
        )
        parts.append(f""",
    alld AS MATERIALIZED (
        {deltas}
    ),
    stopr AS MATERIALIZED (
        SELECT COALESCE(MIN(r), {iters}) AS r FROM alld
        WHERE delta < {converged_tol}
    ),
    allr AS MATERIALIZED (
        {rounds}
    )
    SELECT CAST(id AS BIGINT) AS id, {rank_out} AS rank
    FROM allr WHERE r = (SELECT r FROM stopr)""")
    return "".join(parts)


# converged variants: delta-terminated unroll (first round with
# L-inf delta < tol), mirroring kernels/pagerank.py:300 exactly
@query("pagerank_copurchase", oracle=_pagerank_oracle_sql(40, converged_tol=1e-6))
def _q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGED PageRank under the oracle gate: the DuckDB twin unrolls
    40 materialized rounds, computes the same per-round L-inf delta, and
    selects the FIRST round whose delta < tol — the kernel's exact
    termination rule (kernels/pagerank.py:300), so the data-dependent
    iteration count needs no carve-out. round(rank, 6) absorbs the
    ~1e-16 float-summation-order noise (same contract as the *_fixed
    variants)."""
    edges = copurchase_edges(spark, sf_dir)
    res = pagerank(edges, tol=1e-6, max_iter=60)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


_PREFIXED_CTE_TOKENS = (
    "edges", "verts", "nseeds", "seeds", "nn", "odeg", "wsum",
    "ecoef", "linked", "pv", "alld", "stopr", "allr",
)


def _prefix_pagerank_ctes(sql: str, pfx: str) -> str:
    """Rename every CTE a _pagerank_oracle_sql query defines with a
    prefix, so the query can nest as a subquery of ANOTHER such query
    (DuckDB raises 'Duplicate alias' on shadowed CTE names in a nested
    WITH).

    Why a global word-boundary rename is sound (ADVICE r3 hardening):
    renaming ALL occurrences of an identifier consistently preserves
    semantics — a fragment's own alias named e.g. ``edges`` and every
    reference to it rename together, and shadowing relationships are
    unchanged. The two ways it CAN silently corrupt are (1) a token
    inside a string LITERAL (the data value would change) — asserted
    loudly below — and (2) a token that is a physical base-table column
    name (the rename would break the binding against the parquet
    schema); the pre-registered views' columns (l_*, o_*, ps_*, s_*,
    c_*, n_*, r_*, doc_id, text, event_type, ...) share no word with
    the token list, and any future collision fails loudly as an unbound
    column, not a wrong answer."""
    for m in re.finditer(r"'(?:[^']|'')*'", sql):
        lit = m.group()
        for name in _PREFIXED_CTE_TOKENS:
            if re.search(rf"\b{name}\b", lit):
                raise ValueError(
                    f"_prefix_pagerank_ctes: string literal {lit!r} contains "
                    f"reserved CTE token {name!r}; renaming would corrupt the "
                    "literal — restructure the fragment"
                )
    for name in _PREFIXED_CTE_TOKENS:
        sql = re.sub(rf"\b{name}\b", f"{pfx}{name}", sql)
    return re.sub(r"\b(pr|dm|dl)(\d+)\b", rf"{pfx}\1\2", sql)


# two-phase warm-start replay: phase 1 (delta-terminated, ~90%
# edge subset, UNROUNDED) nests as phase 2's init vector — the
# exact trajectory _q_pagerank_incremental runs
@query("pagerank_incremental", oracle=_pagerank_oracle_sql(
    40,
    converged_tol=1e-6,
    init_rank_sql=_prefix_pagerank_ctes(
        _pagerank_oracle_sql(
            40,
            converged_tol=1e-6,
            edges_sql=(
                f"SELECT src, dst FROM ({COPURCHASE_EDGES_SQL})"
                " WHERE (src * 7919 + dst) % 10 <> 0"
            ),
            round_output=False,
        ),
        "w1_",
    ),
))
def _q_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start (incremental) PageRank under the oracle gate: converge
    on yesterday's graph (a deterministic ~90% edge subset), then
    re-converge on today's full graph starting from yesterday's vector
    (kernels/pagerank.py ``init_ranks``) — the daily-delta update path a
    100 TB link graph actually runs, where re-starting from uniform
    wastes most of the supersteps. The unique fixpoint means the answer
    equals a cold run's; the oracle replays the SAME two-phase
    trajectory (phase-1 delta-terminated unroll nested as phase 2's pr0)
    so both engines stop on the same superstep and round(6) gates
    exactly. tests/test_pagerank.py asserts the warm phase takes fewer
    supersteps than cold."""
    edges = copurchase_edges(spark, sf_dir)
    old = edges.where((F.col("src") * 7919 + F.col("dst")) % 10 != 0)
    warm = pagerank(old, tol=1e-6, max_iter=60)
    res = pagerank(edges, tol=1e-6, max_iter=60, init_ranks=warm.ranks)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("bfs_depths", oracle=f"""
            WITH RECURSIVE e AS ({COPURCHASE_EDGES_SQL}),
            und AS (
                SELECT src, dst FROM e
                UNION
                SELECT dst AS src, src AS dst FROM e
            ),
            walk(id, dist) AS (
                SELECT (SELECT MIN(LEAST(src, dst)) FROM e), 0
                UNION
                SELECT u.dst, walk.dist + 1
                FROM walk JOIN und u ON u.src = walk.id
                WHERE walk.dist < 6
            )
            SELECT CAST(id AS BIGINT) AS id,
                   CAST(MIN(dist) AS BIGINT) AS dist
            FROM walk GROUP BY id
        """)
def _q_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected hop distances from the smallest vertex id, capped at 6
    hops — frontier-superstep BFS vs the DuckDB recursive-CTE oracle."""
    edges = copurchase_edges(spark, sf_dir)
    src = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    res = bfs(edges, [int(src)], directed=False, max_depth=6)
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long")
    )


_SSSP_UNROLL = 24


def _sssp_oracle_sql(rounds: int) -> str:
    """Synchronous Bellman-Ford unrolled to ``rounds`` materialized CTE
    relaxations over the undirected weighted co-purchase graph, from the
    smallest vertex id. Round k holds min summed weight over paths of <= k
    edges — exactly kernels/sssp.py's round-k state; past convergence the
    min-merge is a fixpoint, so over-unrolling is exact."""
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""
    r{k} AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
            SELECT id, dist FROM r{k - 1}
            UNION ALL
            SELECT u.dst AS id, r.dist + u.w AS dist
            FROM r{k - 1} r JOIN und u ON u.src = r.id
        ) GROUP BY id
    )"""
        )
    return f"""
    WITH e AS ({COPURCHASE_WEIGHTED_EDGES_SQL}),
    und AS (
        SELECT src, dst, MIN(weight) AS w FROM (
            SELECT src, dst, weight FROM e
            UNION ALL
            SELECT dst AS src, src AS dst, weight FROM e
        ) GROUP BY src, dst
    ),
    r0 AS MATERIALIZED (
        SELECT (SELECT MIN(LEAST(src, dst)) FROM e) AS id,
               CAST(0 AS BIGINT) AS dist
    ),
    {",".join(ctes)}
    SELECT CAST(id AS BIGINT) AS id, CAST(dist AS BIGINT) AS dist
    FROM r{rounds}
    """


@query("sssp_weighted", oracle=_sssp_oracle_sql(_SSSP_UNROLL))
def _q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the arc-labelled (WG404-
    style) co-purchase graph from the smallest vertex id, undirected.
    Oracle: synchronous Bellman-Ford unrolled as materialized CTE rounds
    (frontier relaxation reaches the identical round-k state; past the
    fixpoint extra rounds are exact — the k-core argument)."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    src = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    res = sssp(edges, [int(src)], directed=False, max_iter=_SSSP_UNROLL + 1)
    # the oracle materializes _SSSP_UNROLL relaxation rounds; fail HERE
    # with the cause if a bigger SF ever needs more (the k-core guard)
    if not res.converged or res.iterations > _SSSP_UNROLL:
        raise AssertionError(
            f"sssp took {res.iterations} rounds (converged={res.converged}) "
            f"vs the oracle's {_SSSP_UNROLL}-round unroll; raise _SSSP_UNROLL"
        )
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long")
    )


def _hyperball_ctes(radius: int) -> str:
    """Shared WITH-body of the hyperball oracles at ``radius``: register
    evolution (sparse (v, reg, rho) rows, GROUP BY max merge) + per-radius
    ball estimates e0..e{radius} — the verbatim transliteration of
    hyperball.ball_estimate (exact-BIGINT denominator, shared literal
    constants, shared ln() CASE table)."""
    from paragrapher_spark.kernels.hyperball import (
        EST_NUM,
        LN_TABLE,
        M,
        RHO_CAP,
        SMALL_RANGE,
    )

    ln_case = " ".join(
        f"WHEN {z} THEN {LN_TABLE[z - 1]!r}" for z in range(1, M + 1)
    )
    rounds, ests = [], []
    for k in range(1, radius + 1):
        rounds.append(
            f"""
    r{k} AS MATERIALIZED (
        SELECT v, reg, MAX(rho) AS rho FROM (
            SELECT v, reg, rho FROM r{k - 1}
            UNION ALL
            SELECT u.src AS v, s.reg, s.rho
            FROM r{k - 1} s JOIN und u ON u.dst = s.v
        ) GROUP BY v, reg
    )"""
        )
    for k in range(0, radius + 1):
        ests.append(
            f"""
    e{k} AS MATERIALIZED (
        SELECT v, ROUND(CASE WHEN raw <= {SMALL_RANGE!r} AND zeros > 0
                             THEN CASE zeros {ln_case} END
                        ELSE raw END, 6) AS est
        FROM (
            SELECT v, {EST_NUM!r} / CAST(denom AS DOUBLE) AS raw, zeros
            FROM (
                SELECT v,
                       SUM(CAST(1 AS BIGINT) << ({RHO_CAP} - rho))
                           + ({M} - COUNT(*)) * CAST({2**RHO_CAP} AS BIGINT)
                           AS denom,
                       {M} - COUNT(*) AS zeros
                FROM r{k} GROUP BY v
            )
        )
    )"""
        )
    return f"""
    WITH e0g AS ({COPURCHASE_EDGES_SQL}),
    und AS (
        SELECT src, dst FROM e0g
        UNION
        SELECT dst AS src, src AS dst FROM e0g
    ),
    verts AS (SELECT DISTINCT src AS id FROM und),
    hh AS (
        SELECT id,
               ('0x' || substr(md5(concat_ws(':', 'hb', '42',
                   CAST(id AS VARCHAR))), 1, 15))::BIGINT AS hv
        FROM verts
    ),
    r0 AS MATERIALIZED (
        SELECT id AS v, hv % {M} AS reg,
               CASE WHEN hv // {M} = 0 THEN {RHO_CAP}
                    ELSE LEAST(1 + bit_count(((hv // {M}) & -(hv // {M})) - 1),
                               {RHO_CAP})
               END AS rho
        FROM hh
    ),
    {",".join(rounds)},
    {",".join(ests)}"""


def _hyperball_oracle_sql(radius: int) -> str:
    """DuckDB twin of kernels/hyperball.py at ``radius`` on the undirected
    co-purchase graph: per-vertex ball + harmonic over the shared CTEs."""
    # harmonic accumulation mirrors the kernel's left-associated sum of
    # INTEGER-rounded ball deltas: ((0.0 + n1/1.0) + n2/2.0) + ... — n/2^k
    # is binary-exact and n/3,/5... never lands on a 1e-6 decimal tie, so
    # the final ROUND(6) agrees across engines (kernels/hyperball.py)
    harmonic = " + ".join(
        f"(ROUND(e{k}.est) - ROUND(e{k - 1}.est)) / {float(k)!r}"
        for k in range(1, radius + 1)
    )
    joins = " ".join(f"JOIN e{k} USING (v)" for k in range(1, radius + 1))
    return f"""{_hyperball_ctes(radius)}
    SELECT CAST(v AS BIGINT) AS id,
           e{radius}.est AS ball,
           ROUND(0.0 + {harmonic}, 6) AS harmonic
    FROM e0 {joins}
    """


@query("hyperball_balls", oracle=_hyperball_oracle_sql(3))
def _q_hyperball_balls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (the WebGraph framework's companion algorithm) at radius 3
    on the undirected co-purchase graph: per-vertex ball-size estimate +
    harmonic centrality. A SKETCH under the exact-hash gate: registers use
    the portable md5 hash family and an exact-integer estimator, so DuckDB
    reproduces every register and every rounded double bit-for-bit."""
    edges = copurchase_edges(spark, sf_dir)
    res = hyperball(edges, radius=3, directed=False)
    return res.states.select(
        F.col("id").cast("long"),
        F.col("ball").cast("double"),
        F.col("harmonic").cast("double"),
    )


_NF_RADIUS = 6


def _neighborhood_function_sql(radius: int) -> str:
    """_q_neighborhood_function's twin: per-radius neighborhood function
    nf(t) = SUM of integer-rounded ball estimates (exact BIGINTs, the
    kernel's HyperBallResult.nf), coverage fraction as ONE IEEE division
    of those longs, and the HyperANF effective diameter flagged by the
    all-integer comparison nf(t)*10 >= 9*nf(R) at its minimal t."""
    nfs = "\n        UNION ALL ".join(
        f"SELECT {k} AS radius, SUM(CAST(ROUND(est) AS BIGINT)) AS nf FROM e{k}"
        for k in range(0, radius + 1)
    )
    return f"""{_hyperball_ctes(radius)},
    nft AS MATERIALIZED (
        {nfs}
    ),
    fin AS (SELECT nf AS nf_r FROM nft WHERE radius = {radius}),
    eff AS (
        SELECT MIN(radius) AS t FROM nft, fin WHERE nf * 10 >= 9 * nf_r
    )
    SELECT CAST(nft.radius AS INTEGER) AS radius,
           CAST(nft.nf AS BIGINT) AS nf,
           CAST(nft.nf AS DOUBLE) / CAST(fin.nf_r AS DOUBLE) AS coverage,
           nft.radius = eff.t AS is_effective_diameter
    FROM nft, fin, eff
    """


@query("neighborhood_function", oracle=_neighborhood_function_sql(_NF_RADIUS))
def _q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperANF use-case on top of the HyperBall kernel: the
    neighborhood function nf(t) (how many (v, u) pairs lie within
    distance t) per radius 0..6, coverage fraction vs the final radius,
    and the effective diameter — the minimal t with nf(t) >= 0.9*nf(R),
    decided by the all-integer comparison nf(t)*10 >= 9*nf(R) (Boldi-
    Vigna-Rosa, HyperANF WWW'11; WebGraph's own diameter analytic).
    Driver work is O(radius) ints — the per-radius nf values ride the
    kernel's existing one-action-per-round sums."""
    edges = copurchase_edges(spark, sf_dir)
    res = hyperball(edges, radius=_NF_RADIUS, directed=False)
    nf = res.nf
    nf_r = nf[-1]
    eff = min(t for t in range(len(nf)) if nf[t] * 10 >= 9 * nf_r)
    rows = [
        (t, nf[t], float(nf[t]) / float(nf_r), t == eff)
        for t in range(len(nf))
    ]
    return spark.createDataFrame(
        rows,
        "radius int, nf long, coverage double, is_effective_diameter boolean",
    )


_PSEUDO_DIAM_SWEEPS = 3
_PSEUDO_DIAM_UNROLL = 16


def _pseudo_diameter_oracle_sql(sweeps: int, levels: int) -> str:
    """Mirror of kernels/bfs.py pseudo_diameter: per sweep an unrolled
    single-source frontier BFS (frontier = neighbors minus visited, the
    kernel's exact superstep), the next sweep's source selected by the
    same total order (dist DESC, id ASC). ``levels`` must exceed the true
    eccentricities — the Spark query asserts that before returning."""
    parts = [
        f"edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        """und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst GROUP BY 1, 2)""",
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM und "
        "UNION ALL SELECT b AS src, a AS dst FROM und)",
        "deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM sym GROUP BY 1)",
        "s0 AS MATERIALIZED (SELECT id FROM deg ORDER BY deg DESC, id ASC LIMIT 1)",
    ]
    rows = []
    src_cte = "s0"
    for s in range(sweeps):
        w = f"sw{s}"
        parts.append(f"{w}f0 AS MATERIALIZED (SELECT id FROM {src_cte})")
        parts.append(f"{w}v0 AS MATERIALIZED (SELECT id FROM {w}f0)")
        for d in range(1, levels + 1):
            parts.append(f"""{w}f{d} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS id
        FROM {w}f{d - 1} p JOIN sym e ON e.src = p.id
        WHERE NOT EXISTS (SELECT 1 FROM {w}v{d - 1} v WHERE v.id = e.dst))""")
            parts.append(
                f"{w}v{d} AS MATERIALIZED (SELECT id FROM {w}v{d - 1} "
                f"UNION ALL SELECT id FROM {w}f{d})"
            )
        lvl_union = " UNION ALL ".join(
            f"SELECT id, CAST({d} AS BIGINT) AS dist FROM {w}f{d}"
            for d in range(levels + 1)
        )
        parts.append(f"{w}lvl AS MATERIALIZED ({lvl_union})")
        parts.append(
            f"{w}far AS MATERIALIZED (SELECT id, dist FROM {w}lvl "
            f"ORDER BY dist DESC, id ASC LIMIT 1)"
        )
        rows.append(
            f"SELECT CAST({s} AS BIGINT) AS sweep,"
            f" CAST((SELECT id FROM {src_cte}) AS BIGINT) AS source,"
            f" CAST((SELECT dist FROM {w}far) AS BIGINT) AS ecc,"
            f" CAST((SELECT id FROM {w}far) AS BIGINT) AS farthest"
        )
        src_cte = f"{w}far"
    return "WITH " + ",\n    ".join(parts) + "\n    " + " UNION ALL ".join(rows)


@query("pseudo_diameter", oracle=_pseudo_diameter_oracle_sql(
    _PSEUDO_DIAM_SWEEPS, _PSEUDO_DIAM_UNROLL
))
def _q_pseudo_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep pseudo-diameter lower bound of the co-purchase graph
    (kernels/bfs.py pseudo_diameter): BFS from the max-degree vertex,
    re-BFS from the farthest vertex, 3 sweeps; one row per sweep
    (sweep, source, ecc, farthest) — all-integer, deterministic
    tie-breaks (min id), gated bit-for-bit against the unrolled-BFS
    oracle. The result table is O(sweeps) rows by construction."""
    from paragrapher_spark.kernels.bfs import pseudo_diameter

    edges = copurchase_edges(spark, sf_dir)
    res = pseudo_diameter(edges, sweeps=_PSEUDO_DIAM_SWEEPS, max_depth=64)
    if res.max_depth_seen > _PSEUDO_DIAM_UNROLL:
        raise AssertionError(
            f"BFS depth {res.max_depth_seen} > the oracle's "
            f"{_PSEUDO_DIAM_UNROLL}-level unroll; raise _PSEUDO_DIAM_UNROLL"
        )
    return spark.createDataFrame(
        [
            (int(r["sweep"]), int(r["source"]), int(r["ecc"]), int(r["farthest"]))
            for r in res.sweeps
        ],
        "sweep long, source long, ecc long, farthest long",
    )


def _hits_oracle_sql(iters: int) -> str:
    """Kleinberg HITS unrolled: auth round k sums hub round k-1 over
    in-edges, hub round k sums auth round k over out-edges (the kernel's
    exact interleave), normalized once at the end by each vector's L1 mass
    over ALL vertices (missing side = 0)."""
    ctes = []
    for k in range(1, iters + 1):
        ctes.append(
            f"""
    a{k} AS MATERIALIZED (
        SELECT e.dst AS id, SUM(h.hub) AS auth
        FROM e JOIN h{k - 1} h ON e.src = h.id GROUP BY e.dst
    ),
    h{k} AS MATERIALIZED (
        SELECT e.src AS id, SUM(a.auth) AS hub
        FROM e JOIN a{k} a ON e.dst = a.id GROUP BY e.src
    )"""
        )
    return f"""
    WITH e AS ({CUSTOMER_ORDER_EDGES_SQL}),
    verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (
        SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts
    ),
    {",".join(ctes)},
    fin AS (
        SELECT v.id,
               COALESCE(a.auth, 0.0) AS auth,
               COALESCE(h.hub, 0.0) AS hub
        FROM verts v
        LEFT JOIN a{iters} a ON a.id = v.id
        LEFT JOIN h{iters} h ON h.id = v.id
    )
    SELECT CAST(id AS BIGINT) AS id,
           ROUND(auth / (SELECT SUM(auth) FROM fin), 6) AS authority,
           ROUND(hub / (SELECT SUM(hub) FROM fin), 6) AS hub
    FROM fin
    """


@query("hits_fixed", oracle=_hits_oracle_sql(8))
def _q_hits_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS, 8 synchronous rounds, end-normalized, on the
    directed customer->order graph. Oracle: 8 unrolled materialized CTE
    rounds. At sf<=0.01 every intermediate is an exact integer in double
    (max degree^8 < 2^53), so the hash match is exact, not rounding-luck."""
    edges = customer_order_edges(spark, sf_dir)
    res = hits(edges, iterations=8)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("authority").cast("double"),
        F.col("hub").cast("double"),
    )


@query("pagerank_personalized", oracle=_pagerank_oracle_sql(
    40,
    converged_tol=1e-6,
    seeds_sql=(
        "SELECT DISTINCT LEAST(src, dst) AS id FROM edges"
        " ORDER BY id LIMIT 10"
    ),
))
def _q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the 10 smallest least(src,dst)
    values — restart + dangling mass return to the seed set. Converged
    variant under the oracle gate via the same delta-terminated unroll as
    pagerank_copurchase (numpy twin additionally in tests/test_pagerank.py)."""
    edges = copurchase_edges(spark, sf_dir)
    seeds = [r[0] for r in edges.select(F.least("src", "dst")).distinct().orderBy(F.least("src", "dst")).limit(10).collect()]
    res = pagerank(edges, tol=1e-6, max_iter=60, teleport=seeds)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("pagerank_fixed8", oracle=_pagerank_oracle_sql(8))
def _q_pagerank_fixed8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship kernel under the oracle gate: exactly 8 damped
    supersteps (tol=0 disables early exit) with dangling redistribution,
    ranks rounded to 6 decimals on both sides. The converged variant
    (pagerank_copurchase) stays rows-only; this pins the superstep
    arithmetic itself against an unrolled DuckDB CTE."""
    edges = copurchase_edges(spark, sf_dir)
    res = pagerank(edges, tol=0.0, max_iter=8)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("pagerank_personalized_fixed", oracle=_pagerank_oracle_sql(8, seeds_limit=10))
def _q_pagerank_personalized_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized variant under the oracle gate: teleport = 10 smallest
    vertex ids (uniform), 8 fixed supersteps; restart AND dangling mass
    return to the seed set per the teleport vector."""
    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    seeds = [r[0] for r in verts.orderBy("id").limit(10).collect()]
    res = pagerank(edges, tol=0.0, max_iter=8, teleport=seeds)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("pagerank_weighted_fixed", oracle=_pagerank_oracle_sql(8, weighted=True))
def _q_pagerank_weighted_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted variant under the oracle gate: co-purchase arcs weighted by
    shared-order count, rank distributed proportionally to weights
    (coef = w / Σ_out w), 8 fixed supersteps."""
    edges = copurchase_weighted_edges(spark, sf_dir)
    res = pagerank(edges, tol=0.0, max_iter=8, weight_col="weight")
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


_BC_SOURCE_MOD = 499
_BC_UNROLL = 10


def _bc_seeds(spark: SparkSession, sf_dir: str):
    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    return edges, verts.where(F.col("id") % _BC_SOURCE_MOD == 0)


def _bc_result(spark: SparkSession, sf_dir: str):
    """The sampled-source Brandes result shared by sp_counts and
    betweenness_sampled."""

    def build():
        edges, seeds = _bc_seeds(spark, sf_dir)
        res = betweenness(edges, seeds, directed=False)
        # the oracle materializes _BC_UNROLL forward/backward levels; fail
        # HERE with the cause if a bigger SF ever outgrows the unroll
        # (the kcore-oracle guard pattern, ADVICE r2)
        if res.depth > _BC_UNROLL:
            raise AssertionError(
                f"BFS depth {res.depth} > the oracle's {_BC_UNROLL}-level "
                f"unroll; raise _BC_UNROLL"
            )
        return res

    return _substrate(spark, ("bc", sf_dir), build)


def _sp_levels(spark: SparkSession, sf_dir: str):
    """(levels, depth) of the sampled-source forward BFS — the shared
    substrate of harmonic/closeness/eccentricity."""

    def build():
        edges, seeds = _bc_seeds(spark, sf_dir)
        levels, depth, _ = shortest_path_levels(edges, seeds, directed=False)
        if depth > _BC_UNROLL:
            raise AssertionError(
                f"BFS depth {depth} > the oracle's {_BC_UNROLL}-level unroll; "
                f"raise _BC_UNROLL"
            )
        return levels, depth

    return _substrate(spark, ("sp_levels", sf_dir), build)


def _brandes_cte(levels: int, source_mod: int, forward_only: bool = False) -> str:
    """Shared CTE chain for the Brandes oracles: unrolled multi-source
    BFS levels (exact σ) + descending dependency accumulation, mirroring
    kernels/betweenness.py level for level."""
    parts = [
        f"base AS MATERIALIZED ({COPURCHASE_EDGES_SQL})",
        "sym AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst AS src, src AS dst FROM base)",
        f"""l0 AS MATERIALIZED (SELECT DISTINCT src AS source, src AS id,
                          CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
                   FROM sym WHERE src % {source_mod} = 0)""",
        "v0 AS MATERIALIZED (SELECT source, id FROM l0)",
    ]
    for d in range(1, levels + 1):
        parts.append(f"""l{d} AS MATERIALIZED (
            SELECT p.source, e.dst AS id, CAST({d} AS BIGINT) AS dist,
                   CAST(SUM(p.sigma) AS BIGINT) AS sigma
            FROM l{d - 1} p JOIN sym e ON e.src = p.id
            WHERE NOT EXISTS (SELECT 1 FROM v{d - 1} v
                              WHERE v.source = p.source AND v.id = e.dst)
            GROUP BY 1, 2
        )""")
        parts.append(
            f"v{d} AS MATERIALIZED (SELECT source, id FROM v{d - 1} "
            f"UNION ALL SELECT source, id FROM l{d})"
        )
    lvl_union = " UNION ALL ".join(f"SELECT * FROM l{d}" for d in range(levels + 1))
    parts.append(f"lvl AS MATERIALIZED ({lvl_union})")
    if forward_only:
        return ",\n        ".join(parts)
    # backward: deepest level's δ is 0 (the unroll is asserted to exceed
    # the true depth), so b_{levels-1} has no deeper-δ join
    parts.append(f"""b{levels - 1} AS MATERIALIZED (
        SELECT lv.source, lv.id,
               SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)) AS delta
        FROM lvl lv JOIN sym e ON e.src = lv.id
        JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                   AND lw.dist = lv.dist + 1
        WHERE lv.dist = {levels - 1}
        GROUP BY 1, 2
    )""")
    for d in range(levels - 2, -1, -1):
        parts.append(f"""b{d} AS MATERIALIZED (
            SELECT lv.source, lv.id,
                   SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)
                       * (1 + COALESCE(dn.delta, 0))) AS delta
            FROM lvl lv JOIN sym e ON e.src = lv.id
            JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                       AND lw.dist = lv.dist + 1
            LEFT JOIN b{d + 1} dn ON dn.source = lv.source AND dn.id = lw.id
            WHERE lv.dist = {d}
            GROUP BY 1, 2
        )""")
    b_union = " UNION ALL ".join(
        f"SELECT * FROM b{d}" for d in range(levels)
    )
    parts.append(f"alldelta AS MATERIALIZED ({b_union})")
    return ",\n        ".join(parts)


@query("harmonic_sampled", oracle=f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id,
                   CAST(SUM(CAST(2520 // dist AS BIGINT)) AS BIGINT) AS h_num,
                   CAST(2520 AS BIGINT) AS h_den
            FROM lvl WHERE dist > 0 GROUP BY id
        """)
def _q_harmonic_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality over the sampled source set
    (kernels/betweenness.py:harmonic_centrality): h(v) = Σ_s 1/dist(s,v)
    scaled by lcm(1..unroll) = 2520 so every term — and the gated sum —
    is an exact integer. Closes the centrality family next to HyperBall's
    approximate harmonic (this one is exact for the sample). Shares the
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    out = harmonic_centrality(levels, depth=_BC_UNROLL)
    return out.select(
        F.col("id").cast("long"),
        F.col("h_num").cast("long"),
        F.col("h_den").cast("long"),
    )


@query("closeness_sampled", oracle=f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id,
                   CAST(COUNT(*) AS BIGINT) AS reached,
                   CAST(SUM(dist) AS BIGINT) AS dist_sum,
                   CAST(COUNT(*) AS DOUBLE) / CAST(SUM(dist) AS DOUBLE)
                       AS closeness
            FROM lvl WHERE dist > 0 GROUP BY id
        """)
def _q_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closeness centrality over the sampled source set
    (kernels/betweenness.py:closeness_centrality): reached/dist_sum as
    exact longs, closeness = ONE IEEE division — completing the sampled
    centrality family (betweenness, harmonic, closeness) on the shared
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    out = closeness_centrality(levels)
    return out.select(
        F.col("id").cast("long"),
        F.col("reached").cast("long"),
        F.col("dist_sum").cast("long"),
        "closeness",
    )


@query("eccentricity_sampled", oracle=f"""
            WITH {_brandes_cte(_BC_UNROLL, _BC_SOURCE_MOD, forward_only=True)}
            SELECT id, CAST(MAX(dist) AS BIGINT) AS ecc_lb
            FROM lvl GROUP BY id
        """)
def _q_eccentricity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled eccentricity lower bound per vertex: ecc(v) >= max over
    sampled sources s of dist(s, v) — the standard BFS-sample diameter
    lower-bounding technique (e.g. Crescenzi et al., iFUB). All-integer
    (max of exact BFS levels); the max over ALL vertices of this column
    is the graph's best sampled diameter lower bound. Shares the
    memoized forward-levels substrate (_sp_levels)."""
    levels, _depth = _sp_levels(spark, sf_dir)
    return levels.groupBy("id").agg(
        F.max("dist").cast("long").alias("ecc_lb")
    ).select(F.col("id").cast("long"), "ecc_lb")


def _sp_counts_oracle_sql(levels: int, source_mod: int) -> str:
    return f"""
        WITH {_brandes_cte(levels, source_mod)}
        SELECT source, id, dist, sigma FROM lvl
    """


@query("sp_counts", oracle=_sp_counts_oracle_sql(_BC_UNROLL, _BC_SOURCE_MOD))
def _q_sp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes forward phase (kernels/betweenness.py): exact
    shortest-path counts σ(s, v) and hop distances from the sampled
    source set — INTEGER-exact end to end, gated bit-for-bit."""
    res = _bc_result(spark, sf_dir)
    return res.levels.select(
        F.col("source").cast("long"),
        F.col("id").cast("long"),
        F.col("dist").cast("long"),
        F.col("sigma").cast("long"),
    )


def _betweenness_oracle_sql(levels: int, source_mod: int) -> str:
    return f"""
        WITH {_brandes_cte(levels, source_mod)}
        SELECT id, ROUND(SUM(delta), 4) AS bc
        FROM alldelta WHERE id != source GROUP BY id
    """


@query("betweenness_sampled", oracle=_betweenness_oracle_sql(
    _BC_UNROLL, _BC_SOURCE_MOD
))
def _q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-sampled Brandes betweenness (Bader-style estimator, exact
    over the sample): per-vertex dependency sums δ accumulated backward
    over the shortest-path DAG. δ divides σ ratios so the gate compares
    a 4-decimal projection (summation-order noise ~1e-15 relative; the
    exact-integer half of the kernel gates via sp_counts)."""
    res = _bc_result(spark, sf_dir)
    return res.scores.select(
        F.col("id").cast("long"), F.round("bc", 4).alias("bc")
    )


def _edge_betweenness_oracle_sql(levels: int, source_mod: int) -> str:
    """Girvan–Newman edge scores from the shared Brandes CTE chain: the
    credit σv/σw·(1+δw) per shortest-path-DAG edge (lv→lw, one level
    apart) summed over sources onto the canonical undirected edge;
    zero-credit edges restored by a left join (the Spark kernel's exact
    shape, kernels/betweenness.py:edge_betweenness)."""
    return f"""
        WITH {_brandes_cte(levels, source_mod)},
        credits AS (
            SELECT LEAST(lv.id, lw.id) AS a, GREATEST(lv.id, lw.id) AS b,
                   SUM(CAST(lv.sigma AS DOUBLE) / CAST(lw.sigma AS DOUBLE)
                       * (1 + COALESCE(dn.delta, 0))) AS s
            FROM lvl lv JOIN sym e ON e.src = lv.id
            JOIN lvl lw ON lw.source = lv.source AND lw.id = e.dst
                       AND lw.dist = lv.dist + 1
            LEFT JOIN alldelta dn ON dn.source = lv.source AND dn.id = lw.id
            GROUP BY 1, 2
        ),
        undc AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst)
        SELECT CAST(u.a AS BIGINT) AS a, CAST(u.b AS BIGINT) AS b,
               ROUND(COALESCE(c.s, 0), 4) AS ebc
        FROM undc u LEFT JOIN credits c ON c.a = u.a AND c.b = u.b
    """


@query("edge_betweenness_sampled", oracle=_edge_betweenness_oracle_sql(
    _BC_UNROLL, _BC_SOURCE_MOD
))
def _q_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan–Newman edge betweenness over the sampled source set
    (kernels/betweenness.py:edge_betweenness): the backward sweep's
    per-DAG-edge credits σv/σw·(1+δw) summed per canonical undirected
    edge, zero-credit edges kept. Gated on a 4-decimal projection like
    the vertex scores (same σ-ratio float carve-out)."""
    from paragrapher_spark.kernels.betweenness import edge_betweenness

    edges = copurchase_edges(spark, sf_dir)
    verts = vertex_ids(edges)
    seeds = verts.where(F.col("id") % _BC_SOURCE_MOD == 0)
    res = edge_betweenness(edges, seeds)
    if res.depth > _BC_UNROLL:
        raise AssertionError(
            f"BFS depth {res.depth} > the oracle's {_BC_UNROLL}-level "
            f"unroll; raise _BC_UNROLL"
        )
    return res.scores.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.round("ebc", 4).alias("ebc"),
    )


_KATZ_ROUNDS = 6
_KATZ_BASE = 16


def _katz_oracle_sql(rounds: int, base: int) -> str:
    """The kernel's all-integer recurrence y_{t+1} = base^(t+1) + sum of
    in-neighbor y_t, unrolled as materialized CTEs over the symmetrized
    co-purchase graph — every y_t is exact, so no float carve-out; the
    final ``katz`` double is one IEEE division of two exact longs."""
    ctes = []
    prev = "k0"
    for t in range(1, rounds + 1):
        cur = f"k{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT v.id,
                       CAST(CAST({base**t} AS BIGINT) + COALESCE(m.g, 0)
                            AS BIGINT) AS y
                FROM verts v LEFT JOIN (
                    SELECT und.v AS id, SUM(p.y) AS g
                    FROM und JOIN {prev} p ON p.id = und.u
                    GROUP BY und.v
                ) m ON m.id = v.id
            )"""
        )
        prev = cur
    den = base**rounds
    return f"""
        WITH edges AS ({COPURCHASE_EDGES_SQL}),
        und AS (
            SELECT src AS u, dst AS v FROM edges WHERE src <> dst
            UNION
            SELECT dst AS u, src AS v FROM edges WHERE src <> dst
        ),
        verts AS (SELECT DISTINCT u AS id FROM und),
        k0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS y FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id,
               CAST(y AS BIGINT) AS katz_num,
               CAST({den} AS BIGINT) AS katz_den,
               CAST(y AS DOUBLE) / CAST({den} AS DOUBLE) AS katz
        FROM {prev}
    """


@query("katz_fixed", oracle=_katz_oracle_sql(_KATZ_ROUNDS, _KATZ_BASE))
def _q_katz_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (kernels/katz.py) of the undirected
    co-purchase graph, alpha = 1/16, 6 rounds — walk counting in scaled
    integers (y_t = 16^t * x_t), so katz_num/katz_den gate EXACTLY and the
    convenience double is ONE IEEE division of two exact longs. Oracle:
    the same all-integer recurrence unrolled as materialized CTEs."""
    edges = copurchase_edges(spark, sf_dir)
    res = katz(edges, rounds=_KATZ_ROUNDS, base=_KATZ_BASE, directed=False)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("katz_num").cast("long"),
        F.col("katz_den").cast("long"),
        F.col("katz"),
    )


_EIG_ROUNDS = 6


def _eigen_oracle_sql(rounds: int) -> str:
    """eigencentrality's bump-less twin of _katz_oracle_sql: the walk
    counting recurrence y_{t+1} = sum of in-neighbor y_t unrolled as
    materialized CTEs over the symmetrized co-purchase graph; ``walks``
    exact, ``eig`` one IEEE division by the exact max."""
    ctes = []
    prev = "k0"
    for t in range(1, rounds + 1):
        cur = f"k{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT v.id, CAST(COALESCE(m.g, 0) AS BIGINT) AS y
                FROM verts v LEFT JOIN (
                    SELECT und.v AS id, SUM(p.y) AS g
                    FROM und JOIN {prev} p ON p.id = und.u
                    GROUP BY und.v
                ) m ON m.id = v.id
            )"""
        )
        prev = cur
    return f"""
        WITH edges AS ({COPURCHASE_EDGES_SQL}),
        und AS (
            SELECT src AS u, dst AS v FROM edges WHERE src <> dst
            UNION
            SELECT dst AS u, src AS v FROM edges WHERE src <> dst
        ),
        verts AS (SELECT DISTINCT u AS id FROM und),
        k0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS y FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id,
               CAST(y AS BIGINT) AS walks,
               CAST(y AS DOUBLE) / CAST((SELECT MAX(y) FROM {prev}) AS DOUBLE)
                   AS eig
        FROM {prev}
    """


@query("eigencentrality_fixed", oracle=_eigen_oracle_sql(_EIG_ROUNDS))
def _q_eigencentrality_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality by 6 integer power-iteration rounds
    (kernels/katz.py eigencentrality) on the undirected co-purchase
    graph: ``walks`` (length-6 walk counts) gates exactly; ``eig`` is
    ONE IEEE division by the max — the fourth classic ranking next to
    PageRank/HITS/Katz."""
    edges = copurchase_edges(spark, sf_dir)
    res = eigencentrality(edges, rounds=_EIG_ROUNDS, directed=False)
    return res.scores.select(
        F.col("id").cast("long"),
        F.col("walks").cast("long"),
        F.col("eig"),
    )


_CENSUS_N = 2000
_CENSUS_OUT_DEG = 4


_SALSA_ROUNDS = 4


def _salsa_oracle_sql(rounds: int) -> str:
    """SALSA unroll: auth0 ≡ SCALE; per round hub = Σ auth//indeg over
    out-edges, auth = Σ hub//outdeg over in-edges (DuckDB // floors on
    positive BIGINTs exactly like Spark DIV)."""
    parts = [
        f"""WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        ind AS MATERIALIZED (SELECT dst, count(*) AS c FROM e GROUP BY dst),
        outd AS MATERIALIZED (SELECT src, count(*) AS c FROM e GROUP BY src),
        v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        a0 AS MATERIALIZED (
            SELECT id, CAST(1000000000000 AS BIGINT) AS a FROM v
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        h{r} AS MATERIALIZED (
            SELECT e.src AS id, CAST(SUM(a.a // i.c) AS BIGINT) AS h
            FROM e JOIN a{r - 1} a ON a.id = e.dst
                   JOIN ind i ON i.dst = e.dst
            GROUP BY e.src
        ),
        a{r} AS MATERIALIZED (
            SELECT e.dst AS id, CAST(SUM(h.h // o.c) AS BIGINT) AS a
            FROM e JOIN h{r} h ON h.id = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst
        )""")
    parts.append(f"""
        SELECT v.id,
               CAST(COALESCE(a{rounds}.a, 0) AS BIGINT) AS auth_fp,
               CAST(COALESCE(h{rounds}.h, 0) AS BIGINT) AS hub_fp
        FROM v LEFT JOIN a{rounds} ON a{rounds}.id = v.id
               LEFT JOIN h{rounds} ON h{rounds}.id = v.id""")
    return "".join(parts)


@query("salsa_fixed", oracle=_salsa_oracle_sql(_SALSA_ROUNDS))
def _q_salsa_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated SALSA (kernels/hits.py salsa — Lempel & Moran 2000) on
    the md5 vertex graph: 4 synchronous rounds in 1e-12 fixed point,
    every per-edge term an integer DIV — all columns exact longs, the
    oracle unrolls the identical recurrence."""
    from paragrapher_spark.kernels.hits import salsa

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return salsa(g, iterations=_SALSA_ROUNDS).scores


_PPR_SEEDS = [0, 1, 2, 3]
_PPR_ROUNDS = 6


def _ppr_batch_oracle_sql(rounds: int) -> str:
    S = 1_000_000_000_000
    t = S - 85 * S // 100
    seed_rows = ", ".join(f"({s}, {s})" for s in _PPR_SEEDS)
    parts = [
        f"""WITH e AS MATERIALIZED (
            {md5_vertex_graph_sql(_CENSUS_N, _CENSUS_OUT_DEG)}
        ),
        outd AS MATERIALIZED (SELECT src, count(*) AS c FROM e GROUP BY src),
        tel AS (SELECT seed, id, CAST({t} AS BIGINT) AS t
                FROM (VALUES {seed_rows}) v(seed, id)),
        s0 AS (SELECT seed, id, CAST({S} AS BIGINT) AS r
               FROM (VALUES {seed_rows}) v(seed, id))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        p{r} AS MATERIALIZED (
            SELECT e.dst AS id, s.seed,
                   CAST(SUM((85 * s.r) // (100 * o.c)) AS BIGINT) AS p
            FROM e JOIN s{r - 1} s ON s.id = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY 1, 2
        ),
        s{r} AS MATERIALIZED (
            SELECT COALESCE(p.seed, t.seed) AS seed,
                   COALESCE(p.id, t.id) AS id,
                   CAST(COALESCE(p.p, 0) + COALESCE(t.t, 0) AS BIGINT) AS r
            FROM p{r} p FULL OUTER JOIN tel t
              ON t.seed = p.seed AND t.id = p.id
        )""")
    parts.append(f"""
        SELECT seed, id, r AS ppr_fp FROM s{rounds} WHERE r > 0""")
    return "".join(parts)


@query("ppr_batch", oracle=_ppr_batch_oracle_sql(_PPR_ROUNDS))
def _q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-seed personalized PageRank (kernels/pagerank.py
    ppr_batch): 4 seeds ride the same 6 supersteps in 1e-12 fixed point,
    every per-edge term an integer DIV — bit-exact, oracle-unrollable.
    The production PPR-serving shape: marginal seed cost is rows, not
    stages."""
    from paragrapher_spark.kernels.pagerank import ppr_batch

    g = md5_vertex_graph(spark, _CENSUS_N, out_deg=_CENSUS_OUT_DEG)
    return ppr_batch(g, seeds=_PPR_SEEDS, rounds=_PPR_ROUNDS)


_SWEEP_ROUNDS = 6


def _ppr_sweep_oracle_sql(rounds: int) -> str:
    S = 1_000_000_000_000
    t = S - 85 * S // 100
    parts = [
        f"""WITH ced AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
        und AS MATERIALIZED (
            SELECT src, dst FROM ced
            UNION ALL SELECT dst AS src, src AS dst FROM ced
        ),
        deg AS MATERIALIZED (
            SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
            FROM und GROUP BY 1
        ),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM und),
        sd AS (SELECT MIN(src) AS sid FROM ced),
        tel AS (SELECT sid AS id, CAST({t} AS BIGINT) AS t FROM sd),
        s0 AS (SELECT sid AS id, CAST({S} AS BIGINT) AS r FROM sd)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f""",
        p{r} AS MATERIALIZED (
            SELECT e.dst AS id,
                   CAST(SUM((85 * s.r) // (100 * o.deg)) AS BIGINT) AS p
            FROM und e JOIN s{r - 1} s ON s.id = e.src
                       JOIN deg o ON o.id = e.src
            GROUP BY 1
        ),
        s{r} AS MATERIALIZED (
            SELECT COALESCE(p.id, t.id) AS id,
                   CAST(COALESCE(p.p, 0) + COALESCE(t.t, 0) AS BIGINT) AS r
            FROM p{r} p FULL OUTER JOIN tel t ON t.id = p.id
        )""")
    parts.append(f""",
        pprv AS MATERIALIZED (
            SELECT id, r AS ppr_fp FROM s{rounds} WHERE r > 0
        ),
        ranked AS MATERIALIZED (
            SELECT p.id, d.deg, p.ppr_fp,
                   CAST(row_number() OVER (
                       ORDER BY (p.ppr_fp * 1000) // d.deg DESC, p.id
                   ) AS BIGINT) AS rank
            FROM pprv p JOIN deg d ON d.id = p.id
        ),
        vols AS (
            SELECT rank, id, ppr_fp,
                   CAST(SUM(deg) OVER (ORDER BY rank) AS BIGINT) AS vol
            FROM ranked
        ),
        mrk AS (
            SELECT GREATEST(ra.rank, rb.rank) AS mr,
                   CAST(count(*) AS BIGINT) AS c
            FROM ced e JOIN ranked ra ON ra.id = e.src
                       JOIN ranked rb ON rb.id = e.dst
            GROUP BY 1
        ),
        swc AS (
            SELECT v.rank, v.id, v.ppr_fp, v.vol,
                   CAST(SUM(COALESCE(m.c, 0)) OVER (ORDER BY v.rank)
                        AS BIGINT) AS internal
            FROM vols v LEFT JOIN mrk m ON m.mr = v.rank
        ),
        fin AS (
            SELECT rank, id, ppr_fp, vol,
                   CAST(vol - 2 * internal AS BIGINT) AS cut,
                   CAST(((vol - 2 * internal) * 1000000000)
                        // LEAST(vol, (SELECT two_m FROM mm) - vol)
                        AS BIGINT) AS phi_fp
            FROM swc
            WHERE vol * 2 <= (SELECT two_m FROM mm)
        ),
        bst AS (
            SELECT MIN(rank) AS best_rank FROM fin
            WHERE phi_fp = (SELECT MIN(phi_fp) FROM fin)
        )
        SELECT rank, id, ppr_fp, vol, cut, phi_fp,
               rank = (SELECT best_rank FROM bst) AS is_best
        FROM fin""")
    return "".join(parts)


@query("ppr_sweep", oracle=_ppr_sweep_oracle_sql(_SWEEP_ROUNDS))
def _q_ppr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACL PPR sweep cut (kernels/localcluster.py — Andersen-Chung-Lang
    FOCS 2006) around the smallest co-purchase vertex: degree-normalized
    PPR order, exact prefix volume/cut via cumulative sums, argmin
    conductance in 1e-9 integer fixed point. Every column exact."""
    from paragrapher_spark.kernels.localcluster import ppr_sweep_cut

    edges = copurchase_edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).collect()[0][0]  # src<dst ⇒ min vertex
    return ppr_sweep_cut(edges, seed=int(seed), rounds=_SWEEP_ROUNDS)
