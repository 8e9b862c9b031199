"""Source-code graph queries over the synthetic corpus: the import graph
(PageRank, SCC, build order, packages, impact, shared imports), the call
graph (edges, PageRank, fan-out, SCC, dead functions) and clone winnowing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import edges_from_corpus
from paragrapher_spark.kernels.bfs import bfs
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.scc import condensation, scc
from paragrapher_spark.kernels.toposort import topo_levels
from paragrapher_spark.queries import _substrate, query
from paragrapher_spark.queries.centrality import _pagerank_oracle_sql
from paragrapher_spark.sources.corpus import (
    N_PATH_DIRS,
    callgraph_vertex_count,
    synth_callgraph_corpus_sql,
    synth_corpus,
    synth_corpus_sql,
)
from paragrapher_spark.sources.edges import load_table


def _md5h(tag: str, cols: str) -> str:
    """DuckDB twin of sources/corpus.py's engine-portable hash ``h``:
    first 15 md5 hex chars of 'tag:seed:col:col' parsed base-16."""
    return (
        f"('0x' || substr(md5(concat_ws(':', '{tag}', '42', {cols})), 1, 15))"
        "::BIGINT"
    )


def _import_sites_md5_cte(
    n_files: int, n_repos: int, max_out: int, hub_count: int
) -> str:
    """Shared CTE block regenerating sources/corpus.py ``synth_corpus``'s
    import sites from its md5 hash formulas — deg, Zipf-ish target draw,
    hub boost, parity alignment, self-loop avoidance mirrored term-for-term
    (corpus.py:86-97). Yields CTEs ``files(i, repo, path)``,
    ``ivertsq(i, vid)`` (dense ids by (repo, path) rank) and
    ``itarg(src_i, dst_i)`` (one row per import site). Factored so every
    oracle over this corpus (edge table, package quotient) derives from ONE
    copy of the formulas — a duplicated copy could silently desynchronize."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    i1 = "CAST(i AS VARCHAR)"
    ij = "CAST(src_i AS VARCHAR), CAST(j AS VARCHAR)"
    return f"""
    WITH files AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.h' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    ivertsq AS MATERIALIZED (
        SELECT i, row_number() OVER (ORDER BY repo, path) - 1 AS vid
        FROM files
    ),
    isites AS MATERIALIZED (
        SELECT i AS src_i,
               unnest(range(1, ({_md5h('deg', i1)} % {max_out}) + 1)) AS j
        FROM files
    ),
    itarg AS MATERIALIZED (
        SELECT src_i,
               CASE WHEN t2 = src_i THEN (t2 + 2) % {n_files} ELSE t2 END AS dst_i
        FROM (
            SELECT src_i,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT src_i, t0 - (t0 % 2) + (src_i % 2) AS t1
                FROM (
                    SELECT src_i,
                           CASE WHEN {_md5h('hub', ij)} % 4 = 0
                                THEN {_md5h('hb', ij)} % {hub_count * 2}
                                ELSE {_md5h('t', ij)}
                                     % (({_md5h('m', ij)} % {n_files}) + 1)
                           END AS t0
                    FROM isites
                )
            )
        )
    )
    """


def _import_edges_md5_sql(
    n_files: int, n_repos: int, max_out: int, hub_count: int
) -> str:
    """Dense-id weighted import-edge table over ``_import_sites_md5_cte``
    — dense ids by (repo, path) rank as in ``_import_edges_sql``."""
    return f"""
    {_import_sites_md5_cte(n_files, n_repos, max_out, hub_count)}
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM itarg s
    JOIN ivertsq sv ON sv.i = s.src_i
    JOIN ivertsq dv ON dv.i = s.dst_i
    GROUP BY 1, 2
    """


# the north-rule pipeline on the hash-skew corpus, end-to-end:
# md5-regenerated link structure + converged pagerank
@query("import_graph_pagerank", oracle=_pagerank_oracle_sql(
    40,
    converged_tol=1e-6,
    edges_sql=_import_edges_md5_sql(2000, 8, 12, 16),
    verts_sql="SELECT i AS id FROM range(0, 2000) t(i)",
))
def _q_import_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline end-to-end: synthetic source-code corpus ->
    vectorized import extraction -> dense-id edge table -> CONVERGED
    PageRank. The corpus hash family is md5-derived (sources/corpus.py),
    so the DuckDB oracle regenerates the exact skewed link structure from
    the generator's formulas and runs the same delta-terminated unrolled
    supersteps — the full pipeline sits under the gate."""
    corpus = synth_corpus(spark, n_files=2000, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(g.edges, vertices=g.vertices, tol=1e-6, max_iter=60)
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("import_graph_pagerank_weighted", oracle=_pagerank_oracle_sql(
    40,
    converged_tol=1e-6,
    weighted=True,
    edges_sql=_import_edges_md5_sql(2000, 8, 12, 16),
    verts_sql="SELECT i AS id FROM range(0, 2000) t(i)",
))
def _q_import_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted variant: rank flows proportionally to import-site counts
    (edge weight) — the reference's WG404 arc-labelled capability
    (`src/WG404AP.java:171-182`). Oracle: same md5-regenerated corpus
    edges, weighted coef = w / Σ_out w, delta-terminated unroll."""
    corpus = synth_corpus(spark, n_files=2000, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(
        g.edges, vertices=g.vertices, tol=1e-6, max_iter=60, weight_col="weight"
    )
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


def _import_edges_sql(n_files: int, n_repos: int, max_out: int) -> str:
    """Dense-id weighted import-edge table of sources/corpus.py's
    ``synth_corpus_sql`` regenerated from its arithmetic formulas: files
    and paths from modular arithmetic, dense ids by (repo, path) rank
    (operators/indexing.dense_ids' global key order), weight = number of
    import sites. A nested WITH so it can sit inside the pagerank
    generator's ``edges`` CTE."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    return f"""
    WITH files AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.h' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    ivertsq AS MATERIALIZED (
        SELECT i, row_number() OVER (ORDER BY repo, path) - 1 AS vid
        FROM files
    ),
    isites AS MATERIALIZED (
        SELECT i AS src_i,
               unnest(range(1, ((i * 7919 + 13) % {max_out}) + 1)) AS j
        FROM files
    ),
    itarg AS MATERIALIZED (
        SELECT src_i,
               CASE WHEN t2 = src_i THEN (t2 + 2) % {n_files} ELSE t2 END AS dst_i
        FROM (
            SELECT src_i,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT src_i, t0 - (t0 % 2) + (src_i % 2) AS t1
                FROM (
                    SELECT src_i,
                           (src_i * 104729 + j * 7907 + 17) % {n_files} AS t0
                    FROM isites
                )
            )
        )
    )
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM itarg s
    JOIN ivertsq sv ON sv.i = s.src_i
    JOIN ivertsq dv ON dv.i = s.dst_i
    GROUP BY 1, 2
    """


@query("import_pagerank_fixed", oracle=_pagerank_oracle_sql(
    8, weighted=True, edges_sql=_import_edges_sql(1200, 8, 10)
))
def _q_import_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline END TO END under the oracle gate: synthetic
    source-code corpus (SQL-reproducible arithmetic twin) -> vectorized
    import extraction (regexp over content) -> dense-id minting by global
    (repo, path) rank -> weighted PageRank, 8 fixed supersteps. The DuckDB
    oracle regenerates the identical link structure from the generator's
    formulas (no string parsing needed — verifying that extraction
    recovered exactly the generated imports IS the check) and unrolls the
    same superstep arithmetic."""
    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    res = pagerank(g.edges, tol=0.0, max_iter=8, weight_col="weight")
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


_SCC_FILES = 800


def _import_scc(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(edges, components) of the north-rule import graph, shared by
    scc_imports, scc_condensation and build_order. Edges are pinned so
    all three consumers share one scan."""

    def build():
        corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
        g = edges_from_corpus(corpus, num_partitions=8)
        e = g.edges.select("src", "dst").localCheckpoint(eager=True)
        return e, scc(e).components

    return _substrate(spark, "import_scc", build)


def _scc_oracle_sql(edges_sql: str) -> str:
    """Mutual reachability by transitive closure: scc(v) = min over
    {{v}} ∪ {{u : v →* u AND u →* v}} — the definitional oracle the
    iterative coloring kernel must reproduce."""
    return f"""
        WITH RECURSIVE edges AS ({edges_sql}),
        r(a, b) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b
        ),
        verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        mutual AS (
            SELECT r1.a AS v, r1.b AS u
            FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
        )
        SELECT v.id, CAST(least(v.id, coalesce(min(m.u), v.id)) AS BIGINT) AS scc
        FROM verts v LEFT JOIN mutual m ON m.v = v.id
        GROUP BY v.id
    """


@query("scc_imports", oracle=_scc_oracle_sql(
    _import_edges_md5_sql(_SCC_FILES, 8, 12, 16)
))
def _q_scc_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic-import detection (kernels/scc.py): strongly connected
    components of the DIRECTED import graph from the hash-skew corpus —
    an SCC of size > 1 is a set of source files whose imports form a
    cycle (the giant hub SCC covers ~1/3 of the reachable files at this
    size). Oracle: DuckDB recursive-CTE transitive closure -> mutual
    reachability -> min-id per component, over the md5-regenerated edge
    set (the import_graph_pagerank discipline)."""
    _, comp = _import_scc(spark)
    return comp.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


@query("scc_condensation", oracle=f"""
            WITH comp AS MATERIALIZED (
                {_scc_oracle_sql(_import_edges_md5_sql(_SCC_FILES, 8, 12, 16))}
            ),
            iedges AS MATERIALIZED (
                {_import_edges_md5_sql(_SCC_FILES, 8, 12, 16)}
            )
            SELECT DISTINCT c1.scc AS src, c2.scc AS dst
            FROM iedges e
            JOIN comp c1 ON c1.id = e.src
            JOIN comp c2 ON c2.id = e.dst
            WHERE c1.scc != c2.scc
        """)
def _q_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the import graph (kernels/scc.py): one vertex
    per strongly connected component, distinct edges where imports cross
    components — the acyclic quotient that turns cyclic-import analysis
    into topological-order questions. Oracle: closure-derived SCC labels
    joined back onto the md5-regenerated edge set. Shares the memoized
    import-graph SCC labeling (see _import_scc)."""
    e, comp = _import_scc(spark)
    return condensation(e, comp).select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


_BUILD_ORDER_UNROLL = 24


def _build_order_oracle_sql(rounds: int, edges_sql: str) -> str:
    """Condensation DAG (closure-derived SCC labels) + the kernel's
    all-integer longest-path relaxation unrolled as materialized CTEs —
    monotone and idempotent at the fixpoint, so over-unrolling is exact
    (the kcore/coreness discipline)."""
    ctes = []
    prev = "l0"
    for t in range(1, rounds + 1):
        cur = f"l{t}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
                SELECT l.id,
                       GREATEST(l.level, COALESCE(m.cand, 0)) AS level
                FROM {prev} l LEFT JOIN (
                    SELECT d.dst AS id, MAX(p.level) + 1 AS cand
                    FROM dag d JOIN {prev} p ON p.id = d.src
                    GROUP BY d.dst
                ) m ON m.id = l.id
            )"""
        )
        prev = cur
    return f"""
        WITH comp AS MATERIALIZED (
            {_scc_oracle_sql(edges_sql)}
        ),
        iedges AS MATERIALIZED (
            {edges_sql}
        ),
        dag AS MATERIALIZED (
            SELECT DISTINCT c1.scc AS src, c2.scc AS dst
            FROM iedges e
            JOIN comp c1 ON c1.id = e.src
            JOIN comp c2 ON c2.id = e.dst
            WHERE c1.scc != c2.scc
        ),
        verts AS (SELECT src AS id FROM dag UNION SELECT dst FROM dag),
        l0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS level FROM verts),
        {", ".join(ctes)}
        SELECT CAST(id AS BIGINT) AS id, CAST(level AS BIGINT) AS level
        FROM {prev}
    """


@query("build_order", oracle=_build_order_oracle_sql(
    _BUILD_ORDER_UNROLL, _import_edges_md5_sql(_SCC_FILES, 8, 12, 16)
))
def _q_build_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-order waves of the import graph (kernels/toposort.py): SCC
    condensation (cyclic imports collapse to one node) then the exact
    longest-path level of every condensation node — level 0 builds first,
    level L waits for a dependency chain of length L. The make/bazel
    scheduling query over the north-rule corpus. Oracle: closure-derived
    condensation + the all-integer relaxation unrolled as materialized
    CTEs (monotone and idempotent at the fixpoint, so over-unrolling is
    exact). Shares the memoized import-graph SCC labeling
    (see _import_scc)."""
    e, comp = _import_scc(spark)
    dag = condensation(e, comp)
    res = topo_levels(dag, max_rounds=64)
    if res.rounds > _BUILD_ORDER_UNROLL:
        raise ValueError(
            f"build_order needed {res.rounds} relaxation rounds vs the "
            f"oracle's {_BUILD_ORDER_UNROLL}-round unroll; raise "
            f"_BUILD_ORDER_UNROLL"
        )
    return res.levels.select(
        F.col("id").cast("long"), F.col("level").cast("long")
    )


@query("package_graph", oracle=f"""
    {_import_sites_md5_cte(_SCC_FILES, 8, 12, 16)}
    SELECT src_group, dst_group, CAST(count(*) AS BIGINT) AS weight
    FROM (
        SELECT sf.repo || ':' || string_split(sf.path, '/')[1] AS src_group,
               df.repo || ':' || string_split(df.path, '/')[1] AS dst_group
        FROM itarg s
        JOIN files sf ON sf.i = s.src_i
        JOIN files df ON df.i = s.dst_i
    )
    WHERE src_group <> dst_group
    GROUP BY 1, 2
    """)
def _q_package_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Package-level dependency rollup of the file-level import graph
    (graph.py quotient_graph — the attribute-quotient twin of SCC
    condensation): vertices collapse to their ``repo:pkgdir`` group, edge
    weight = the exact total number of import sites between the two
    packages (intra-package imports dropped). The coarsening step every
    multilevel partitioner / architecture-dependency view starts with.
    Oracle: the shared md5 import-site CTE grouped by the same package
    keys — every (src_group, dst_group, weight) row exact."""
    from paragrapher_spark.graph import quotient_graph

    corpus = synth_corpus(spark, n_files=_SCC_FILES, n_repos=8)
    g = edges_from_corpus(corpus, num_partitions=8)
    mapping = g.vertices.select(
        "id",
        F.concat(
            F.col("repo"), F.lit(":"), F.split(F.col("path"), "/").getItem(0)
        ).alias("group"),
    )
    return quotient_graph(g.edges, mapping, weight_col="weight")


_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC = 900, 6, 3, 4


def _cg_corpus(spark: SparkSession) -> DataFrame:
    return synth_callgraph_corpus_sql(
        spark, n_files=_CG_FILES, n_repos=_CG_REPOS,
        max_funcs=_CG_MAXF, max_calls=_CG_MAXC,
    )


def _cg_graph(spark: SparkSession):
    """The extracted call graph, pinned and shared by call_graph_pagerank,
    call_scc and dead_functions. call_edges/call_file_fanout deliberately
    do NOT share it — extraction itself is what those queries gate."""
    from paragrapher_spark.graph import call_graph_from_corpus

    def build():
        g = call_graph_from_corpus(_cg_corpus(spark), num_partitions=8)
        g.vertices = g.vertices.localCheckpoint(eager=True)
        g.edges = g.edges.localCheckpoint(eager=True)
        return g

    return _substrate(spark, "call_graph", build)


def _call_sites_cte(
    n_files: int, n_repos: int, max_funcs: int, max_calls: int,
    recursive: bool = False,
) -> str:
    """Shared CTE block regenerating sources/corpus.py
    ``synth_callgraph_corpus_sql``'s call structure from its arithmetic —
    nf, nc, target file (parity-aligned) and target function index
    mirrored term-for-term. Yields CTEs ``cfuncs(i, q)`` (every defined
    function), ``cfiles(i, repo, path)`` and ``ctarg(i, q, ti, tq)`` (one
    row per call site: function (i,q) calls function (ti,tq)). One copy of
    the formulas shared by all callgraph oracles, same anti-desync rule as
    ``_import_sites_md5_cte``."""
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} cfuncs AS MATERIALIZED (
        SELECT i, unnest(range(1, ((i * 31 + 5) % {max_funcs}) + 2)) AS q
        FROM range(0, {n_files}) t(i)
    ),
    cfiles AS MATERIALIZED (
        SELECT i,
               'repo_' || lpad(CAST(i % {n_repos} AS VARCHAR), 3, '0') AS repo,
               'pkg' || CAST((i // {n_repos}) % {N_PATH_DIRS} AS VARCHAR)
                   || '/f' || CAST(i // {n_repos} AS VARCHAR)
                   || CASE WHEN i % 2 = 0 THEN '.py' ELSE '.c' END AS path
        FROM range(0, {n_files}) t(i)
    ),
    csites AS MATERIALIZED (
        SELECT i, q,
               unnest(range(1, ((i * 17 + q * 29 + 3) % {max_calls}) + 1)) AS j
        FROM cfuncs
    ),
    ctarg AS MATERIALIZED (
        SELECT i, q,
               CASE WHEN (i + q * 5 + j * 11) % 23 = 0 THEN i ELSE t2 END AS ti,
               CASE WHEN (i + q * 5 + j * 11) % 23 = 0 THEN q
                    ELSE ((i + q * 3 + j * 7)
                          % (((t2 * 31 + 5) % {max_funcs}) + 1)) + 1
               END AS tq
        FROM (
            SELECT i, q, j,
                   CASE WHEN t1 >= {n_files} THEN t1 - 2 ELSE t1 END AS t2
            FROM (
                SELECT i, q, j, t0 - (t0 % 2) + (i % 2) AS t1
                FROM (
                    SELECT i, q, j,
                           (i * 48611 + q * 2741 + j * 7451 + 23) % {n_files} AS t0
                    FROM csites
                )
            )
        )
    )
    """


@query("call_edges", oracle=f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)}
    SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS caller,
           'fn_' || CAST(ti AS VARCHAR) || '_' || CAST(tq AS VARCHAR) AS callee,
           CAST(count(*) AS BIGINT) AS n_sites
    FROM ctarg GROUP BY 1, 2
    """)
def _q_call_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-level CALL-GRAPH extraction (functions/extract.py
    extract_call_sites over sources/corpus.synth_callgraph_corpus_sql):
    two-level vectorized regex parse — definition lines to (caller, body),
    bodies to call sites — aggregated to weighted (caller, callee) edges.
    The finer-granularity companion to the file-level import extraction;
    the oracle regenerates the exact call structure from the generator's
    arithmetic (verifying the parse recovered every generated call IS the
    check). Recursion (self-loop) edges are preserved."""
    from paragrapher_spark.functions.extract import extract_call_sites

    sites = extract_call_sites(_cg_corpus(spark))
    return sites.groupBy("caller", "callee").agg(
        F.count(F.lit(1)).cast("long").alias("n_sites")
    )


def _call_edges_vid_sql(
    n_files: int, n_repos: int, max_funcs: int, max_calls: int
) -> str:
    """Dense-id weighted call-edge table over ``_call_sites_cte`` — dense
    ids by global fname rank, matching graph.call_graph_from_corpus's
    dense_ids ordering (both sides binary-sort ASCII strings). Nested WITH
    so it can sit inside the pagerank generator's ``edges`` CTE."""
    return f"""
    {_call_sites_cte(n_files, n_repos, max_funcs, max_calls)},
    cvid AS MATERIALIZED (
        SELECT fname, row_number() OVER (ORDER BY fname) - 1 AS vid
        FROM (
            SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR)
                       AS fname
            FROM cfuncs
        )
    )
    SELECT sv.vid AS src, dv.vid AS dst, count(*) AS weight
    FROM ctarg s
    JOIN cvid sv
      ON sv.fname = 'fn_' || CAST(s.i AS VARCHAR) || '_' || CAST(s.q AS VARCHAR)
    JOIN cvid dv
      ON dv.fname = 'fn_' || CAST(s.ti AS VARCHAR) || '_' || CAST(s.tq AS VARCHAR)
    GROUP BY 1, 2
    """


@query("call_graph_pagerank", oracle=_pagerank_oracle_sql(
    8,
    weighted=True,
    edges_sql=_call_edges_vid_sql(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC),
    verts_sql=(
        f"SELECT i AS id FROM"
        f" range(0, {callgraph_vertex_count(_CG_FILES, _CG_MAXF)}) t(i)"
    ),
))
def _q_call_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule pipeline at FUNCTION granularity: callgraph corpus ->
    vectorized call-site extraction -> dense ids by global fname rank ->
    weighted PageRank, 8 fixed supersteps. Unlike the import fixture this
    graph is cyclic (recursion), so it exercises PageRank's behavior on
    strongly-connected mass flow. Isolated (never-calling, never-called)
    functions enter via vertices= and collect teleport-only rank."""
    g = _cg_graph(spark)
    res = pagerank(
        g.edges, vertices=g.vertices.select("id"), tol=0.0, max_iter=8,
        weight_col="weight",
    )
    return res.ranks.select(
        F.col("id").cast("long"), F.round("rank", 6).alias("rank")
    )


@query("call_file_fanout", oracle=f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)},
    cfanout AS (
        SELECT i, count(*) AS n_sites, count(DISTINCT ti) AS n_callee_files
        FROM ctarg GROUP BY i
    ),
    cnfuncs AS (SELECT i, count(*) AS n_funcs FROM cfuncs GROUP BY i)
    SELECT f.repo, f.path,
           CAST(n.n_funcs AS BIGINT) AS n_funcs,
           CAST(COALESCE(fo.n_sites, 0) AS BIGINT) AS n_sites,
           CAST(COALESCE(fo.n_callee_files, 0) AS BIGINT) AS n_callee_files
    FROM cfiles f
    JOIN cnfuncs n ON n.i = f.i
    LEFT JOIN cfanout fo ON fo.i = f.i
    """)
def _q_call_file_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-granularity rollup: per FILE, how many functions it defines,
    how many call sites its functions make, and how many distinct files
    those calls land in — the fan-out profile a build-system / impact
    analyzer reads off a call graph. Joins the function table back to the
    site table (callee fname -> defining file), then rolls up to (repo,
    path); files whose functions make no calls appear with zeros."""
    from paragrapher_spark.functions.extract import (
        extract_call_sites,
        extract_functions,
    )

    corpus = _cg_corpus(spark)
    funcs = extract_functions(corpus)
    sites = extract_call_sites(corpus)
    callee_files = funcs.select(
        F.col("fname").alias("callee"),
        F.col("repo").alias("callee_repo"),
        F.col("path").alias("callee_path"),
    )
    per_file_calls = (
        sites.join(callee_files, on="callee")
        .groupBy("repo", "path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sites"),
            F.countDistinct("callee_repo", "callee_path")
            .cast("long")
            .alias("n_callee_files"),
        )
    )
    per_file_funcs = funcs.groupBy("repo", "path").agg(
        F.count(F.lit(1)).cast("long").alias("n_funcs")
    )
    return per_file_funcs.join(
        per_file_calls, on=["repo", "path"], how="left"
    ).select(
        "repo",
        "path",
        "n_funcs",
        F.coalesce("n_sites", F.lit(0)).cast("long").alias("n_sites"),
        F.coalesce("n_callee_files", F.lit(0)).cast("long").alias("n_callee_files"),
    )


@query("call_scc", oracle=_scc_oracle_sql(
    _call_edges_vid_sql(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC)
))
def _q_call_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-recursion detection: strongly connected components of the
    function-level call graph (kernels/scc.py over
    graph.call_graph_from_corpus). Direct recursion is a self-loop; an
    SCC of size > 1 is a set of functions that call each other in a cycle
    — what an inliner / stack-depth analyzer must detect before
    transforming. Same definitional transitive-closure oracle as
    scc_imports, over the arithmetic-regenerated dense-id call edges."""
    g = _cg_graph(spark)
    res = scc(g.edges.select("src", "dst"))
    return res.components.select(
        F.col("id").cast("long"), F.col("scc").cast("long")
    )


@query("import_impact", oracle=f"""
    WITH RECURSIVE edges AS ({_import_edges_sql(1200, 8, 10)}),
    walk(id, d) AS (
        SELECT CAST(s.id AS BIGINT), 0 FROM (VALUES (0), (1), (2)) s(id)
        UNION
        SELECT e.src, walk.d + 1
        FROM walk JOIN edges e ON e.dst = walk.id
        WHERE walk.d < 8
    )
    SELECT CAST(id AS BIGINT) AS id, CAST(MIN(d) AS BIGINT) AS depth
    FROM walk GROUP BY id
    """)
def _q_import_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPACT ANALYSIS (the CI test-selection / incremental-rebuild query):
    if files {vid 0,1,2} change, which files transitively import them and
    at what dependency distance — multi-source BFS over the REVERSED
    import graph (kernels/bfs.py), depth-capped at 8. Oracle: recursive-
    CTE min-depth walk following edges dst->src over the arithmetic-
    regenerated import edge table."""
    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    rev = g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    res = bfs(rev, [0, 1, 2], directed=True, max_depth=8)
    return res.distances.select(
        F.col("id").cast("long"), F.col("dist").cast("long").alias("depth")
    )


@query("dead_functions", oracle=f"""
    {_call_sites_cte(_CG_FILES, _CG_REPOS, _CG_MAXF, _CG_MAXC, recursive=True)},
    cedges AS MATERIALIZED (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS caller,
               'fn_' || CAST(ti AS VARCHAR) || '_' || CAST(tq AS VARCHAR) AS callee
        FROM ctarg
    ),
    creach(fname, d) AS (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR), 0
        FROM cfuncs
        WHERE i % {_CG_REPOS} = 0
          AND (i // {_CG_REPOS}) % {N_PATH_DIRS} = 0
        UNION
        SELECT e.callee, creach.d + 1
        FROM creach JOIN cedges e ON e.caller = creach.fname
        WHERE creach.d < 30
    )
    SELECT fname FROM (
        SELECT 'fn_' || CAST(i AS VARCHAR) || '_' || CAST(q AS VARCHAR) AS fname
        FROM cfuncs
    )
    WHERE fname NOT IN (SELECT fname FROM creach)
    """)
def _q_dead_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-CODE detection over the call graph: functions not reachable
    (via any call chain) from the application's entry package — roots are
    every function defined in repo_000's pkg0 files, liveness is the BFS
    closure over call edges, dead = the anti-join. The attribute-driven
    twin of a linker's --gc-sections / tree-shaking pass. Oracle:
    recursive-CTE reachability from the same formula-regenerated root set,
    NOT IN over the full function table."""
    from paragrapher_spark.functions.extract import extract_functions

    corpus = _cg_corpus(spark)
    g = _cg_graph(spark)
    funcs = extract_functions(corpus)
    roots = (
        funcs.where(
            (F.col("repo") == "repo_000") & F.col("path").startswith("pkg0/")
        )
        .join(g.vertices, on="fname")
        .select("id")
    )
    res = bfs(g.edges.select("src", "dst"), roots, directed=True, max_depth=30)
    dead = g.vertices.join(
        res.distances.select("id"), on="id", how="left_anti"
    )
    return dead.select("fname")


_PROJ_CAP = 50


@query("shared_imports", oracle=f"""
    WITH edges AS ({_import_edges_sql(1200, 8, 10)}),
    arcs AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
    indeg AS (SELECT dst, count(*) AS c FROM arcs GROUP BY dst),
    keep AS (
        SELECT a.src, a.dst FROM arcs a
        JOIN indeg i ON i.dst = a.dst WHERE i.c <= {_PROJ_CAP}
    )
    SELECT CAST(x.src AS BIGINT) AS a, CAST(y.src AS BIGINT) AS b,
           CAST(count(*) AS BIGINT) AS weight
    FROM keep x JOIN keep y ON x.dst = y.dst AND x.src < y.src
    GROUP BY 1, 2
    """)
def _q_shared_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-reference projection (graph.bipartite_project): file
    pairs of the import graph that import at least one common target,
    weight = exact distinct shared-target count — the co-citation /
    shared-dependency view (Small 1973). Hub targets above in-degree
    _PROJ_CAP are excluded loudly in BOTH engines (none exist at this
    corpus's max in-degree 6, so the cap is exercised by the planted
    test, not the gate)."""
    from paragrapher_spark.graph import bipartite_project

    corpus = synth_corpus_sql(spark, n_files=1200, n_repos=8, max_out=10)
    g = edges_from_corpus(corpus, num_partitions=8)
    proj = bipartite_project(g.edges, cap=_PROJ_CAP)
    return proj.select(
        F.col("a").cast("long"), F.col("b").cast("long"), F.col("weight")
    )


_WINNOW_K = 8
_WINNOW_W = 4
# the synthetic docs share heavy template boilerplate: at min_shared=2
# nearly every doc pair matches (92k rows); >=20 shared fingerprints is
# where genuine clones separate (~1k pairs, stable across SFs)
_WINNOW_MIN_SHARED = 20
_WINNOW_MAX_DF = 64


def _winnow_oracle_sql() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id AS id, text AS t FROM documents
            WHERE length(text) >= {k}
        ),
        grams AS MATERIALIZED (
            SELECT id, CAST(i AS BIGINT) AS pos,
                   ('0x' || substr(md5(substr(t, CAST(i AS INTEGER), {k})),
                                   1, 15))::BIGINT AS h
            FROM (SELECT id, t,
                         unnest(range(1, length(t) - {k} + 2)) AS i
                  FROM d)
        ),
        lim AS MATERIALIZED (
            SELECT id, length(t) - {k + w - 2} AS max_wpos FROM d
            WHERE length(t) - {k + w - 2} >= 1
        ),
        win AS MATERIALIZED (
            SELECT gw.id, gw.pos, gw.h, gw.wpos
            FROM (SELECT id, pos, h,
                         unnest(range(greatest(1, pos - {w - 1}), pos + 1))
                             AS wpos
                  FROM grams) gw
            JOIN lim l ON l.id = gw.id
            WHERE gw.wpos <= l.max_wpos
        ),
        mn AS MATERIALIZED (
            SELECT id, wpos, MIN(h) AS mh FROM win GROUP BY 1, 2
        ),
        sel AS MATERIALIZED (
            SELECT w.id, w.wpos, m.mh, MAX(w.pos) AS spos
            FROM win w JOIN mn m
              ON m.id = w.id AND m.wpos = w.wpos AND w.h = m.mh
            GROUP BY 1, 2, 3
        ),
        fp AS MATERIALIZED (SELECT DISTINCT id, mh AS h FROM sel),
        keeph AS (
            SELECT h FROM (SELECT h, count(*) AS c FROM fp GROUP BY h)
            WHERE c <= {_WINNOW_MAX_DF}
        ),
        fpk AS MATERIALIZED (
            SELECT fp.id, fp.h FROM fp JOIN keeph USING (h)
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fpk a JOIN fpk b ON a.h = b.h AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """


@query("winnow_clones", oracle=_winnow_oracle_sql())
def _q_winnow_clones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing clone pairs (operators/dedup.py winnow_clone_pairs
    — Schleimer et al. SIGMOD 2003): k=8 char-gram md5-prefix hashes,
    window w=4 min selection (rightmost tie), pair score = distinct
    shared fingerprints, boilerplate hashes over df=64 dropped loudly."""
    from paragrapher_spark.operators.dedup import winnow_clone_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs, _metrics = winnow_clone_pairs(
        docs,
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
        max_df=_WINNOW_MAX_DF,
    )
    return pairs
