"""Graph assembly: corpus -> vertices + canonical COO edge table.

Spark-native equivalent of `paragrapher_open_graph` +
`paragrapher_csx_get_offsets` (`src/paragrapher.c:69-82,109-123`): the
"graph handle" is a pair of DataFrames plus cached metadata counts
(the reference parses |V|/|E| from the `.properties` file,
`src/webgraph.c:376-387`; here they are computed once and carried).

- ``vertices(id: long, repo: string, path: string)`` — dense ids minted by
  global key rank (operators.indexing.dense_ids; the reference's ID space
  is dense by construction, SURVEY.md §1.4).
- ``edges(src: long, dst: long, weight: long)`` — deduplicated, weight =
  number of import sites.
- ``degrees`` / ``offsets`` — the CSR offsets analogue
  (`src/WG400AP.java:198-296`) as a prefix-sum table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.extract import extract_import_keys, vertex_key
from paragrapher_spark.operators.indexing import dense_ids, prefix_sum
from paragrapher_spark.operators.salting import hub_cap


@dataclass
class Graph:
    """The engine's graph handle (reference: `paragrapher_graph`,
    `include/paragrapher.h:21`)."""

    vertices: DataFrame  # id, repo, path
    edges: DataFrame  # src, dst, weight
    num_vertices: int
    num_edges: int
    #: lazily-built global (src, dst, eid) edge index for row-range scans —
    #: computed once per handle and reused (the reference mmaps its offsets
    #: array once per graph, `src/webgraph.c:614-615`); Engine.scan_edges_rows
    #: populates it.
    edge_index: DataFrame | None = field(default=None, repr=False, compare=False)
    #: memoized offsets table (same mmap-once economics: the prefix sum
    #: runs once per handle even when offsets are consulted repeatedly —
    #: csr writes, adjacency writes, engine get_offsets).
    _offsets: DataFrame | None = field(default=None, repr=False, compare=False)

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def offsets(self) -> DataFrame:
        """CSR offsets: offset[v] = edges before v's adjacency, covering all
        vertices (degree 0 included), ending such that the last vertex's
        offset + degree == |E| (`src/WG400AP.java:255` invariant).
        Memoized per handle — prefix_sum returns a materialized table, so
        repeat callers reuse it instead of re-running the two-phase sum."""
        if self._offsets is None:
            deg = (
                self.vertices.select("id")
                .join(self.out_degrees(), on="id", how="left")
                .select(
                    "id", F.coalesce("out_degree", F.lit(0)).alias("out_degree")
                )
            )
            self._offsets = prefix_sum(deg, ["id"], "out_degree", out_col="offset")
        return self._offsets


def edges_from_corpus(corpus: DataFrame, num_partitions: int | None = None) -> Graph:
    """Extract the import graph from a corpus table.

    Unresolved imports (no matching (repo, path) row) are dropped via the
    inner join against the vertex table — the corpus generator produces
    only resolvable targets, and the tests assert zero loss.
    """
    vertices = dense_ids(
        corpus.select("repo", "path"), ["repo", "path"], id_col="id",
        num_partitions=num_partitions,
    )
    vkeys = vertices.select(
        vertex_key(F.col("repo"), F.col("path")).alias("key"), "id"
    )
    sites = extract_import_keys(corpus)
    src_map = vkeys.select(F.col("key").alias("src_key"), F.col("id").alias("src"))
    dst_map = vkeys.select(F.col("key").alias("dst_key"), F.col("id").alias("dst"))
    edges = (
        sites.join(src_map, on="src_key")
        .join(dst_map, on="dst_key")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    n_v = vertices.count()
    edges = edges.persist()
    n_e = edges.count()
    return Graph(vertices=vertices, edges=edges, num_vertices=n_v, num_edges=n_e)


def call_graph_from_corpus(corpus: DataFrame, num_partitions: int | None = None) -> Graph:
    """Extract the FUNCTION-level call graph from a corpus table — the
    finer-granularity companion to ``edges_from_corpus``'s file-level
    import graph (the reference analyzes one graph per dataset; multi-
    granularity over the same corpus is engine surface it lacks).

    Vertices are all defined functions (dense ids by global fname rank,
    isolated functions included); edges are (caller, callee) with weight
    = number of call sites. Self-loops (recursion) are preserved — a call
    graph is cyclic, unlike the parity-layered import fixture.
    """
    from paragrapher_spark.functions.extract import (
        extract_call_sites,
        extract_functions,
    )

    funcs = extract_functions(corpus)
    vertices = dense_ids(
        funcs.select("fname"), ["fname"], id_col="id",
        num_partitions=num_partitions,
    )
    sites = extract_call_sites(corpus)
    src_map = vertices.select(F.col("fname").alias("caller"), F.col("id").alias("src"))
    dst_map = vertices.select(F.col("fname").alias("callee"), F.col("id").alias("dst"))
    edges = (
        sites.join(src_map, on="caller")
        .join(dst_map, on="callee")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    n_v = vertices.count()
    edges = edges.persist()
    n_e = edges.count()
    return Graph(vertices=vertices, edges=edges, num_vertices=n_v, num_edges=n_e)


def graph_from_edges(edges: DataFrame, weight: bool = False) -> Graph:
    """Wrap a raw (src, dst[, weight]) edge table as a Graph; vertices are
    the distinct endpoint ids (no name attributes)."""
    if not weight:
        edges = edges.select("src", "dst").withColumn("weight", F.lit(1).cast("long"))
    vertices = (
        vertex_ids(edges)
        .withColumn("repo", F.lit(None).cast("string"))
        .withColumn("path", F.lit(None).cast("string"))
    )
    edges = edges.persist()
    n_e = edges.count()
    n_v = vertices.count()
    return Graph(vertices=vertices, edges=edges, num_vertices=n_v, num_edges=n_e)


def vertex_ids(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """The ``(id)`` vertex frame of a graph: ``vertices.id`` when a vertex
    table is given (isolated vertices included), otherwise the distinct
    ``src`` ∪ ``dst`` endpoints of ``edges``."""
    if vertices is not None:
        return vertices.select("id")
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def id_set(spark: SparkSession, ids: DataFrame | list[int]) -> DataFrame:
    """The distinct ``(id)`` frame of a vertex-id list or of an ``(id)``
    frame: a traversal's seed set, duplicate seeds collapsed."""
    if isinstance(ids, DataFrame):
        return ids.select("id").distinct()
    return spark.createDataFrame([(int(i),) for i in ids], "id long").distinct()


def gather_table(df: DataFrame, key: str) -> tuple[DataFrame, int]:
    """Cache ``df`` as the edge side of a superstep's gather join on
    ``key``; returns the cached frame and its row count (the count is the
    action that fills the cache).

    The layout: hash-partitioned on ``key`` into the session's
    ``spark.sql.shuffle.partitions`` (the count a shuffle of the loop
    state onto ``key`` produces, so the join finds the edge side already
    co-partitioned and only the |V|-row state shuffles each superstep),
    sorted within partitions on ``key``, persisted.

    - Sorted BEFORE caching: once the state outgrows the broadcast
      threshold the gather is a SortMergeJoin, and a cached UNSORTED
      table would be re-sorted (all |E| rows) every superstep; the cached
      sort order is reported by the in-memory scan, so only the |V|-row
      side sorts per superstep. (A shuffle_hash build on the state was
      measured slower: hash-probe latency over |E| lookups loses to
      sequential merge bandwidth on this shape.)
    - ``persist`` rather than ``localCheckpoint``: a checkpointed RDD scan
      loses its output partitioning, so every superstep would shuffle the
      |E| side again.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cached = df.repartition(n_part, key).sortWithinPartitions(key).persist()
    return cached, cached.count()


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """The undirected simple graph underlying ``edges(src, dst)``: one
    ``(a, b)`` row per unordered pair, ``a < b`` — self-loops dropped,
    directions and duplicates collapsed."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def arcs(edges: DataFrame, *, directed: bool) -> DataFrame:
    """``(src, dst)``: the arcs of the simple graph underlying ``edges`` —
    distinct rows, self-loops dropped. ``directed=False`` gives every
    ``undirected_pairs`` row in both orientations, the ordered neighbor
    pairs a kernel gathers over."""
    if directed:
        return (
            edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
        )
    und = undirected_pairs(edges)
    return und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def undirected_degrees(und: DataFrame) -> DataFrame:
    """``(id, deg)``: the degree of every endpoint of an ``(a, b)`` pair
    frame shaped like ``undirected_pairs`` output (one row per unordered
    pair), the simple graph's degree sequence. ``.select("id")`` is its
    distinct endpoint set."""
    return (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def quotient_graph(
    edges: DataFrame,
    mapping: DataFrame,
    weight_col: str | None = None,
    drop_self_loops: bool = True,
) -> DataFrame:
    """Coarsen ``edges(src, dst[, weight])`` by a vertex→group ``mapping
    (id, group)``: one edge per ordered group pair, ``weight`` = the number
    of underlying edges (or the exact sum of ``weight_col`` when given).
    The attribute-quotient twin of ``kernels.scc.condensation`` (which
    quotients by computed SCC labels): rolling a file-level import graph up
    to package/repo dependency edges, a user graph up to region edges — the
    coarsening step every multilevel partitioner and graph summary starts
    with. Weights stay exact longs; no floats anywhere.

    Scale shape (100 TB): two equi-joins of the edge table against the
    (small) mapping — broadcast when the vertex table fits, shuffled
    hash join otherwise — then one map-side-combinable agg whose key
    cardinality is #groups², usually tiny. Vertices missing from
    ``mapping`` drop out via the inner joins (loud alternative: pre-check
    with an anti-join; the import-graph callers generate total mappings).
    """
    w = (
        F.sum(F.col(weight_col)).cast("long")
        if weight_col
        else F.count(F.lit(1)).cast("long")
    )
    e = edges.join(
        mapping.select(F.col("id").alias("src"), F.col("group").alias("gsrc")),
        on="src",
    ).join(
        mapping.select(F.col("id").alias("dst"), F.col("group").alias("gdst")),
        on="dst",
    )
    if drop_self_loops:
        e = e.where(F.col("gsrc") != F.col("gdst"))
    return e.groupBy(
        F.col("gsrc").alias("src_group"), F.col("gdst").alias("dst_group")
    ).agg(w.alias("weight"))


def bipartite_project(
    edges: DataFrame,
    cap: int = 1000,
    metrics: dict | None = None,
) -> DataFrame:
    """Co-reference projection of a directed ``edges(src, dst)`` table:
    one row per unordered source pair (a < b) that references at least
    one common dst, ``weight`` = the exact number of distinct shared
    dsts. The co-citation / co-import / users-who-bought-together shape
    (Small 1973) — the projection every bipartite recommender and
    shared-dependency analysis starts from.

    Scale contract: a dst referenced by d sources fans out to d·(d-1)/2
    pairs, so hub dsts are the quadratic blow-up. dsts with in-degree >
    ``cap`` are EXCLUDED and counted (``metrics["n_dropped_dsts"]`` /
    ``["n_dropped_refs"]`` — the minhash dropped-bucket discipline:
    never a silent drop, never an unbounded wedge join;
    ``operators/salting.py:hub_cap``). Plan: dedupe arcs (one shuffle),
    in-degree agg + filter, self-equi-join on dst, map-side-combinable
    pair count. No per-row Python anywhere.
    """
    keep, hot = hub_cap(arcs(edges, directed=True), "dst", cap)
    if metrics is not None:
        drop = hot.collect()[0]
        metrics["n_dropped_dsts"] = drop["n_keys"]
        metrics["n_dropped_refs"] = drop["n_rows"]
    a = keep.select(F.col("dst"), F.col("src").alias("a"))
    b = keep.select(F.col("dst"), F.col("src").alias("b"))
    return (
        a.join(b, on="dst")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
