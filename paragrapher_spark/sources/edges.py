"""Edge-table sources over the driver's parquet testdata.

The reference consumes pre-built graph files; here graphs are *derived*
from relational tables (the Spark-native analogue of its format converters,
`test/test3..6*.c`). Two canonical derivations over
``/root/testdata/sf*/``:

- ``copurchase_edges``: undirected part co-purchase graph from ``lineitem``
  (parts appearing in the same order), oriented ``src < dst``. Non-bipartite
  (has triangles), power-law-ish — the workhorse graph for kernel queries.
- ``customer_order_edges``: directed bipartite customer->order graph for
  degree/offset queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges(src, dst) with src < dst, distinct: parts sharing an order.

    Self-join on l_orderkey: a shuffle-hash/sort-merge join on the order
    key; order sizes are bounded (few lineitems per order) so the join
    fans out mildly and AQE handles any residual skew.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


def copurchase_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges(src, dst, weight) with src < dst: weight = number of
    co-occurring LINEITEM PAIRS (an order that lists a part on k lineitems
    contributes k pairs with each other part — co-occurrence strength, not
    a distinct-order count) — the arc-labelled (weighted) derivation of
    the co-purchase graph (the reference's WG404 weighted-arc capability,
    `src/WG404AP.java:171-182`, expressed as a relational aggregation).
    The DuckDB oracle (COPURCHASE_WEIGHTED_EDGES_SQL) mirrors the same
    definition."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, on="l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def customer_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed bipartite edges customer -> order."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst"))
        .distinct()
    )


def replicate_edges(edges: DataFrame, k: int) -> DataFrame:
    """k disconnected, structurally identical copies of the graph:
    vertex v of copy r becomes ``v*k + r``. Deterministic (no randomness),
    preserves degree distribution and component structure per copy.

    Purpose: scale per-superstep work for scaling-efficiency measurements
    (the sandbox stand-in for the reference paper's 16->128-core runs,
    §5.6) without external data — the same job must saturate both
    parallelism levels, else fixed scheduling overhead masquerades as
    poor scaling.
    """
    if k <= 1:
        return edges
    reps = edges.sparkSession.range(k).select(F.col("id").alias("_rep"))
    return edges.crossJoin(F.broadcast(reps)).select(
        (F.col("src") * k + F.col("_rep")).alias("src"),
        (F.col("dst") * k + F.col("_rep")).alias("dst"),
    )


def md5_vertex_graph(
    spark: SparkSession, n: int, out_deg: int = 4, seed: int = 42, tag: str = "gf"
) -> DataFrame:
    """Deterministic directed graph over vertex ids [0, n): vertex ``i``
    points at ``H(tag, seed, i, j) mod n`` for j in 1..out_deg (self-loops
    dropped, parallel edges deduped). The engine-portable md5 hash
    (functions/hashing.py), so a DuckDB oracle regenerates the identical
    edge set (MD5_VERTEX_GRAPH_SQL below) — used to wire feature tables
    (embeddings.parquet) into graph kernels without external topology.
    Pure ``spark.range`` + JVM expressions: no shuffle, no UDF, trivially
    embarrassingly parallel at any n."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(out_deg))).alias("j"),
        )
        .select(
            "src",
            F.pmod(
                portable_hash(tag, seed, "src", "j"),
                F.lit(n).cast("long"),
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def md5_vertex_graph_sql(n: int, out_deg: int = 4, seed: int = 42, tag: str = "gf") -> str:
    """DuckDB twin of ``md5_vertex_graph`` — byte-identical edge set."""
    return f"""
        SELECT DISTINCT src, dst FROM (
            SELECT t.i AS src,
                   ('0x' || substr(md5('{tag}:{seed}:' || t.i::VARCHAR || ':' || u.j::VARCHAR), 1, 15))::BIGINT
                       % {n} AS dst
            FROM range({n}) t(i), (SELECT unnest(range(1, {out_deg} + 1)) AS j) u
        ) WHERE src != dst
    """


COPURCHASE_EDGES_SQL = """
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
"""

CUSTOMER_ORDER_EDGES_SQL = """
    SELECT DISTINCT o_custkey AS src, o_orderkey AS dst FROM orders
"""

COPURCHASE_WEIGHTED_EDGES_SQL = """
    SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS weight
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# R-MAT — deterministic recursive-matrix power-law graph generator
# ---------------------------------------------------------------------------

# Graph500 defaults (Chakrabarti, Zhan, Faloutsos, "R-MAT: a recursive
# model for graph mining", SDM 2004): P(a,b,c,d) = .57/.19/.19/.05 —
# expressed as integer percent thresholds so every quadrant draw is an
# exact modular-hash comparison, never a float.
RMAT_A, RMAT_AB, RMAT_ABC = 57, 76, 95


def rmat_edges(
    spark: SparkSession,
    scale: int,
    edge_factor: int = 8,
    seed: int = 42,
    tag: str = "rmat",
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic R-MAT edge table over 2^scale vertices with
    edge_factor·2^scale edge DRAWS (self-loops dropped, parallel edges
    deduped — the simple-graph convention every kernel here expects).

    Per draw k and bit level l the quadrant comes from the engine-portable
    md5 hash (functions/hashing.py): u = H(tag:seed:k:l) mod 100,
    compared against the integer thresholds above — so a DuckDB oracle
    regenerates the IDENTICAL power-law graph (rmat_edges_sql). This is
    the deliberately-skewed counterpart of ``md5_vertex_graph`` (uniform
    in-degrees): R-MAT's recursive quadrant bias yields the heavy-tailed
    degree distribution that exercises the hub caps and AQE skew paths
    honestly.

    Plan shape: spark.range(m) → one in-row explode over ``scale`` bit
    levels → md5 + bit arithmetic (whole-stage codegen) → one groupBy(k)
    to assemble vertex ids → distinct. No data movement besides the
    assembly shuffle; embarrassingly parallel at any scale.
    """
    n_draws = edge_factor << scale
    df = spark.range(0, n_draws, 1, partitions or spark.sparkContext.defaultParallelism)
    k = F.col("id").alias("k")
    lvl = F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("l")
    u = F.pmod(portable_hash(tag, seed, "k", "l"), F.lit(100))
    bits = (
        df.select(k, lvl)
        .select(
            "k",
            "l",
            u.alias("u"),
        )
        .select(
            "k",
            "l",
            F.when(F.col("u") >= RMAT_AB, F.lit(1)).otherwise(F.lit(0)).alias("sb"),
            F.when(
                ((F.col("u") >= RMAT_A) & (F.col("u") < RMAT_AB))
                | (F.col("u") >= RMAT_ABC),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("db"),
        )
    )
    return (
        bits.groupBy("k")
        # Python-API shiftleft takes only a LITERAL shift; the SQL form
        # accepts a column, so the per-level weight goes through expr
        .agg(
            F.sum(
                F.expr("CAST(sb AS BIGINT) * shiftleft(CAST(1 AS BIGINT), CAST(l AS INT))")
            ).alias("src"),
            F.sum(
                F.expr("CAST(db AS BIGINT) * shiftleft(CAST(1 AS BIGINT), CAST(l AS INT))")
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def rmat_edges_sql(
    scale: int, edge_factor: int = 8, seed: int = 42, tag: str = "rmat"
) -> str:
    """DuckDB twin of ``rmat_edges`` — byte-identical edge set."""
    n_draws = edge_factor << scale
    return f"""
        SELECT DISTINCT src, dst FROM (
            SELECT k,
                   CAST(SUM(CASE WHEN u >= {RMAT_AB} THEN 1 ELSE 0 END
                            * (1::BIGINT << l)) AS BIGINT) AS src,
                   CAST(SUM(CASE WHEN (u >= {RMAT_A} AND u < {RMAT_AB})
                                   OR u >= {RMAT_ABC} THEN 1 ELSE 0 END
                            * (1::BIGINT << l)) AS BIGINT) AS dst
            FROM (
                SELECT t.k, u.l,
                       ('0x' || substr(md5('{tag}:{seed}:' || t.k::VARCHAR
                                           || ':' || u.l::VARCHAR), 1, 15))
                           ::BIGINT % 100 AS u
                FROM range({n_draws}) t(k),
                     (SELECT unnest(range(0, {scale})) AS l) u
            )
            GROUP BY k
        ) WHERE src != dst
    """
