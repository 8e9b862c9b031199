"""Data-layout operators — Morton (Z-order) clustering for
two-dimensional scan pruning.

The 100 TB problem this solves: parquet min/max pruning only skips a
file/row-group when the FILTER column's range inside it is narrow. A
layout sorted by one column gives perfect pruning on that column and
NONE on any other — every file spans the other column's full range. A
Z-order layout (interleave the bits of two columns, sort by the result
— Morton 1966; the Delta Lake / Iceberg `ZORDER BY` technique) makes
BOTH columns' per-file ranges narrow at once (each file covers a quad
of the 2-D key space), so predicates on either column, or both, prune.

The engine-parity angle: the reference's WebGraph substrate leans on
locality-preserving vertex orders for compression and scan locality
(BVGraph copy-lists reference NEARBY vertices); Z-ordering an edge
table by (src, dst) is the relational image of that trick — edge blocks
become 2-D tiles, so a subgraph read on a vertex range prunes on both
endpoints (`paragrapher_csx_get_subgraph` semantics,
`src/webgraph.c:1036-1091`, served by file skipping instead of offset
arithmetic).

Everything here is pure JVM Column expressions (an unrolled
shift/mask/or tree — whole-stage codegen folds it into straight-line
long arithmetic); the z-value is an exact integer, so the DuckDB oracle
replays it bit for bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import arcs

#: default bits per dimension: 21+21 = 42-bit z-values, ids to ~2.1e6.
#: Raise to 31 (62-bit z) for planet-scale id spaces.
DEFAULT_BITS = 21


def zvalue(x: Column, y: Column, bits: int = DEFAULT_BITS) -> Column:
    """Morton z-value of two non-negative longs: bit i of ``x`` lands at
    position 2i, bit i of ``y`` at 2i+1. Inputs past ``bits`` bits raise
    loudly (a silent mask would alias far-apart keys into one tile)."""
    guard = F.when(
        (x < 0) | (y < 0) | (x >= F.lit(1 << bits)) | (y >= F.lit(1 << bits)),
        F.raise_error(
            F.format_string(
                f"zvalue: inputs must be in [0, 2^{bits}); got (%s, %s)",
                x.cast("string"),
                y.cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0))
    parts = [guard]
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).cast("long")


def zvalue_sql(x: str, y: str, bits: int = DEFAULT_BITS) -> str:
    """The DuckDB twin of :func:`zvalue` (same unrolled shift/mask/or
    tree), for oracle SQL generation."""
    xb = f"CAST({x} AS BIGINT)"
    yb = f"CAST({y} AS BIGINT)"
    parts = []
    for i in range(bits):
        parts.append(f"((({xb} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = DEFAULT_BITS,
    n_files: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered by the Morton order of
    ``cols``: compute the z-value, range-partition on it (equal-size
    tiles via sampled range bounds — the same balancing
    repartitionByRange gives every sorted writer here), sort within
    partitions, and drop the helper column on write. Readers filtering
    on EITHER of ``cols`` (or both) now prune files/row-groups by
    parquet min/max stats; no reader-side cooperation needed.

    Scale shape: one range-exchange + per-partition sort — identical
    cost to a plain sorted write; the pruning benefit is free at read
    time forever after (the write-once/scan-many trade every 100 TB
    table makes)."""
    spark = df.sparkSession
    n = n_files or int(spark.conf.get("spark.sql.shuffle.partitions"))
    x, y = cols
    # Range boundaries come from reservoir sampling; the default 100
    # samples/partition leaves visible tile-boundary jitter on small
    # inputs (a file that crosses a high Morton bit spans wide in both
    # dims). 10x the sample for the duration of this write — the cost is
    # one pass over ~1000 longs per input partition, noise at any scale.
    samp_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(samp_key, "100")
    spark.conf.set(samp_key, "1000")
    try:
        (
            df.withColumn("__z", zvalue(F.col(x), F.col(y), bits))
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        spark.conf.set(samp_key, prev)


def _bitlen(col: Column) -> Column:
    """Exact integer bit length of a positive long — length of the
    minimal base-2 string (no libm log2: a float log is off-by-one
    exactly at the power-of-two boundaries that matter here). DuckDB
    twin: ``length(bin(x))``."""
    return F.length(F.conv(col.cast("string"), 10, 2)).cast("long")


def _gamma_bits(col: Column) -> Column:
    """Elias gamma code length of x >= 1: 2*floor(log2 x) + 1."""
    return 2 * (_bitlen(col) - 1) + 1


def relabel_by_degree(edges: DataFrame) -> DataFrame:
    """(old_id, degree, new_id): dense 0..N-1 vertex ids ranked by
    (total degree DESC, old id ASC) — the locality-preserving
    renumbering WebGraph-family compressors apply before encoding
    (high-degree vertices get small ids, so the hubs every adjacency
    list references cost few gap bits; cf. the reference's BVGraph
    substrate, `src/webgraph.c:84-390` reads graphs already in such an
    order). Distributed rank via operators/indexing.dense_ids (range
    partition + per-partition bases — no single-partition window)."""
    from paragrapher_spark.operators.indexing import dense_ids

    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
    )
    deg = verts.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    keyed = deg.select((-F.col("degree")).alias("negdeg"), "id")
    return (
        dense_ids(keyed, ["negdeg", "id"], id_col="new_id")
        .select(
            F.col("id").alias("old_id"),
            (-F.col("negdeg")).cast("long").alias("degree"),
            F.col("new_id").cast("long"),
        )
    )


def relabel_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """edges with both endpoints rewritten through mapping(old_id ->
    new_id) — two equi-joins; the mapping is |V|-sized, so they shuffle
    rather than broadcast at scale."""
    m_src = mapping.select(
        F.col("old_id").alias("src"), F.col("new_id").alias("__new_src")
    )
    m_dst = mapping.select(
        F.col("old_id").alias("dst"), F.col("new_id").alias("__new_dst")
    )
    return (
        edges.join(m_src, on="src")
        .join(m_dst, on="dst")
        .select(
            F.col("__new_src").alias("src"), F.col("__new_dst").alias("dst")
        )
    )


def adjacency_gap_bits(edges: DataFrame, label: str = "natural") -> DataFrame:
    """One row (ordering, n_lists, n_edges, total_bits,
    bits_per_edge_fp): the Elias-gamma cost of gap-encoding every
    adjacency list under the CURRENT vertex labeling — the layout
    analytic behind BVGraph-style compression (Boldi-Vigna WWW'04
    encode successor lists as gaps; a labeling that keeps neighbors
    near their source shrinks every gap). First successor costs
    gamma(zigzag(dst_0 - src) + 1) (sign-folded — it may precede its
    source), later successors gamma(dst_i - dst_{i-1}) over the
    dst-sorted distinct list. All integer (bit lengths via base-2
    string length, never float log2); bits_per_edge_fp is milli-bits
    as ONE integer division. One window + one aggregation; compare the
    row for the natural labeling against relabel_by_degree's to measure
    what the renumbering buys before paying for a rewrite."""
    from pyspark.sql import Window

    dedup = arcs(edges, directed=True)
    win = Window.partitionBy("src").orderBy("dst")
    lagd = F.lag("dst").over(win)
    delta = F.col("dst") - F.col("src")
    zig = F.when(delta >= 0, 2 * delta).otherwise(-2 * delta - 1)
    code_val = F.when(lagd.isNull(), zig + 1).otherwise(F.col("dst") - lagd)
    costed = dedup.select(
        "src", _gamma_bits(code_val).alias("bits")
    )
    return costed.agg(
        F.lit(label).alias("ordering"),
        F.countDistinct("src").cast("long").alias("n_lists"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("bits").cast("long").alias("total_bits"),
        F.expr("(1000 * sum(bits)) div count(1)").cast("long").alias(
            "bits_per_edge_fp"
        ),
    )


# ---------------------------------------------------------------------------
# Bucketed tables — persistent co-location (the shuffle you pay once)
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as an external bucketed (+ optionally sort-bucketed)
    table: Spark's `bucketBy` hashes rows into ``n_buckets`` files per
    partition ON WRITE, and records the layout in the catalog — every
    future equi-join or aggregation on ``bucket_cols`` between tables
    with the SAME bucket count then plans with NO Exchange on either
    side (pinned in tests/test_layout.py). This is the 100 TB trade: the
    fact-to-fact join too big for broadcast, run nightly, pays its
    shuffle once at write time instead of on every query. With
    ``sort_cols`` the files are also sorted, so the SortMergeJoin skips
    its per-query sort too.

    The table is EXTERNAL (data at ``path``): dropping the catalog entry
    never deletes data, re-registration is idempotent, and the warehouse
    dir never fills with copies."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table back THROUGH THE CATALOG — `spark.table`,
    not `spark.read.parquet(path)`: the bucket layout lives in the table
    metadata, and a path read silently forgets it (the join would
    shuffle again, correct but 2 exchanges heavier)."""
    return spark.table(name)
