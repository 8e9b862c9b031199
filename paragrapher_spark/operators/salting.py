"""Skew handling for power-law join keys: measure it, cap it, or cut the
graph so that no vertex owns a partition.

The reference's edge-balanced partitioner splits a single giant adjacency
across multiple buffers (`src/webgraph.c:957-971`) — vertex-aligned
partitioning would put twitter-2010's 3M-degree hubs in one buffer. The
Spark side of that problem:

- AQE's skew-join (on by default, session.py) splits an oversized
  shuffle partition of a join at runtime.
- ``skew_report`` measures the heaviest join keys, and how many
  fair-share pieces each would split into, before one becomes a
  straggler.
- ``grid_partition`` is the 2D vertex-cut: every vertex's edges land in
  at most 2p-1 blocks, whatever its degree (``vertex_cut_report``
  compares it with 1D hash-by-src).
- A SELF-join on a hot key is quadratic in the key's row count however
  the rows are spread. ``hub_cap`` is the one guard every pair-listing
  self-join (LSH buckets, shared n-grams and fingerprints, co-reference
  dsts, wedge centres) puts in front of it: hot groups are dropped and
  counted, never silently.

Every assignment is hash-based (deterministic), never ``rand()`` —
resumed/retried tasks must produce identical rows (SURVEY.md §7 hard
point (d)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash


def hub_cap(
    rows: DataFrame, keys: str | list[str], cap: int
) -> tuple[DataFrame, DataFrame]:
    """The loud hub cap in front of a self-join on ``keys``: a group of n
    rows self-joins into n(n-1)/2 unordered pairs, so one hot key (a hub
    vertex, a boilerplate n-gram, a degenerate LSH bucket) is a quadratic
    blow-up.

    Returns ``(kept, hot)``. ``kept`` is ``rows`` restricted to the
    groups of more than 1 and at most ``cap`` rows (a singleton pairs
    with nothing). ``hot`` is a lazy one-row frame ``(n_keys, n_rows,
    n_pairs)`` of exact longs describing the groups over ``cap``: how
    many there are, how many rows they hold, and Σ n(n-1)/2, the exact
    self-join size they would have added — all 0 when no group is over.
    Plan: one map-side-combinable group count, then a left-semi join on
    ``keys``; ``hot`` reads the same count and costs nothing until a
    caller collects it."""
    keys = [keys] if isinstance(keys, str) else keys
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    kept = rows.join(
        sizes.where((F.col("_n") > 1) & (F.col("_n") <= cap)).select(*keys),
        on=keys,
        how="left_semi",
    )
    hot = sizes.where(F.col("_n") > cap).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
        .cast("long")
        .alias("n_pairs"),
    )
    return kept, hot


def skew_report(
    df: DataFrame,
    key: str,
    n_partitions: int,
    k: int = 20,
) -> DataFrame:
    """(key, cnt, share_fp, fair_share, rec_salts): the ``k`` heaviest
    join keys, each with the number of sub-keys its rows would need to be
    split into to fit an even partitioning — surfaced as a first-class
    diagnostic so skew is measured before it becomes a straggler, not
    after.

    Exact integers throughout: ``share_fp`` is the key's milli-share of
    all rows (ONE integer division), ``fair_share`` = max(1,
    rows // n_partitions) (what an even partitioning would hand each
    task), ``rec_salts`` = ceil(cnt / fair_share) when the key exceeds
    2x fair share, else 0 (a key under twice its share is not worth
    splitting). One map-side-combinable count + a single-row total
    broadcast + a bounded top-k (TakeOrderedAndProject); ties break on
    the key."""
    cnts = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = cnts.agg(
        F.sum("cnt").cast("long").alias("__total")
    ).select(
        "__total",
        F.greatest(
            F.lit(1), F.expr(f"__total div {int(n_partitions)}")
        ).cast("long").alias("fair_share"),
    )
    return (
        cnts.crossJoin(F.broadcast(total))
        .select(
            key,
            "cnt",
            F.expr("(1000 * cnt) div __total").cast("long").alias("share_fp"),
            "fair_share",
            # ceil(cnt / fair_share) via (a+b-1) div b — positive-operand
            # form; a negate-divide-negate ceil would diverge between
            # Spark (div truncates toward zero) and DuckDB (// floors)
            F.when(
                F.col("cnt") > 2 * F.col("fair_share"),
                F.expr("(cnt + fair_share - 1) div fair_share"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rec_salts"),
        )
        .orderBy(F.desc("cnt"), F.asc(key))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# 2D grid (vertex-cut) edge partitioning — PowerGraph / GraphX EdgePartition2D
# ---------------------------------------------------------------------------


def grid_partition(
    edges: DataFrame, p: int, seed: int = 42, tag: str = "vc"
) -> DataFrame:
    """Assign each edge a block of the p x p 2D grid (the vertex-cut
    partitioning of Gonzalez et al., PowerGraph OSDI'12, as shipped in
    GraphX EdgePartition2D): row = H(src) mod p, col = H(dst) mod p,
    block = row*p + col.

    Why it matters at 10^12-file scale: hash-by-edge puts a power-law
    hub's adjacency in O(deg) partitions, and hash-by-src puts it in ONE
    (the skew problem the reference splits giant adjacencies for,
    `src/webgraph.c:957-971`). The 2D grid bounds every vertex's
    replication at 2p-1 blocks — one grid row plus one grid column —
    REGARDLESS of degree: replication grows with sqrt(P), not with the
    hub's fan-out. Pure JVM expressions, no shuffle (the block id is a
    map-side column; the exchange happens only when a consumer
    repartitions on it)."""
    if p < 1:
        raise ValueError(f"grid dimension p must be >= 1, got {p}")
    hs = F.pmod(portable_hash(tag, seed, "src"), F.lit(p))
    hd = F.pmod(portable_hash(tag, seed, "dst"), F.lit(p))
    return edges.withColumn("block", (hs * p + hd).cast("long"))


def vertex_cut_report(edges: DataFrame, p: int, seed: int = 42) -> DataFrame:
    """Compare the 2D grid vertex-cut against 1D hash-by-src on the SAME
    p*p block count: one row per scheme with exact-integer replication
    and balance metrics (every column gates under a SQL oracle).

    Columns: scheme, n_blocks, n_vertices, sum_replicas (Σ over vertices
    of #distinct blocks touching it — sum_replicas/n_vertices is the
    mean replication factor), max_replication, max_block_edges (load of
    the fullest block — the straggler bound).

    Scale shape: one map-side block assignment, an explode to (vertex,
    block) pairs, and two partial-aggregated groupBys — no join, no
    per-row Python; at 100 TB this is a single shuffle on vertex id."""
    g2 = grid_partition(edges, p, seed=seed)
    b1 = F.pmod(
        portable_hash("vc", seed, "src"), F.lit(int(p) * int(p))
    ).cast("long")
    g1 = edges.withColumn("block", b1)

    def _stats(g: DataFrame, scheme: str) -> DataFrame:
        vb = (
            g.select(F.col("src").alias("v"), "block")
            .unionByName(g.select(F.col("dst").alias("v"), "block"))
            .distinct()
        )
        repl = vb.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("r"))
        per_block = g.groupBy("block").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return (
            repl.agg(
                F.count(F.lit(1)).cast("long").alias("n_vertices"),
                F.sum("r").cast("long").alias("sum_replicas"),
                F.max("r").cast("long").alias("max_replication"),
            )
            .crossJoin(
                per_block.agg(F.max("c").cast("long").alias("max_block_edges"))
            )
            .select(
                F.lit(scheme).alias("scheme"),
                F.lit(int(p) * int(p)).cast("long").alias("n_blocks"),
                "n_vertices",
                "sum_replicas",
                "max_replication",
                "max_block_edges",
            )
        )

    return _stats(g2, "grid2d").unionByName(_stats(g1, "hash1d_src"))
