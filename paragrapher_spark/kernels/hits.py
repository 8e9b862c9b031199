"""HITS (hubs & authorities) — Kleinberg's link-analysis power iteration.

The second classic link-analysis kernel next to PageRank (Kleinberg,
"Authoritative sources in a hyperlinked environment", JACM 1999) and a
standard workload over the web-crawl graphs the reference's WebGraph
datasets come from. Mutual recursion over the directed edge table:

    auth(v) = sum over in-neighbors u of hub(u)
    hub(u)  = sum over out-neighbors v of auth(v)

run for a FIXED number of synchronous rounds (the oracle-checkable variant,
like pagerank_fixed8), normalized ONCE at the end by each vector's L1 mass.
End-only normalization keeps each round at exactly two joins + two
map-side-combinable sum aggregations (no extra per-round action for a norm
scalar); with double precision the un-normalized scores stay in range for
any sane round count (growth is lambda^k, lambda <= max degree * max score).

100 TB shape: identical cost class to a PageRank superstep — two shuffles
on the vertex key per round, edge table repartitioned + sorted once before
caching (kernels/pagerank.py measurement), driver state O(1) scalars.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class HITSResult:
    scores: DataFrame  # (id, authority, hub) — L1-normalized, rounded 6
    iterations: int
    history: list[dict[str, Any]] = field(default_factory=list)


def hits(
    edges: DataFrame,
    iterations: int = 8,
    num_partitions: int | None = None,
) -> HITSResult:
    """Fixed-round HITS over directed edges(src, dst). Every vertex (either
    endpoint) gets a row; sink/source vertices keep score 0 on the side
    they cannot earn. Deterministic: a DuckDB oracle reproduces it with
    ``iterations`` unrolled materialized CTE rounds."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()

    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )

    def step(it: int, state, ckpt):
        auth = (
            e.join(state[1].select(F.col("id").alias("src"), "hub"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            e.join(auth.select(F.col("id").alias("dst"), "auth"), on="dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        n = hub.count()  # ONE action per round materializes the checkpoint
        return (auth, hub), {"hub_vertices": n}

    def _scores(state) -> DataFrame:
        auth, hub = state
        return (
            vertices.join(auth, on="id", how="left")
            .join(hub, on="id", how="left")
            .select(
                "id",
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            )
        )

    loop = superstep.run(
        step,
        (None, vertices.select("id", F.lit(1.0).alias("hub"))),
        spark=spark,
        max_iter=iterations,
        result=_scores,
    )
    e.unpersist()
    scores = loop.result
    norms = scores.agg(
        F.sum("auth").alias("na"), F.sum("hub").alias("nh")
    ).collect()[0]
    na = norms["na"] or 1.0
    nh = norms["nh"] or 1.0
    out = scores.select(
        "id",
        F.round(F.col("auth") / F.lit(float(na)), 6).alias("authority"),
        F.round(F.col("hub") / F.lit(float(nh)), 6).alias("hub"),
    )
    return HITSResult(scores=out, iterations=iterations, history=loop.history)


# ---------------------------------------------------------------------------
# SALSA — the degree-normalized sibling of HITS (Lempel & Moran, WWW 2000)
# ---------------------------------------------------------------------------

SALSA_FIXED_POINT = 1_000_000_000_000  # 1e-12 score resolution


@dataclass
class SALSAResult:
    scores: DataFrame  # (id, auth_fp, hub_fp) — exact longs
    iterations: int


def salsa(
    edges: DataFrame,
    iterations: int = 4,
    num_partitions: int | None = None,
    checkpoint: "CheckpointManager | None" = None,
    checkpoint_every: int = 2,
) -> SALSAResult:
    """Truncated SALSA ("Stochastic Approach for Link-Structure
    Analysis", Lempel & Moran 2000): HITS's mutual recursion with each
    contribution divided by the contributor's degree — the two-step
    random walk on the bipartite hub/authority view:

        hub(i)  = Σ_{j ∈ out(i)}  auth(j) / indeg(j)
        auth(j) = Σ_{i ∈ in(j)}   hub(i)  / outdeg(i)

    run a FIXED number of synchronous rounds from auth ≡ 1 (the same
    truncated-fixed-round contract as katz.py). All arithmetic is exact
    integer: scores carry 1e-12 fixed point and every per-edge term is an
    integer floor division (DIV) before an integer sum, so the result is
    summation-order-free and a DuckDB oracle unrolls it bit-exactly —
    unlike HITS's float rounds, no round(6) tolerance is needed.

    Overflow bound: total authority mass never grows (each round is a
    sub-stochastic redistribution), so values stay ≤ |V|·SCALE ≈ 2e15 per
    cell for |V| = 2000 — far inside int64 even summed.

    100 TB shape: identical to a HITS round — per round two equi-joins
    on the degree-annotated cached edge table + two map-side-combinable
    sums; degrees are attached to edges ONCE before the loop (they never
    change), so no per-round degree join.
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = (
        e.join(ind, "dst")
        .join(outd, "src")
        .select("src", "dst", "indeg", "outdeg")
        .repartition(n_part, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    ed.count()

    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )

    def step(rnd: int, state, ckpt):
        hub = (
            ed.join(state[0].select(F.col("id").alias("dst"), "a"), on="dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.expr("a DIV indeg")).cast("long").alias("h"))
        )
        auth = (
            ed.join(hub.select(F.col("id").alias("src"), "h"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("h DIV outdeg")).cast("long").alias("a"))
            .repartition(n_part, "id")
            .transform(ckpt.cut)  # one action per round, cuts lineage
        )
        return (auth, hub), {}

    def _restore(_: int, snap: DataFrame):
        snap = snap.repartition(n_part, "id").localCheckpoint(eager=True)
        return (
            snap.where(F.col("a").isNotNull()).select("id", "a"),
            snap.where(F.col("h").isNotNull()).select("id", "h"),
        )

    def _scores(state) -> DataFrame:
        auth, hub = state
        return (
            vertices.join(auth, on="id", how="left")
            .join(hub, on="id", how="left")
            .select(
                "id",
                F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_fp"),
                F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_fp"),
            )
        )

    # resumable (north-rule contract): the snapshot carries BOTH vectors
    # (id, a, h) so a restart needs no recomputation of the interleave
    loop = superstep.run(
        step,
        (vertices.select("id", F.lit(SALSA_FIXED_POINT).cast("long").alias("a")), None),
        spark=spark,
        max_iter=iterations,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=_restore,
        snapshot=lambda s: s[0].join(s[1], "id", "full_outer").select("id", "a", "h"),
        result=_scores,
    )
    ed.unpersist()
    return SALSAResult(scores=loop.result, iterations=iterations)
