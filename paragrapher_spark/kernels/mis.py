"""Maximal independent set — deterministic Luby rounds (Luby 1986).

The classic symmetry-breaking kernel over a link graph (the same extension
family as PageRank/LP/k-core around the reference's loader: its client
programs are one-pass analytics over the loaded graph,
`test/test1_deg_dist_WG400.c`, `test/test2_jtcc_WG400.c`; MIS is the
canonical *parallel* graph primitive those graphs feed in the published
literature — Luby, "A simple parallel algorithm for the maximal
independent set problem", SIAM J. Comput. 15(4), 1986).

Determinism contract: instead of Luby's per-round random priorities, every
vertex gets ONE fixed priority from the corpus md5 hash family
(`sources/corpus.py:58-80`), totally ordered by (h, id). Each round,
an undecided vertex joins the MIS iff its priority is strictly smallest
among itself and all UNDECIDED neighbors; its neighbors become excluded.
The fixpoint is the *lexicographically first* MIS w.r.t. the (h, id)
order — identical to the sequential greedy over vertices sorted by
priority, so a python replay and an unrolled-CTE DuckDB replay both
reproduce the exact member set (no float, no tie ambiguity).

Scale shape (100 TB): each round is two equi-joins + one
map-side-combinable min-aggregation over the SHRINKING undecided set;
the symmetric adjacency is materialized once and semi-joined down.
Expected O(log n) rounds (Luby's analysis carries over: a constant
fraction of edges is decided per round in expectation over the hash).
One action per round (the kcore/PageRank discipline); non-eager
localCheckpoint bounds lineage. Unconverged at ``max_rounds`` fails
LOUDLY (the scc coloring-guard contract) rather than returning a
partial set.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager

SEED = 42


def _h(tag: str, seed: int, col) -> F.Column:
    """Corpus md5 hash family (sources/corpus.py:58-80): uniform 63-bit
    value DuckDB reproduces as
    ``('0x' || substr(md5(concat_ws(':', tag, seed, col)), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(tag), F.lit(str(seed)), F.col(col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


@dataclass
class MISResult:
    members: DataFrame  # (id, round) — round = Luby round that decided id
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def maximal_independent_set(
    edges: DataFrame,
    seed: int = SEED,
    max_rounds: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> MISResult:
    """Lexicographically-first MIS (by md5 priority) of the canonical
    undirected simple graph underlying ``edges(src, dst)``. Vertex set =
    edge endpoints (pass isolated vertices through a trivial union by the
    caller if needed — every isolated vertex is always a member).

    Resumable: the loop state collapses to ONE table (id, round) — round
    NULL = still undecided, round k = joined the MIS in round k; excluded
    vertices simply have no row, and the md5 priority is a pure function
    of id so it is recomputed on resume rather than stored."""
    spark = edges.sparkSession
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    # symmetric adjacency, reused every round
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .persist()
    )

    def _start() -> tuple[DataFrame, DataFrame, int]:
        undecided = (
            und.select(F.col("a").alias("id"))
            .unionByName(und.select(F.col("b").alias("id")))
            .distinct()
            .select("id", _h("mis", seed, "id").alias("h"))
            .localCheckpoint(eager=False)
        )
        members = spark.createDataFrame([], "id long, round int")
        return undecided, members, undecided.count()

    def _restore(_: int, snap: DataFrame) -> tuple[DataFrame, DataFrame, int]:
        snap = snap.localCheckpoint(eager=True)
        undecided = snap.where(F.col("round").isNull()).select(
            "id", _h("mis", seed, "id").alias("h")
        )
        members = snap.where(F.col("round").isNotNull()).select(
            "id", F.col("round").cast("int").alias("round")
        )
        return undecided, members, undecided.count()

    def step(rnd: int, state, ckpt):
        undecided, members, _ = state
        # smallest undecided-neighbor priority per undecided vertex;
        # struct min = lexicographic (h, id) min, map-side combinable
        nbmin = (
            adj.join(
                undecided.select(F.col("id").alias("u"), "h"), on="u"
            )
            .groupBy("v")
            .agg(F.min(F.struct("h", F.col("u").alias("id"))).alias("mn"))
            .withColumnRenamed("v", "id")
        )
        winners = (
            undecided.join(nbmin, on="id", how="left")
            .where(
                F.col("mn").isNull()
                | (F.struct("h", "id") < F.col("mn"))
            )
            .select("id")
            .transform(ckpt.cut_lazy)
        )
        excluded = (
            adj.join(winners.withColumnRenamed("id", "u"), on="u", how="left_semi")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        undecided = (
            undecided.join(winners, on="id", how="left_anti")
            .join(excluded, on="id", how="left_anti")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: counting the next undecided set
        # materializes this round's winners checkpoint (it is in the plan)
        n_left = undecided.count()
        members = members.unionByName(
            winners.select("id", F.lit(rnd).cast("int").alias("round"))
        )
        return (undecided, members, n_left), {"undecided": n_left}

    loop = superstep.run(
        step,
        _start,
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2] == 0,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=_restore,
        # one table: round NULL = still undecided
        snapshot=lambda s: s[0]
        .select("id", F.lit(None).cast("int").alias("round"))
        .unionByName(s[1]),
        result=lambda s: s[1],
    )
    adj.unpersist()
    if not loop.done:
        raise RuntimeError(
            f"MIS did not converge within max_rounds={max_rounds} "
            f"({loop.state[2]} vertices still undecided) — raise max_rounds"
        )
    return MISResult(members=loop.result, rounds=loop.last, history=loop.history)
