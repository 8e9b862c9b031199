"""Maximal matching — deterministic parallel local-min edge rounds.

The edge-side symmetry-breaking twin of kernels/mis.py (Israeli & Itai,
"A fast and simple randomized parallel algorithm for maximal matching",
Inf. Process. Lett. 22, 1986; the classic substrate for parallel graph
coarsening and b-suitor-style weighted matching). The reference ships no
matching client — like MIS/coloring this EXCEEDS its bundled workloads
(`test/test1_deg_dist_WG400.c`, `test/test2_jtcc_WG400.c`) on the same
loaded-graph shape.

Determinism contract (the repo-wide mis/coloring discipline): every
canonical undirected edge (a < b) gets ONE fixed priority from the
corpus md5 hash family, totally ordered by (h, a, b). Each round an
undecided edge joins the matching iff its key is strictly smallest
among all undecided edges touching either of its endpoints; edges
incident to a newly matched vertex are removed. The fixpoint is the
*lexicographically first* maximal matching w.r.t. that order —
identical to sequential greedy over edges sorted by (h, a, b), so a
python replay and an unrolled-CTE DuckDB twin reproduce the exact edge
set.

Scale shape: per round, one map-side-combinable struct-min aggregation
over the endpoints of the SHRINKING undecided edge set + two equi-joins
back and two anti-joins forward — all on vertex keys, no widening. The
globally smallest undecided edge is always a local min, so every round
progresses; expected O(log n) rounds over the hash. One action per
round; non-eager localCheckpoint bounds lineage; unconverged at
``max_rounds`` raises LOUDLY. Resumable: state collapses to ONE
(a, b, round) table — round NULL = still undecided, round k = matched
in round k; dropped edges have no row, priorities are recomputed from
(a, b) on resume.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.kernels.mis import SEED
from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


def _edge_h(seed: int) -> F.Column:
    """md5 priority of the canonical edge (a, b) — the mis/corpus hash
    family keyed on 'a:b' so DuckDB replays it as
    ``('0x' || substr(md5(concat_ws(':', 'match', seed, a, b)), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("match"),
                    F.lit(str(seed)),
                    F.col("a").cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


@dataclass
class MatchingResult:
    matching: DataFrame  # (a, b, round) — round that matched the edge
    rounds: int
    history: list[dict[str, Any]] = field(default_factory=list)


def maximal_matching(
    edges: DataFrame,
    seed: int = SEED,
    max_rounds: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> MatchingResult:
    """Lexicographically-first maximal matching (by md5 edge priority) of
    the canonical undirected simple graph underlying ``edges(src, dst)``
    (self-loops dropped, directions collapsed)."""
    spark = edges.sparkSession

    def _start() -> tuple[DataFrame, DataFrame, int]:
        undecided = (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
            .withColumn("h", _edge_h(seed))
            .localCheckpoint(eager=False)
        )
        matching = spark.createDataFrame([], "a long, b long, round int")
        return undecided, matching, undecided.count()

    def _restore(_: int, snap: DataFrame) -> tuple[DataFrame, DataFrame, int]:
        snap = snap.localCheckpoint(eager=True)
        undecided = (
            snap.where(F.col("round").isNull())
            .select("a", "b")
            .withColumn("h", _edge_h(seed))
        )
        matching = snap.where(F.col("round").isNotNull()).select(
            "a", "b", F.col("round").cast("int").alias("round")
        )
        return undecided, matching, undecided.count()

    def step(rnd: int, state, ckpt):
        undecided, matching, _ = state
        key = F.struct("h", "a", "b")
        # min undecided edge key per touched vertex (struct min =
        # lexicographic (h, a, b), map-side combinable)
        vmin = (
            undecided.select(F.col("a").alias("v"), key.alias("k"))
            .unionByName(undecided.select(F.col("b").alias("v"), key.alias("k")))
            .groupBy("v")
            .agg(F.min("k").alias("mn"))
        )
        winners = (
            undecided.join(
                vmin.select(F.col("v").alias("a"), F.col("mn").alias("mna")), on="a"
            )
            .join(vmin.select(F.col("v").alias("b"), F.col("mn").alias("mnb")), on="b")
            .where((key == F.col("mna")) & (key == F.col("mnb")))
            .select("a", "b")
            .transform(ckpt.cut_lazy)
        )
        matched_verts = (
            winners.select(F.col("a").alias("v"))
            .unionByName(winners.select(F.col("b").alias("v")))
            .distinct()
        )
        undecided = (
            undecided.join(
                matched_verts.withColumnRenamed("v", "a"), on="a", how="left_anti"
            )
            .join(matched_verts.withColumnRenamed("v", "b"), on="b", how="left_anti")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: materializes winners (in the plan) and
        # counts the shrinking undecided set
        n_left = undecided.count()
        matching = matching.unionByName(
            winners.select("a", "b", F.lit(rnd).cast("int").alias("round"))
        )
        return (undecided, matching, n_left), {"undecided_edges": n_left}

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
        .select("a", "b", F.lit(None).cast("int").alias("round"))
        .unionByName(s[1]),
        result=lambda s: s[1],
    )
    if not loop.done:
        raise RuntimeError(
            f"matching did not converge within max_rounds={max_rounds} "
            f"({loop.state[2]} edges still undecided) — raise max_rounds"
        )
    return MatchingResult(
        matching=loop.result, rounds=loop.last, history=loop.history
    )
