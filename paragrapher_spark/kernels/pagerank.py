"""PageRank as iterative DataFrame supersteps — the flagship kernel.

Semantics: standard damped PageRank with dangling-mass redistribution,
probability-normalized (Σ ranks == 1 every iteration):

    r'(v) = (1-d)/N + d * ( Σ_{u->v} r(u)/outdeg(u) + dangling_mass/N )

Convergence: L∞(r' - r) < tol (the allclose-1e-6 contract, BASELINE.md).

Scale design (SURVEY.md §7 step 5):

- the gather joins the edge table with the rank state on ``src``. While
  the state fits under the session's ``spark.sql.autoBroadcastJoinThreshold``
  (estimated at 24 bytes a row, Spark's per-row size for a long and a
  double), the state is broadcast and never hash-shuffled: the edge
  table is cached once in its input partitioning and never shuffled or
  sorted. Above the threshold (or with it at -1) the edges are cached by
  ``graph.gather_table`` (hash-partitioned and sorted on ``src``) and the
  gather is a SortMergeJoin that shuffles and sorts only the |V|-row
  state.
- the scatter is one ``groupBy(id)`` over the contributions unioned with
  the state rows themselves, so the one exchange (map-side partially
  aggregated) yields the inflow mass, the old rank, the dangling flag
  and the teleport weight together — no merge join after the aggregate.
- one |E| aggregate builds the vertex table ``(id, out)`` (out = Σ
  out-edge weights; the out-degree unweighted). It gives N, the per-edge
  coefficients folded into the cached edge table (``coef = w / out``,
  no per-iteration degree join) and the dangling flag (``out == 0``).
- hub skew: the broadcast gather never shuffles the edges, so a hub's
  out-edges stay spread over the edge table's input partitions. The
  sort-merge gather keeps them in one cached ``src`` partition, the
  layout that spares it an |E| shuffle every superstep.
- driver work is O(1) scalars per superstep (delta, dangling mass), plus
  the broadcast state itself, which the threshold bounds — the
  reference's serial-phase mistake (paper §5.6, 0.475 scaling
  efficiency) is what the ≥0.8 target forbids.
- every superstep cuts its state with a ``localCheckpoint`` that drops
  the carried size estimate (plans/iterstate.py), so no superstep writes
  files and planning stays flat at any iteration count; every
  ``checkpoint_every`` supersteps the rank table is snapshotted via
  CheckpointManager for resume (north rule: resumable mid-iteration with
  per-partition lineage + metrics).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import gather_table, id_set
from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    converged: bool
    final_delta: float
    history: list[dict[str, Any]] = field(default_factory=list)


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    weight_col: str | None = None,
    teleport: DataFrame | list[int] | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank over edges(src, dst). Returns ranks (id, rank).

    ``teleport`` makes it personalized PageRank: a list of vertex ids
    (uniform over the set) or a DataFrame (id, p). The teleport vector is
    normalized to sum 1; both the (1-d) restart and the dangling mass are
    redistributed per that vector (rank(v) = ((1-d) + d*dm)*p(v) +
    d*mass(v)), so Σ ranks stays 1. Default: uniform 1/N (classic).

    ``vertices`` (id) may be supplied to include isolated vertices; by
    default the vertex set is the distinct endpoints of ``edges``. A
    repeated id in ``vertices`` is one vertex; repeated ids in a teleport
    DataFrame add up (their ``p`` values are summed per id).

    ``weight_col`` names an edge-weight column: each vertex distributes its
    rank proportionally to outgoing weights (coef = w / Σ_out w) — the
    weighted-graph capability of the reference's WG404 arc-labelled format
    (`src/WG404AP.java:171-182`). Unweighted (default) is coef = 1/outdeg.

    ``init_ranks`` (id, rank) warm-starts the iteration from a previous
    converged vector instead of the teleport distribution — the
    incremental-update path: after a corpus delta adds/removes a few
    percent of edges, yesterday's ranks are already near the new fixpoint
    and convergence takes a fraction of the supersteps (the fixpoint is
    unique, so the answer is unchanged — only the trajectory shortens).
    Vertices absent from ``init_ranks`` (newly appeared) start at the
    uniform share 1/N. No normalization is applied: the damped iteration
    contracts any initial mass toward the Σ=1 fixpoint on its own, and
    skipping the driver-side renormalize keeps the start vector exactly
    replayable by the SQL oracle. A checkpoint resume takes precedence
    over ``init_ranks``.
    """
    spark = edges.sparkSession
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    vtab = _vertex_table(edges, vertices, w).persist()
    n = vtab.count()
    if n == 0:
        vtab.unpersist()
        return PageRankResult(
            ranks=vtab.select("id", F.lit(0.0).alias("rank")),
            iterations=0, converged=True, final_delta=0.0, history=[],
        )

    # the session's spark.sql.autoBroadcastJoinThreshold in bytes (-1:
    # broadcast joins off), against Spark's per-row size estimate for an
    # (id long, rank double) row, 24 bytes
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    broadcast = 0 <= n * 24 <= limit

    # a vertex whose outgoing weights sum to 0 cannot distribute rank: it
    # has no coefficient row and is dangling
    out = vtab.where(F.col("out") != 0).select(F.col("id").alias("src"), "out")
    if broadcast:
        out = F.broadcast(out)
    coef = (
        edges.select("src", "dst", w.alias("_w"))
        .join(out, on="src")
        .select("src", "dst", (F.col("_w") / F.col("out")).alias("coef"))
    )

    if broadcast:
        # the first superstep fills the cache; the broadcast gather never
        # needs the edges partitioned or sorted on src
        edges_w = coef.persist()
    else:
        edges_w, _ = gather_table(coef, "src")

    # the per-vertex columns every state row carries: the dangling flag and
    # the teleport vector's "p" column (uniform PageRank keeps p a literal:
    # no join, no extra bytes shuffled)
    fixed = vtab.select("id", (F.col("out") == 0).alias("is_dangling"))
    if teleport is not None:
        if isinstance(teleport, list):
            tp = id_set(spark, teleport).select("id", F.lit(1.0).alias("p_raw"))
        else:
            tp = teleport.groupBy("id").agg(
                F.sum(F.col("p").cast("double")).alias("p_raw")
            )
        # restrict to graph vertices BEFORE normalizing: teleport ids absent
        # from the graph would otherwise silently leak restart mass
        # (Σ ranks < 1); after the semi-join, Σp over surviving ids is
        # renormalized to exactly 1.
        tp = tp.join(vtab, on="id", how="left_semi")
        p_total = tp.agg(F.sum("p_raw")).collect()[0][0]
        if not p_total:
            raise ValueError(
                "personalized teleport set has no overlap with the graph's "
                "vertex set (or zero total mass)"
            )
        fixed = fixed.join(tp, on="id", how="left").select(
            "id", "is_dangling",
            F.coalesce(F.col("p_raw") / F.lit(p_total), F.lit(0.0)).alias("p"),
        )
    # Classic (uniform) PageRank keeps p OUT of the rank table: it is the
    # constant 1/N (the python double, identical IEEE value to the SQL
    # 1.0/N), so carrying it per row would add 8 bytes to every
    # |V|-row shuffle and checkpoint each superstep for no information.
    p = F.lit(1.0 / n) if teleport is None else F.col("p")
    p_cols = [] if teleport is None else ["p"]

    def _cold_start() -> DataFrame:
        if init_ranks is None:
            return fixed.select("id", p.alias("rank"), "is_dangling", *p_cols)
        # warm start: previous vector where present; vertices the delta
        # introduced fall back to the SAME per-vertex teleport the cold
        # start would seed them with (uniform 1/N, or the personalized p
        # column) — so a warm personalized start replays exactly the cold
        # start vector on missing ids. The left join keeps the vertex set
        # authoritative (ids dropped by the delta vanish with it).
        r0 = init_ranks.select("id", F.col("rank").cast("double").alias("_r0"))
        return fixed.join(r0, on="id", how="left").select(
            "id", F.coalesce("_r0", p).alias("rank"), "is_dangling", *p_cols
        )

    def _start(r: DataFrame) -> tuple[DataFrame, float, float]:
        """(ranks, dangling mass, delta) loop state from a start vector;
        the dangling-mass aggregate is the one action that materializes
        it."""
        r = r.localCheckpoint(eager=False)
        dm = r.agg(_dangling_mass()).collect()[0][0] or 0.0
        return r, dm, float("inf")

    # the superstep references ``ranks`` twice (gather join + scatter
    # union) — the self-join shape whose carried size estimate squares
    # every generation under a plain localCheckpoint (plans/iterstate.py);
    # the convergence path runs 17-40+ iterations
    def step(it: int, state, ckpt):
        ranks, dm, _ = state
        restart = (1.0 - damping) + damping * dm  # scaled per-vertex by p
        new_ranks = _next_ranks(
            edges_w, ranks, restart, p,
            damping=damping, broadcast=broadcast,
        )
        # non-eager cut: the delta/dangling aggregation below is the one
        # action of the superstep — it materializes the checkpoint as a
        # side effect
        new_ranks = ckpt.cut(new_ranks, eager=False)
        row = new_ranks.agg(
            F.max(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
            _dangling_mass().alias("dm"),
        ).collect()[0]
        delta, dm = row["delta"] or 0.0, row["dm"] or 0.0
        ranks = new_ranks.select("id", "rank", "is_dangling", *p_cols)
        metrics = {"delta": delta, "dangling_mass": dm, "frontier_size": n}
        return (ranks, dm, delta), metrics

    loop = superstep.run(
        step,
        lambda: _start(_cold_start()),
        spark=spark,
        max_iter=max_iter,
        done=lambda s: s[2] < tol,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: _start(snap.select("id", "rank").join(fixed, on="id")),
        snapshot=lambda s: s[0].select("id", "rank"),
        result=lambda s: s[0].select("id", "rank"),
        final=lambda lp: (
            (lp.last, {"delta": lp.state[2], "converged": True}) if lp.done else None
        ),
    )
    edges_w.unpersist()
    vtab.unpersist()
    return PageRankResult(
        ranks=loop.result, iterations=loop.last, converged=loop.done,
        final_delta=loop.state[2], history=loop.history,
    )


def _vertex_table(
    edges: DataFrame, vertices: DataFrame | None, w: Column
) -> DataFrame:
    """``(id, out)``: every vertex with the sum ``out`` of its out-edge
    weights ``w`` (0.0 without out-edges), from one aggregate over the
    edges. The vertex set is the distinct ``vertices.id`` when given
    (isolated vertices included), otherwise the distinct ``src`` ∪ ``dst``
    endpoints."""
    if vertices is None:
        return (
            edges.select(F.col("src").alias("id"), w.alias("_w"))
            .unionByName(edges.select(F.col("dst").alias("id"), F.lit(0.0).alias("_w")))
            .groupBy("id")
            .agg(F.coalesce(F.sum("_w"), F.lit(0.0)).alias("out"))
        )
    out = edges.groupBy(F.col("src").alias("id")).agg(F.sum(w).alias("out"))
    ids = id_set(edges.sparkSession, vertices)
    return ids.join(out, on="id", how="left").select(
        "id", F.coalesce("out", F.lit(0.0)).alias("out")
    )


def _dangling_mass() -> Column:
    return F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0))


def _next_ranks(
    edges_w: DataFrame,
    ranks: DataFrame,
    restart: float,
    p: Column,
    *,
    damping: float,
    broadcast: bool,
) -> DataFrame:
    """One superstep's ``(id, rank, old_rank, is_dangling[, p])`` state
    from the cached ``edges_w(src, dst, coef)`` and the rank state
    ``ranks(id, rank, is_dangling[, p])``.

    Gather: ``edges_w`` joins the ``(src, rank)`` state, broadcast when
    ``broadcast``. Scatter: one ``groupBy(id)`` over the contributions
    ``(id, c)`` unioned with the state rows ``(id, c=0, old_rank,
    is_dangling[, p])``; only ids carrying an ``old_rank`` are kept, so a
    contribution to an id outside the vertex table is dropped."""
    ranks_src = ranks.select(F.col("id").alias("src"), "rank")
    if broadcast:
        ranks_src = F.broadcast(ranks_src)
    contribs = edges_w.join(ranks_src, on="src").select(
        F.col("dst").alias("id"), (F.col("rank") * F.col("coef")).alias("c")
    )
    carried = [c for c in ranks.columns if c not in ("id", "rank")]
    return (
        ranks.select("id", F.lit(0.0).alias("c"), F.col("rank").alias("old_rank"), *carried)
        .unionByName(contribs, allowMissingColumns=True)
        .groupBy("id")
        .agg(
            F.sum("c").alias("mass"),
            F.max("old_rank").alias("old_rank"),
            *[F.max(c).alias(c) for c in carried],
        )
        .where(F.col("old_rank").isNotNull())
        .select(
            "id",
            (F.lit(restart) * p + F.lit(damping) * F.col("mass")).alias("rank"),
            "old_rank",
            *carried,
        )
    )


# ---------------------------------------------------------------------------
# Batched multi-seed personalized PageRank (exact fixed point)
# ---------------------------------------------------------------------------

PPR_FIXED_POINT = 1_000_000_000_000  # 1e-12 mass resolution per seed


def ppr_batch(
    edges: DataFrame,
    seeds: list[int],
    rounds: int = 6,
    alpha_num: int = 85,
    alpha_den: int = 100,
    checkpoint: "CheckpointManager | None" = None,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Personalized PageRank for a BATCH of seeds in one job — the
    production shape of PPR serving (recommendation/related-items
    pipelines push thousands of seeds through the same supersteps; a
    per-seed loop would re-scan |E| per seed). State is (seed, id,
    r) — the per-seed vectors ride the SAME two shuffles per round,
    so the marginal cost of another seed is rows, not stages.

    Exact-integer contract (unlike the float `pagerank` kernel, this
    variant gates bit-exactly): scores carry 1e-12 fixed point; each
    round

        r_{t+1}(v|s) = [v = s]·(S − αS) + Σ_{u→v} (α·r_t(u|s)) DIV
                       (den·outdeg(u))

    with α = alpha_num/alpha_den and every per-edge term an integer
    floor division — summation-order-free, DuckDB-unrollable. Dangling
    and floor mass simply leaks (documented; the truncated-series
    semantics, same contract class as katz.py). r_0 = S·e_s.

    Overflow: per-seed total mass ≤ S, so every cell ≤ 1e12 and the
    α-product ≤ 8.5e13 — int64-safe for any seed count since seeds
    never mix.

    100 TB shape: the edge table is degree-annotated once, cached,
    pre-sorted on src; each round is one equi-join edges⋈state on src
    (state arrives hash-partitioned on src) + one grouped sum keyed
    (dst, seed). Seed batch size scales state linearly but supersteps
    stay two-shuffle; a hot vertex's out-edges sit in one cached src
    partition, the layout that spares the |E| shuffle every round.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not seeds:
        raise ValueError("ppr_batch needs at least one seed")

    e = edges.select("src", "dst").distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed, _ = gather_table(e.join(outd, "src"), "src")

    S = PPR_FIXED_POINT
    teleport = spark.createDataFrame(
        [(int(s), int(s), S - alpha_num * S // alpha_den) for s in seeds],
        "seed long, id long, t long",
    )
    def step(rnd: int, state: DataFrame, ckpt):
        pushed = (
            ed.join(
                state.select(F.col("id").alias("src"), "seed", "r"), on="src"
            )
            .groupBy(F.col("dst").alias("id"), "seed")
            .agg(
                F.sum(F.expr(f"({alpha_num} * r) DIV ({alpha_den} * outdeg)"))
                .cast("long")
                .alias("p")
            )
        )
        state = ckpt.cut(  # one action per round
            pushed.join(teleport, ["seed", "id"], "full_outer")
            .select(
                "seed",
                "id",
                (F.coalesce("p", F.lit(0)) + F.coalesce("t", F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            .repartition(n_part, "id")
        )
        return state, {"seeds": len(seeds)}

    # resumable (north-rule mid-iteration contract): the (seed, id, r)
    # state IS the checkpoint payload; restart continues at the next round
    loop = superstep.run(
        step,
        lambda: spark.createDataFrame(
            [(int(s), int(s), S) for s in seeds], "seed long, id long, r long"
        ).repartition(n_part, "id"),
        spark=spark,
        max_iter=rounds,
        key="round",
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: snap.repartition(n_part, "id").localCheckpoint(
            eager=True
        ),
        result=lambda s: s.select("seed", "id", F.col("r").alias("ppr_fp")).where(
            F.col("ppr_fp") > 0
        ),
    )
    ed.unpersist()
    return loop.result
