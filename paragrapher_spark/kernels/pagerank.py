"""PageRank as iterative DataFrame supersteps — the flagship kernel.

Semantics: standard damped PageRank with dangling-mass redistribution,
probability-normalized (Σ ranks == 1 every iteration):

    r'(v) = (1-d)/N + d * ( Σ_{u->v} r(u)/outdeg(u) + dangling_mass/N )

Convergence: L∞(r' - r) < tol (the allclose-1e-6 contract, BASELINE.md).

Scale design (SURVEY.md §7 step 5):

- the edge table is joined with the rank table on ``src`` every superstep;
  edges are repartitioned on ``src`` ONCE and persisted, so each iteration
  shuffles only the rank table (|V| rows, not |E|) into co-location —
  the gather; the ``groupBy(dst)`` scatter is the one unavoidable |E|
  shuffle, with map-side partial aggregation.
- per-edge contribution coefficients (1/outdeg) are precomputed into the
  persisted edge table — no per-iteration degree join.
- hub skew: AQE skew-join splits oversized src partitions at runtime
  (session defaults); ``n_salts`` adds explicit deterministic salting for
  single-key hotspots beyond AQE's reach (operators.salting) — the
  reference splits giant adjacencies across buffers the same way
  (`src/webgraph.c:957-971`).
- driver work is O(1) scalars per superstep (delta, dangling mass) —
  the reference's serial-phase mistake (paper §5.6, 0.475 scaling
  efficiency) is what the ≥0.8 target forbids.
- every superstep localCheckpoints (truncates the growing join lineage);
  every ``checkpoint_every`` supersteps the rank table is snapshotted via
  CheckpointManager for resume (north rule: resumable mid-iteration with
  per-partition lineage + metrics).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.operators.salting import explode_salts, salt_column
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
    num_partitions: int | None = None,
    n_salts: int | str | None = None,
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
    default the vertex set is the distinct endpoints of ``edges``.

    ``weight_col`` names an edge-weight column: each vertex distributes its
    rank proportionally to outgoing weights (coef = w / Σ_out w) — the
    weighted-graph capability of the reference's WG404 arc-labelled format
    (`src/WG404AP.java:171-182`). Unweighted (default) is coef = 1/outdeg.

    ``n_salts="auto"`` sizes the salt count from the max out-degree: a hub
    whose adjacency exceeds ~2 partitions' fair share of edges is split
    into ceil(max_deg / (|E|/n_part)) deterministic sub-keys — the
    reference's giant-adjacency splitting (`src/webgraph.c:957-971`)
    applied to the gather join. 0/None disables; AQE skew-join still
    covers partition-level skew either way.

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
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        vertices = vertices.select("id")
    vertices = vertices.repartition(n_part, "id").persist()
    n = vertices.count()
    if n == 0:
        empty = vertices.select("id", F.lit(0.0).alias("rank"))
        return PageRankResult(
            ranks=empty, iterations=0, converged=True, final_delta=0.0, history=[]
        )

    if weight_col is None:
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # contribution coefficient folded into the persisted edge table:
        # no degree join inside the loop
        edges_w = (
            edges.select("src", "dst")
            .join(out_deg, on="src")
            .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("coef"))
        )
    else:
        w = F.col(weight_col).cast("double")
        # a vertex whose outgoing weights sum to 0 cannot distribute rank:
        # it is dangling (dropped from out_deg so the flag below catches it)
        out_deg = (
            edges.groupBy("src")
            .agg(F.sum(w).alias("wsum"))
            .where(F.col("wsum") != 0)
        )
        edges_w = (
            edges.select("src", "dst", w.alias("_w"))
            .join(out_deg, on="src")
            .select("src", "dst", (F.col("_w") / F.col("wsum")).alias("coef"))
        )
    # sorted-within-partitions BEFORE caching: once ranks outgrow the
    # broadcast threshold the gather is a SortMergeJoin, and a cached
    # UNSORTED edge table would be re-sorted (all |E| rows) every
    # superstep; the cached sort order is reported by the in-memory scan,
    # so only the |V|-row rank side sorts per iteration. (A shuffle_hash
    # build on ranks was measured slower: hash-probe latency over
    # |E| lookups loses to sequential merge bandwidth on this shape.)
    edges_w = (
        edges_w.repartition(n_part, "src").sortWithinPartitions("src").persist()
    )
    n_edges = edges_w.count()

    if n_salts == "auto":
        max_deg = (
            edges_w.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d"))
            .collect()[0][0]
            or 0
        )
        fair_share = max(1, n_edges // n_part)
        n_salts = (
            int(-(-max_deg // fair_share)) if max_deg > 2 * fair_share else 0
        )

    # dangling vertices: no out-edges; their rank mass is redistributed.
    # The flag rides ON the rank table so each superstep's single
    # aggregation yields BOTH the convergence delta and the next
    # superstep's dangling mass — one cheap job over checkpointed data,
    # no per-iteration semi-join.
    dangling_flag = out_deg.select(F.col("src").alias("id"), F.lit(True).alias("_nd"))

    # teleport vector: a per-vertex "p" column carried on the rank table;
    # uniform PageRank keeps it a literal (no join, no extra bytes shuffled)
    tp: DataFrame | None = None
    if teleport is not None:
        if isinstance(teleport, list):
            tp = spark.createDataFrame(
                [(int(t),) for t in teleport], "id long"
            ).select("id", F.lit(1.0).alias("p_raw"))
        else:
            tp = teleport.select("id", F.col("p").cast("double").alias("p_raw"))
        # restrict to graph vertices BEFORE normalizing: teleport ids absent
        # from the graph would otherwise silently leak restart mass
        # (Σ ranks < 1); after the semi-join, Σp over surviving ids is
        # renormalized to exactly 1.
        tp = tp.join(vertices, on="id", how="left_semi")
        p_total = tp.agg(F.sum("p_raw")).collect()[0][0]
        if not p_total:
            raise ValueError(
                "personalized teleport set has no overlap with the graph's "
                "vertex set (or zero total mass)"
            )
        tp = tp.select("id", (F.col("p_raw") / F.lit(p_total)).alias("p"))

    # Classic (uniform) PageRank keeps p OUT of the rank table: it is the
    # constant 1/N, so carrying it per row would add 8 bytes to every
    # |V|-row shuffle and checkpoint each superstep for no information.
    # Personalized runs carry the per-vertex p column (it varies).
    p_lit = 1.0 / n  # python double; identical IEEE value to the SQL 1.0/N

    def _with_flag(r: DataFrame) -> DataFrame:
        out = r.join(dangling_flag, on="id", how="left")
        if tp is None:
            return out.select(
                "id", "rank", F.col("_nd").isNull().alias("is_dangling")
            )
        return out.join(tp, on="id", how="left").select(
            "id", "rank", F.col("_nd").isNull().alias("is_dangling"),
            F.coalesce("p", F.lit(0.0)).alias("p"),
        )

    p_cols = [] if tp is None else ["p"]

    def _p_col():
        return F.lit(p_lit) if tp is None else F.col("p")

    def _cold_start() -> DataFrame:
        if init_ranks is not None:
            # warm start: previous vector where present; vertices the
            # delta introduced fall back to the SAME per-vertex teleport
            # the cold start would seed them with (_p_col(): uniform 1/N,
            # or the personalized p column) — so a warm personalized
            # start replays exactly the cold start vector on missing ids
            # (ADVICE r3: the old uniform-share fallback was an
            # undocumented asymmetry a personalized-incremental oracle
            # would trip over). Left join keeps the vertex set
            # authoritative (ids dropped by the delta vanish with it).
            return _with_flag(
                vertices.join(
                    init_ranks.select(
                        "id", F.col("rank").cast("double").alias("_r0")
                    ),
                    on="id",
                    how="left",
                ).select("id", F.col("_r0").alias("rank"))
            ).select(
                "id",
                F.coalesce("rank", _p_col()).alias("rank"),
                "is_dangling",
                *p_cols,
            )
        return _with_flag(
            vertices.select("id", F.lit(0.0).alias("rank"))
        ).select("id", _p_col().alias("rank"), "is_dangling", *p_cols)

    def _start(r: DataFrame) -> tuple[DataFrame, float, float]:
        """(ranks, dangling mass, delta) loop state from a start vector."""
        r = r.repartition(n_part, "id").localCheckpoint(eager=True)
        dm = (
            r.agg(
                F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0))
            ).collect()[0][0]
            or 0.0
        )
        return r, dm, float("inf")

    # the superstep references ``ranks`` twice (gather join + old_rank
    # merge) — the chained-checkpoint shape whose driver cost blows up
    # past ~18 generations (plans/iterstate.py); the convergence path
    # runs 17-40+ iterations, squarely in that zone
    def step(it: int, state, ckpt):
        ranks, dm, _ = state
        ranks_src = ranks.select(F.col("id").alias("src"), "rank")
        if n_salts:
            e = salt_column(edges_w, "src", n_salts)
            r = explode_salts(ranks_src, n_salts)
            joined = e.join(r, on=["src", "_salt"])
        else:
            joined = edges_w.join(ranks_src, on="src")
        sums = (
            joined.select(F.col("dst").alias("id"), (F.col("rank") * F.col("coef")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("mass"))
        )
        restart = (1.0 - damping) + damping * dm  # scaled per-vertex by p
        new_ranks = (
            ranks.select("id", F.col("rank").alias("old_rank"), "is_dangling", *p_cols)
            .join(sums, on="id", how="left")
            .select(
                "id",
                (
                    F.lit(restart) * _p_col()
                    + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("rank"),
                "old_rank",
                "is_dangling",
                *p_cols,
            )
            .repartition(n_part, "id")
        )
        # non-eager cut: the delta/dangling aggregation below is the ONE
        # job of the superstep — it materializes the checkpoint as a
        # side effect (parquet round-trip every 4th iteration, eager)
        new_ranks = ckpt.cut(new_ranks, eager=False)
        row = new_ranks.agg(
            F.max(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
            F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)).alias("dm"),
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
        restore=lambda _, snap: _start(_with_flag(snap.select("id", "rank"))),
        snapshot=lambda s: s[0].select("id", "rank"),
        result=lambda s: s[0].select("id", "rank"),
        final=lambda lp: (
            (lp.last, {"delta": lp.state[2], "converged": True}) if lp.done else None
        ),
    )
    edges_w.unpersist()
    vertices.unpersist()
    return PageRankResult(
        ranks=loop.result, iterations=loop.last, converged=loop.done,
        final_delta=loop.state[2], history=loop.history,
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
    num_partitions: int | None = None,
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
    stay two-shuffle; skew on hot vertices is the same salting surface
    as classic PageRank.
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not seeds:
        raise ValueError("ppr_batch needs at least one seed")

    e = edges.select("src", "dst").distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = (
        e.join(outd, "src")
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    ed.count()

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
