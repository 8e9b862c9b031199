"""Deterministic random walks — DeepWalk/node2vec-style corpus generation.

The training-data bridge out of the link-graph engine: random-walk corpora
are what graph-embedding trainers (DeepWalk, node2vec) consume, and at
100 TB the walk generator IS the heavy job — |walks| * length edge lookups.
The reference has no walk kernel (its clients are degree/WCC/converters),
but its edge-block scan + callback shape (`src/webgraph.c:1036-1091`) is
exactly the access pattern a walk step performs; this kernel re-expresses
it as one equi-join per step.

Determinism instead of RNG: the neighbor choice at step ``t`` of walk ``w``
is ``H(seed, w, t) mod degree(cur)`` where ``H`` is the engine-portable
md5 hash family of ``sources/corpus.py`` (first 15 md5 hex chars of
``'walk:seed:w:t'`` parsed base-16). Wall-clock-free, resumable, and a
DuckDB oracle replays the exact same walks with unrolled joins — which
puts a "random" algorithm under the exact-match gate.

Execution shape:

- the adjacency is materialized ONCE with a per-source neighbor index
  ``idx`` (row_number over (partition by src order by dst) - 1) and a
  degree column — one shuffle+sort, reused by every step;
- each step is state ⋈ adjacency on the composite key ``(cur, idx)``:
  the picked index is computed JVM-side from (walk_id, step) before the
  join, so the join is a plain equi-join — no per-row Python, no UDF;
- walkers parked on sinks (out-degree 0 in the directed case) terminate;
  surviving state is O(|walks|) rows regardless of graph size;
- per-step state rides a non-eager localCheckpoint; the only action per
  step is the survivor count (same single-job discipline as
  kernels/sssp.py / kernels/pagerank.py).

100 TB shape: the hot join is (walks ⋈ adjacency) on (vertex, idx). A hub
vertex's walkers spread across its ``idx`` range — the composite key is
self-salting for any hub with degree >= the walker count parked on it, the
common case; residual skew (millions of walkers on one vertex at one step)
is AQE skew-join territory. State never exceeds |walks| rows and the
adjacency is partition-pruned by the join, so the job scales with walker
count, not graph size.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager

SEED = 42


def _h(tag: str, seed: int, *cols) -> F.Column:
    """The corpus md5 hash family (sources/corpus.py:58-80): uniform
    63-bit value DuckDB reproduces as
    ``('0x' || substr(md5(concat_ws(':', tag, seed, cols...)), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(tag),
                    F.lit(str(seed)),
                    *[F.col(c).cast("string") if isinstance(c, str) else c for c in cols],
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


@dataclass
class WalksResult:
    steps: DataFrame  # (walk_id, step, id) — step 0 is the start vertex
    length: int
    n_walks: int
    history: list[dict[str, Any]] = field(default_factory=list)


def _start(src_df: DataFrame, n_part: int):
    """Fresh walk state: one walker per distinct start, parked at step 0."""
    walkers = (
        src_df.distinct()
        .select(F.col("id").alias("walk_id"), F.col("id").alias("cur"))
        .repartition(n_part, "cur")
        .localCheckpoint(eager=True)
    )
    out = walkers.select(
        "walk_id", F.lit(0).cast("int").alias("step"), F.col("cur").alias("id")
    )
    return walkers, out, walkers.count(), None


def _advance(nxt: DataFrame, state, t: int, n_part: int, ckpt):
    """Cut the step-``t`` walker positions and append them to the steps
    table; the survivor count is the step's one action."""
    _, out, n_walks, _ = state
    walkers = nxt.repartition(n_part, "cur").transform(ckpt.cut_lazy)
    alive = walkers.count()
    out = out.unionByName(
        walkers.select(
            "walk_id", F.lit(t).cast("int").alias("step"), F.col("cur").alias("id")
        )
    )
    return (walkers, out, n_walks, alive), {"alive_walkers": alive}


def _run_walks(spark, step, start, restore, length, checkpoint, checkpoint_every):
    """The walk loop over (walkers, steps table, n_walks, alive) state:
    stops when every walker parked on a sink; the emitted-steps table is
    the snapshot, the pinned result and the final record."""
    return superstep.run(
        step,
        start,
        spark=spark,
        max_iter=length,
        key="step",
        done=lambda s: s[3] == 0,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=restore,
        snapshot=lambda s: s[1],
        result=lambda s: s[1],
        final=lambda lp: (min(lp.last, length), {"final": True}),
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame | list[int],
    length: int = 8,
    seed: int = SEED,
    directed: bool = False,
    weight_col: str | None = None,
    num_partitions: int | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 4,
) -> WalksResult:
    """Walk ``length`` steps from each start vertex over edges(src, dst).

    ``starts`` is a (id) DataFrame or list of vertex ids; one walk per
    start, ``walk_id`` = the start vertex id. Returns every visited
    position as (walk_id, step, id) rows — the exploded walk corpus a
    skip-gram trainer windows over.

    Unweighted: the step-``t`` pick is ``H('walk', seed, walk_id, t) mod
    degree(cur)`` over the neighbor list sorted by destination id — a
    composite (vertex, idx) equi-join. With ``weight_col`` (INTEGER edge
    weights — the reference's WG404 arc labels): pick ∝ weight via
    ``r = H mod Σw`` landing in the neighbor's cumulative-weight interval
    ``[cumw − w, cumw)``. The interval predicate makes that join
    vertex-equi + range filter, so a hub's walkers DO scan its adjacency
    before filtering — the honest trade of exact weighted sampling
    without per-vertex alias tables; keep the unweighted path for
    hub-heavy corpora. Either way the output is a pure function of
    (edges, starts, length, seed).
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    if weight_col is None:
        e = edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    else:
        e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    # one materialization: indexed, degree-annotated adjacency sorted by the
    # join key — every step's SortMergeJoin reuses the order (the cached-edge
    # discipline measured in kernels/pagerank.py). Parallel (src, dst) rows
    # collapse to one neighbor carrying the max weight (deterministic both
    # engines; min/max/sum would all do, max matches "strongest arc").
    win = Window.partitionBy("src").orderBy("dst")
    dedup = e.groupBy("src", "dst").agg(F.max("w").alias("w"))
    if weight_col is not None:
        # zero/negative weights yield empty or overlapping pick intervals —
        # fail loudly (the repo's malformed-input standard)
        n_bad = dedup.where(F.col("w") <= 0).count()
        if n_bad:
            raise ValueError(
                f"weighted walks need positive integer weights; "
                f"{n_bad} edges have {weight_col} <= 0"
            )
    adj = (
        dedup.select(
            "src",
            "dst",
            "w",
            (F.row_number().over(win) - F.lit(1)).cast("long").alias("idx"),
            F.sum("w").over(
                win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("cumw"),
        )
        .repartition(n_part, "src", "idx")
        .sortWithinPartitions("src", "idx")
        .persist()
    )
    adj.count()
    # separate |V|-sized degree table: the pick value is computed BEFORE
    # the adjacency join so that join is a true (src, idx) composite-key
    # equi-join in the unweighted case — a hub's walkers hash across its
    # idx range instead of fanning out over the full adjacency
    degs = (
        adj.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"), F.sum("w").alias("totw"))
        .repartition(n_part, "src")
        .persist()
    )
    degs.count()

    if isinstance(starts, list):
        src_df = spark.createDataFrame([(int(s),) for s in starts], "id long")
    else:
        src_df = starts.select("id")

    # resume: the snapshot IS the full emitted-steps table; the live
    # walker state is reconstructable as the rows at the snapshot's step
    # (walkers parked on sinks before that step ended and are naturally
    # absent) — the bfs.py reconstruct-frontier-from-snapshot discipline
    def _restore(start_step: int, out: DataFrame):
        out = out.repartition(n_part, "walk_id").localCheckpoint(eager=True)
        walkers = (
            out.where(F.col("step") == start_step)
            .select("walk_id", F.col("id").alias("cur"))
            .repartition(n_part, "cur")
            .localCheckpoint(eager=True)
        )
        return walkers, out, out.where(F.col("step") == 0).count(), None

    def step(t: int, state, ckpt):
        hashed = state[0].select(
            "walk_id",
            F.col("cur").alias("src"),
            _h("walk", seed, "walk_id", F.lit(t)).alias("hv"),
        ).join(degs, on="src")
        if weight_col is None:
            picked = hashed.select(
                "walk_id", "src", F.pmod(F.col("hv"), F.col("deg")).alias("idx")
            )
            nxt = picked.join(adj, on=["src", "idx"])
        else:
            picked = hashed.select(
                "walk_id", "src", F.pmod(F.col("hv"), F.col("totw")).alias("r")
            )
            nxt = picked.join(adj, on="src").where(
                (F.col("r") >= F.col("cumw") - F.col("w"))
                & (F.col("r") < F.col("cumw"))
            )
        nxt = nxt.select("walk_id", F.col("dst").alias("cur"))
        return _advance(nxt, state, t, n_part, ckpt)

    loop = _run_walks(
        spark, step, lambda: _start(src_df, n_part), _restore, length,
        checkpoint, checkpoint_every,
    )
    adj.unpersist()
    degs.unpersist()
    return WalksResult(
        steps=loop.result, length=length, n_walks=loop.state[2], history=loop.history
    )


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame | list[int],
    length: int = 8,
    alpha_return: int = 1,
    alpha_in: int = 1,
    alpha_out: int = 1,
    seed: int = SEED,
    directed: bool = False,
    weight_col: str | None = None,
    num_partitions: int | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 4,
) -> WalksResult:
    """Second-order biased walks (node2vec, Grover & Leskovec KDD 2016)
    — the step from ``cur`` with predecessor ``prev`` weights each
    neighbor ``x`` by ``w(cur,x) * alpha`` where alpha is
    ``alpha_return`` if ``x == prev``, ``alpha_in`` if ``x`` is adjacent
    to ``prev`` (distance 1), else ``alpha_out`` (distance 2). The
    paper's rational (1/p, 1, 1/q) bias is the integer triple
    ``(q, p*q, p)`` for integer p, q — kept integer so the cumulative
    intervals and the pick are EXACT and the DuckDB oracle replays the
    walks row for row (pick ``r = H('n2v', seed, walk_id, t) mod
    total_alpha_weight`` lands in a neighbor's cumulative interval; step
    1 has no predecessor and is the first-order ``H mod degree`` index
    pick of ``random_walks``).

    Execution shape per step: state (walk_id, prev, cur) equi-joins the
    indexed adjacency on ``cur`` (fanning out to cur's neighbors — the
    inherent Sum(deg(cur)) cost of second-order sampling without
    per-vertex alias tables), one LEFT equi-join against the deduped
    edge table on (prev, dst) classifies each candidate's alpha
    JVM-side, and a per-walk window (partition by walk_id — unique per
    state row, so no skew beyond a single hub's candidate list) builds
    the cumulative intervals. No per-row Python anywhere.

    100 TB shape: candidate volume is walker-count x avg-degree rows per
    step, independent of |V|; a walker parked on a mega-hub fans out to
    that hub's full adjacency — cap such hubs upstream (the
    square_count max_center_degree convention) or accept the scan, the
    same trade the weighted first-order path documents. Resumable: the
    emitted steps table IS the snapshot; (prev, cur) state rebuilds from
    steps t and t-1.
    """
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    for nm, a in (
        ("alpha_return", alpha_return),
        ("alpha_in", alpha_in),
        ("alpha_out", alpha_out),
    ):
        if int(a) <= 0:
            raise ValueError(f"{nm} must be a positive integer, got {a}")

    if weight_col is None:
        e = edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    else:
        e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    dedup = e.groupBy("src", "dst").agg(F.max("w").alias("w"))
    if weight_col is not None:
        n_bad = dedup.where(F.col("w") <= 0).count()
        if n_bad:
            raise ValueError(
                f"weighted walks need positive integer weights; "
                f"{n_bad} edges have {weight_col} <= 0"
            )
    win = Window.partitionBy("src").orderBy("dst")
    adj = (
        dedup.select(
            "src",
            "dst",
            "w",
            (F.row_number().over(win) - F.lit(1)).cast("long").alias("idx"),
        )
        .repartition(n_part, "src")
        .sortWithinPartitions("src", "idx")
        .persist()
    )
    adj.count()
    degs = (
        adj.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .repartition(n_part, "src")
        .persist()
    )
    degs.count()
    # the alpha classifier's membership side: one (src, dst) key column
    # pair of the deduped edge table, reused every step
    memb = dedup.select(
        F.col("src").alias("p_src"), F.col("dst").alias("p_dst"), F.lit(True).alias("is_adj")
    ).repartition(n_part, "p_src", "p_dst").persist()
    memb.count()

    if isinstance(starts, list):
        src_df = spark.createDataFrame([(int(s),) for s in starts], "id long")
    else:
        src_df = starts.select("id")

    # the emitted steps table IS the snapshot; (prev, cur) walker state
    # rebuilds from steps t and t-1
    def _restore(start_step: int, out: DataFrame):
        out = out.repartition(n_part, "walk_id").localCheckpoint(eager=True)
        cur_rows = out.where(F.col("step") == start_step).select(
            "walk_id", F.col("id").alias("cur")
        )
        prev_rows = out.where(F.col("step") == start_step - 1).select(
            "walk_id", F.col("id").alias("prev")
        )
        walkers = (
            cur_rows.join(prev_rows, on="walk_id")
            .select("walk_id", "prev", "cur")
            .repartition(n_part, "cur")
            .localCheckpoint(eager=True)
        )
        n_walks = out.where(F.col("step") == 0).count()
        return walkers, out, n_walks, walkers.count()

    def step(t: int, state, ckpt):
        walkers = state[0]
        if t == 1:
            # first-order index pick: no predecessor yet
            picked = walkers.select(
                "walk_id",
                F.col("cur").alias("src"),
                _h("n2v", seed, "walk_id", F.lit(1)).alias("hv"),
            ).join(degs, on="src").select(
                "walk_id", "src", F.pmod(F.col("hv"), F.col("deg")).alias("idx")
            )
            nxt = picked.join(adj, on=["src", "idx"]).select(
                "walk_id", F.col("src").alias("prev"), F.col("dst").alias("cur")
            )
        else:
            nxt = _n2v_step(walkers, t)
        return _advance(nxt, state, t, n_part, ckpt)

    def _n2v_step(walkers: DataFrame, t: int) -> DataFrame:
        cand = (
            walkers.join(adj, walkers["cur"] == adj["src"])
            .join(
                memb,
                (walkers["prev"] == F.col("p_src")) & (adj["dst"] == F.col("p_dst")),
                "left",
            )
            .select(
                "walk_id",
                "prev",
                "cur",
                "dst",
                "idx",
                (
                    F.col("w")
                    * F.when(F.col("dst") == F.col("prev"), F.lit(alpha_return))
                    .when(F.col("is_adj"), F.lit(alpha_in))
                    .otherwise(F.lit(alpha_out))
                ).cast("long").alias("aw"),
            )
        )
        wwin = Window.partitionBy("walk_id").orderBy("idx")
        scanned = cand.select(
            "walk_id",
            "cur",
            "dst",
            "aw",
            F.sum("aw")
            .over(wwin.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("cum"),
            F.sum("aw").over(Window.partitionBy("walk_id")).alias("tot"),
            F.pmod(
                _h("n2v", seed, "walk_id", F.lit(t)), F.col("tot")
            ).alias("r"),
        )
        return scanned.where(
            (F.col("r") >= F.col("cum") - F.col("aw")) & (F.col("r") < F.col("cum"))
        ).select("walk_id", F.col("cur").alias("prev"), F.col("dst").alias("cur"))

    loop = _run_walks(
        spark, step, lambda: _start(src_df, n_part), _restore, length,
        checkpoint, checkpoint_every,
    )
    adj.unpersist()
    degs.unpersist()
    memb.unpersist()
    return WalksResult(
        steps=loop.result, length=length, n_walks=loop.state[2], history=loop.history
    )


def neighbor_sampling(
    edges: DataFrame,
    seeds: DataFrame | list[int],
    fanouts: "list[int]" = (3, 2),
    seed: int = SEED,
    directed: bool = False,
) -> DataFrame:
    """(hop, src, dst): GraphSAGE-style bounded neighbor fan-out
    sampling (Hamilton et al. NeurIPS 2017) — hop ``h`` keeps at most
    ``fanouts[h]`` neighbors of every frontier vertex, ranked by the
    deterministic md5 hash ``H('nsamp', seed, hop, src, dst)`` with a
    dst tie-break. The union of sampled edges over all hops is the
    minibatch computation graph a GNN trainer consumes; determinism
    makes the sample a pure function of (edges, seeds, fanouts, seed),
    so the DuckDB oracle replays it hop for hop (ROW_NUMBER over the
    same hash) and a retried task resamples identically.

    Execution shape per hop: frontier ⋈ adjacency equi-join on the
    vertex, then a per-src window rank with rank <= fanout — Spark
    plans the filter as WindowGroupLimit below AND above the shuffle,
    so each task buffers at most ``fanout`` rows per vertex (the
    knn_bruteforce discipline); the next frontier is the DISTINCT dst
    set. Work per hop is bounded by |frontier| x fanout rows OUT
    regardless of hub degree IN — the whole point of fan-out sampling
    at 100 TB: a mega-hub contributes ``fanout`` edges, not its full
    adjacency."""
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = e.where(F.col("src") != F.col("dst")).distinct()

    if isinstance(seeds, list):
        frontier = spark.createDataFrame([(int(s),) for s in seeds], "id long")
    else:
        frontier = seeds.select("id")
    frontier = frontier.distinct()

    out: DataFrame | None = None
    for hop, fanout in enumerate(fanouts):
        cand = frontier.join(adj, frontier["id"] == adj["src"]).select(
            "src", "dst"
        )
        w = Window.partitionBy("src").orderBy(
            _h("nsamp", seed, F.lit(hop), "src", "dst").asc(), F.col("dst").asc()
        )
        picked = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= int(fanout))
            .select(
                F.lit(hop).cast("int").alias("hop"), "src", "dst"
            )
        )
        picked = picked.localCheckpoint(eager=True)
        out = picked if out is None else out.unionByName(picked)
        frontier = picked.select(F.col("dst").alias("id")).distinct()
    if out is None:
        return spark.createDataFrame([], "hop int, src long, dst long")
    return out
