"""Strongly connected components — randomized coloring with pointer jumping.

The directed completion of the components family: ``kernels/components.py``
answers "connected ignoring direction" (Jayanti–Tarjan WCC over the
co-purchase graph); this kernel answers "mutually reachable" over DIRECTED
link graphs — for the north-rule import graph that is exactly *cyclic
import detection*: an SCC of size > 1 is a set of source files whose
imports form a cycle. The reference has no SCC client (its bundled
workloads are degree/WCC/converters, `test/test2_wcc_WG800.c`), but SCC is
the canonical directed-graph analytic of a link-graph engine (WebGraph's
own dataset pages publish SCC counts for every crawl).

Algorithm: Orzan-style coloring (the standard distributed SCC of the
Pregel/FW-BW literature), hardened for superstep count (VERDICT r3 §3 —
the r3 coloring was O(diameter) sequential supersteps, the classic
propagation-depth killer at 100 TB on high-diameter graphs):

1. Every vertex gets a RANDOM PRIORITY: ``(xxhash64(id, seed), id)`` —
   a deterministic pseudo-random total order, decorrelated from graph
   structure. Propagating minima of random priorities (instead of raw
   ids) is what makes shortcutting effective: with adversarial id
   layouts a min-id propagation gains one hop per superstep no matter
   what; with random priorities the argmin of each vertex's known window
   sits at a uniformly random depth, so jumping through it multiplies
   the window geometrically — O(log D) supersteps w.h.p., the same
   randomization argument as hash-to-min (Rastogi et al., "Finding
   Connected Components in Map-Reduce in Logarithmic Rounds").
2. FORWARD coloring to fixpoint with POINTER JUMPING: each superstep
   takes ``lab(v) = min(lab(v), min_{u→v} lab(u), lab(lab(v).aid))``.
   The label is a (priority, vertex) struct, so ``lab(v).aid`` names a
   concrete ancestor whose own label is one lookup (self-join) away —
   Shiloach–Vishkin shortcutting applied to directed min-reachability.
   Monotone (labels only decrease) with the same unique fixpoint as
   plain relaxation: color(v) = min priority over {v} ∪ ancestors(v).
3. BACKWARD sweep within color class: the SAME jumped kernel on the
   REVERSED same-color edge subgraph computes min-priority descendant-
   within-class; v lands on the class color exactly when v reaches the
   class root r through same-colored vertices. color(v) = r certifies
   r →* v; the sweep certifies v →* r; both ⇒ v ∈ SCC(r).
4. Emit SCC(r), relabeled to the component's MIN VERTEX ID (the oracle
   contract); shrink the live graph to SAME-COLOR edges minus settled
   vertices and repeat. The color cut is the classic refinement lemma
   (an SCC never crosses a forward-color boundary, because mutually
   reachable vertices share their ancestor set up to the SCC itself):
   without it a DAG region sheds only its class roots each round; with
   it the region SHATTERS into color classes, so outer rounds drop from
   O(V/log V) to O(polylog) on path-like inputs.

Every inner step is joins + a min-aggregation on the vertex key — the WCC
discipline. ``max_rounds`` bounds the outer loop with an explicit
``converged`` flag, mirroring kernels/kcore.py.

100 TB shape: state is one (id, lab) table shuffled on id; the jumped
propagation adds ONE self-join per superstep (both sides hash-partitioned
on the join key) in exchange for an exponential cut in superstep count —
at cluster scale supersteps are barrier latency + a full state shuffle
each, so trading 2x per-step work for O(D)→O(log D) steps is the right
side of the bargain. No driver-side vertex state; per-round driver
traffic is O(1) scalars.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.graph import vertex_ids
from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.iterstate import StateCheckpointer

#: Seed for the deterministic pseudo-random vertex priorities. Fixed so
#: repeated runs (and the checkpoint/resume story) are bit-identical.
PRIORITY_SEED = 0x5CC

#: Degree-0 peel iterations per outer round. Each peel is ~2 cheap jobs;
#: a handful per round drains the DAG mass (call/import graphs are
#: mostly acyclic) while deep chains are left to the coloring rounds'
#: shattering, which handles them in O(polylog) rounds.
TRIM_PEELS_PER_ROUND = 4

#: Propagation applications fused per Spark action. >1 trades extra
#: Catalyst compile time (the composed plan re-references the state 2x
#: per application) for fewer driver round-trips — the right trade on a
#: real cluster where every action is a scheduling barrier; local wall
#: is roughly neutral.
PROP_UNROLL = 2

#: Outer rounds between cuts of the accumulated ``found`` union: bounds
#: the result plan's Union arity, so the final checkpoint costs
#: O(FOUND_CUT_ROUNDS), not O(rounds).
FOUND_CUT_ROUNDS = 4


def _prio(col: str = "id"):
    """Random-priority struct for a vertex column: (hash, id) — a
    deterministic total order decorrelated from the id layout; ties on
    the 64-bit hash are broken by id so priorities are distinct."""
    return F.struct(
        F.xxhash64(F.col(col), F.lit(PRIORITY_SEED)).alias("p"),
        F.col(col).alias("aid"),
    )


def _min_struct(*cols):
    """Lexicographic minimum of (p, aid) structs (array_min is defined
    over comparable struct arrays; F.least rejects complex types)."""
    return F.array_min(F.array(*cols))


def _min_propagate(
    labels: DataFrame,
    edges: DataFrame,
    n_part: int,
    ckpt: StateCheckpointer,
    max_iter: int = 200,
) -> tuple[DataFrame, int]:
    """Fixpoint of lab(v) = min(lab(v), min lab over in-neighbors,
    lab(lab(v).aid)), propagating along edge direction src→dst.

    labels: (id, lab) with lab = struct(p, aid); aid must be a vertex id
    present in ``labels`` (the self-jump invariant — initial labels are
    self-structs and both relaxation and jumping preserve ancestry).
    State cuts go through ``ckpt`` (plans/iterstate.py) — the per-step
    query references ``cur`` twice (relax + jump), the self-join shape
    whose carried size estimate a plain localCheckpoint squares every
    generation (documented there).
    Returns (fixpoint labels, supersteps used)."""
    cur = ckpt.cut(labels.repartition(n_part, "id"))

    def one_step(state: DataFrame) -> DataFrame:
        """One relax+jump application: (id, lab) -> (id, lab, chg)."""
        relax = (
            edges.join(state.select(F.col("id").alias("src"), "lab"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias("elab"))
        )
        # pointer jump: fetch lab(lab(v).aid) — one hash join keyed by
        # the jumped-through vertex id
        jump = state.select(F.col("id").alias("aid0"), F.col("lab").alias("jl"))
        return (
            state.withColumn("aid0", F.col("lab")["aid"])
            .join(jump, on="aid0", how="left")
            .join(relax, on="id", how="left")
            .select(
                "id",
                "lab",
                _min_struct(
                    F.col("lab"),
                    F.coalesce("elab", "lab"),
                    F.coalesce("jl", "lab"),
                ).alias("lab2"),
            )
            .select(
                "id",
                F.col("lab2").alias("lab"),
                (F.col("lab2") != F.col("lab")).cast("int").alias("chg"),
            )
        )

    changed = 0
    steps = 0
    for _ in range(max_iter):
        # TWO applications per action (superstep-batching): at ~0.4 s of
        # scheduler latency per action, halving the action count beats
        # the <=1 wasted application after the fixpoint. Convergence is
        # judged on the SECOND application alone: if applying the
        # operator to the first half's output changed nothing, that
        # output was already the fixpoint (monotone operator).
        steps += PROP_UNROLL
        # lazy cut: the chg aggregation below is the step's one action and
        # materializes the checkpoint as a side effect
        plan = cur
        for _u in range(PROP_UNROLL - 1):
            plan = one_step(plan).select("id", "lab")
        nxt = ckpt.cut(
            one_step(plan).repartition(n_part, "id"),
            eager=False,
        )
        changed = nxt.agg(F.sum("chg").alias("n")).collect()[0]["n"] or 0
        cur = nxt.select("id", "lab")
        if changed == 0:
            break
    if changed != 0:
        # an unconverged coloring would MISLABEL components — fail loudly
        # (the repo's malformed-input standard) instead of returning wrong
        # answers; max_iter bounds log-diameter, not correctness
        raise RuntimeError(
            f"scc coloring did not reach fixpoint in {max_iter} propagation "
            f"steps ({changed} labels still improving); raise max_iter"
        )
    return cur, steps


@dataclass
class SCCResult:
    components: DataFrame  # (id, scc) — scc = min vertex id of the component
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def scc(
    edges: DataFrame,
    max_rounds: int = 50,
) -> SCCResult:
    """SCC labels for every vertex of directed edges(src, dst).

    Returns (id, scc) where ``scc`` is the smallest vertex id in the
    component — exactly the value a mutual-reachability oracle computes,
    so a DuckDB recursive-CTE transitive closure verifies this end to end
    at test scale.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    with _constraint_propagation_off(spark):
        return _scc_impl(edges, spark, n_part, max_rounds)


_CP_CONF = "spark.sql.constraintPropagation.enabled"
_cp_lock = threading.Lock()
#: session -> [scc calls in flight, conf value saved by the first one]
_cp_users: dict[Any, list] = {}


@contextmanager
def _constraint_propagation_off(spark):
    """Constraint propagation OFF while any ``scc`` runs on ``spark``:
    every localCheckpoint snapshots the optimized plan's constraint set
    into the LogicalRDD, and Spark 4.1's rewriteStatsAndConstraints maps
    those constraints through an output-attribute map that does NOT
    cover attributes captured from checkpoint-generation-N-minus-k
    plans — on deep accumulated unions (many outer rounds) the rewrite
    dies with ``NoSuchElementException: key not found: id#N``
    (reproduced: test_scc_md5_graph_has_giant_component). With the
    conf off, constraints snapshot empty and the rewrite is a no-op.
    Constraints add nothing here: every join is an equi-join on a
    non-null vertex key.

    The conf is session-global, so overlapping calls share one save:
    the first call in saves and clears it, the last call out restores
    it (a plain save/restore per call could restore ``false`` over the
    original value)."""
    with _cp_lock:
        entry = _cp_users.setdefault(spark, [0, None])
        if entry[0] == 0:
            entry[1] = spark.conf.get(_CP_CONF, "true")
            spark.conf.set(_CP_CONF, "false")
        entry[0] += 1
    try:
        yield
    finally:
        with _cp_lock:
            entry[0] -= 1
            if entry[0] == 0:
                spark.conf.set(_CP_CONF, entry[1])
                del _cp_users[spark]


def _scc_impl(
    edges: DataFrame,
    spark,
    n_part: int,
    max_rounds: int,
) -> SCCResult:
    # NOTE every cross-round graph table is localCheckpoint/ckpt-CUT, not
    # persist()ed: persist caches data but keeps the logical plan, so a
    # later round's every action re-COMPILES the whole prior-round plan
    # tree (measured: round-2 propagate steps at 60-170 s of pure
    # Catalyst time on a 2.7k-edge graph before this change)
    live = (
        edges.select("src", "dst")
        .distinct()
        .repartition(n_part, "src")
        .localCheckpoint(eager=True)
    )
    verts = vertex_ids(live).repartition(n_part, "id").localCheckpoint(eager=True)

    def step(rnd: int, state, ckpt):
        # found: the settled (id, scc) rows of every round so far
        live, verts, found, remaining = state
        # 0. TRIM (the FW-BW literature's standard preprocessing): a
        # vertex with no live in-edges or no live out-edges cannot sit on
        # a cycle of the live graph, and the live graph retains every
        # intra-SCC edge of unsettled vertices (color cuts only remove
        # cross-SCC edges), so such vertices are singleton SCCs. Peeling
        # them in a capped loop (2 cheap jobs per peel) settles the DAG
        # mass of call/import graphs far cheaper than coloring rounds.
        n_trimmed = 0
        for _ in range(TRIM_PEELS_PER_ROUND):
            both = (
                verts.join(
                    live.select(F.col("dst").alias("id")).distinct(),
                    on="id",
                    how="leftsemi",
                )
                .join(
                    live.select(F.col("src").alias("id")).distinct(),
                    on="id",
                    how="leftsemi",
                )
                .repartition(n_part, "id")
                .localCheckpoint(eager=True)
            )
            n_keep = both.count()
            if n_keep == remaining:
                break
            trimmed = verts.join(both, on="id", how="left_anti").select(
                "id", F.col("id").alias("scc")
            ).localCheckpoint(eager=True)
            found = trimmed if found is None else found.unionByName(trimmed)
            n_trimmed += remaining - n_keep
            verts = both
            remaining = n_keep
            if remaining == 0:
                break
            live = ckpt.cut(
                live.join(verts.withColumnRenamed("id", "src"), on="src", how="leftsemi")
                .join(verts.withColumnRenamed("id", "dst"), on="dst", how="leftsemi")
                .repartition(n_part, "src")
            )
        if remaining == 0:
            return (live, verts, found, 0), {
                "settled": n_trimmed,
                "trimmed": n_trimmed,
                "remaining": 0,
                "forward_supersteps": 0,
                "backward_supersteps": 0,
            }

        # 1+2. forward min-priority coloring with pointer jumping:
        # color(v) = min random priority over {v} ∪ ancestors(v)
        colors, fwd_steps = _min_propagate(
            verts.select("id", _prio("id").alias("lab")), live, n_part, ckpt
        )
        # one generation deep over materialized parents each round —
        # plain eager cut is safe (no cross-round chaining)
        colors = colors.withColumnRenamed("lab", "color").localCheckpoint(
            eager=True
        )

        # singleton shortcut: a color class with ONE member is a
        # singleton SCC (an SCC never crosses a color boundary), settled
        # without any backward sweep — after trimming, the vast majority
        # of a call/import graph's classes are singletons, so the sweep
        # below runs over only the (tiny) multi-member remainder.
        multi_colors = (
            colors.groupBy("color")
            .agg(F.count(F.lit(1)).alias("csz"))
            .where(F.col("csz") > 1)
            .select("color")
        )
        mverts = colors.join(multi_colors, on="color", how="leftsemi").select(
            "id", "color"
        ).localCheckpoint(eager=True)
        singles = (
            colors.join(multi_colors, on="color", how="left_anti")
            .select("id", F.col("id").alias("scc"))
            .localCheckpoint(eager=True)
        )
        n_singles = singles.count()
        found = singles if found is None else found.unionByName(singles)

        # same-color edge subgraph over multi-member classes — guards
        # the backward sweep AND becomes the (settled-pruned) next-round
        # live graph (the shattering refinement; see module docstring §4)
        ec = (
            live.join(mverts.select(F.col("id").alias("src"), "color"), on="src")
            .join(
                mverts.select(
                    F.col("id").alias("dst"), F.col("color").alias("dcolor")
                ),
                on="dst",
            )
            .where(F.col("color") == F.col("dcolor"))
            .select("src", "dst")
            .repartition(n_part, "src")
            .localCheckpoint(eager=True)
        )

        # 3. backward sweep: same jumped kernel on reversed same-color
        # edges; v lands on its class color iff v reaches the class root
        rev = ec.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        blab, bwd_steps = _min_propagate(
            mverts.select("id", _prio("id").alias("lab")), rev, n_part, ckpt
        )
        # cached: ``found`` retains every round's settled rows for the
        # whole run, and ``out`` below self-joins this frame
        settled = (
            mverts.join(blab, on="id")
            .where(F.col("lab") == F.col("color"))
            .select("id", F.col("color")["aid"].alias("root"))
            .localCheckpoint(eager=True)
        )
        n_settled = settled.count() + n_singles

        # 4. emit with the oracle contract label: min vertex id per SCC.
        # MATERIALIZE before unioning: ``out`` is a self-join of the
        # localCheckpoint-backed ``settled`` (scc_ids derives from it, so
        # Catalyst dedups attribute ids on the join) — unioning the
        # un-cut plan into ``found`` across rounds trips Spark 4.1's
        # constraints rewrite at the final checkpoint with
        # ``NoSuchElementException: key not found: id#N`` once the union
        # is deep enough (ADVICE r4; reproduced by
        # test_scc_md5_graph_has_giant_component). An eager cut per
        # round keeps every union leaf a plain LogicalRDD.
        scc_ids = settled.groupBy("root").agg(F.min("id").alias("scc"))
        out = (
            settled.join(scc_ids, on="root")
            .select("id", "scc")
            .localCheckpoint(eager=True)
        )
        found = out if found is None else found.unionByName(out)
        # bound the accumulated-union depth: cut ``found`` itself every
        # FOUND_CUT_ROUNDS rounds, so the result plan's Union arity stays
        # bounded regardless of outer-round count
        if rnd % FOUND_CUT_ROUNDS == 0:
            found = found.localCheckpoint(eager=True)

        # shrink with the PAIR refinement: an SCC's members share BOTH
        # the forward color (already enforced by ec) AND the backward
        # label (same descendant set within the class up to the SCC, so
        # equal min-priority-descendant-within-class) — keeping only
        # blab-equal edges shatters a surviving class by its backward
        # structure in the SAME round (a path class splits into its
        # suffix-min runs here, not next round). One settled anti-join
        # suffices: a settled src has blab == color, so a blab-equal dst
        # is settled too.
        verts = ckpt.cut(
            verts.join(settled.select("id"), on="id", how="left_anti")
            .join(singles.select("id"), on="id", how="left_anti")
            .repartition(n_part, "id")
        )
        remaining = verts.count()
        if remaining > 0:
            live = ckpt.cut(
                ec.join(
                    blab.select(F.col("id").alias("src"), F.col("lab").alias("bsrc")),
                    on="src",
                )
                .join(
                    blab.select(F.col("id").alias("dst"), F.col("lab").alias("bdst")),
                    on="dst",
                )
                .where(F.col("bsrc") == F.col("bdst"))
                .select("src", "dst")
                .join(
                    settled.select(F.col("id").alias("src")),
                    on="src",
                    how="left_anti",
                )
                .repartition(n_part, "src")
            )
        return (live, verts, found, remaining), {
            "settled": n_settled + n_trimmed,
            "trimmed": n_trimmed,
            "remaining": remaining,
            "forward_supersteps": fwd_steps,
            "backward_supersteps": bwd_steps,
        }

    loop = superstep.run(
        step,
        (live, verts, None, verts.count()),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[3] == 0,
        result=lambda s: (
            s[2] if s[2] is not None else spark.createDataFrame([], "id long, scc long")
        ).select(F.col("id").cast("long"), F.col("scc").cast("long")),
    )
    return SCCResult(
        components=loop.result,
        rounds=loop.last,
        converged=loop.done,
        history=loop.history,
    )


def condensation(edges: DataFrame, components: DataFrame) -> DataFrame:
    """Quotient (condensation) DAG of a directed graph given its SCC
    labeling: one vertex per component, a distinct edge c1→c2 wherever
    any original edge crosses the two components. Acyclic by the SCC
    definition — the canonical reduction that turns cyclic-import
    analysis into topological-order questions (build scheduling,
    layering). Two equi-joins + distinct; both joins broadcast when the
    component table is small, shuffle otherwise.
    """
    c = components.select("id", "scc")
    return (
        edges.select("src", "dst")
        .join(
            c.select(F.col("id").alias("src"), F.col("scc").alias("csrc")),
            on="src",
        )
        .join(
            c.select(F.col("id").alias("dst"), F.col("scc").alias("cdst")),
            on="dst",
        )
        .where(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
    )
