"""Connected components: alternating large-star/small-star DataFrame rounds.

Reference semantics: Jayanti–Tarjan concurrent union-find over one edge
scan (`test/test2_jtcc_WG400.c:61-89`) with the *smaller-ID-root-wins*
convention (test2:78-87) and final path compression + component-size
distribution (test2:244-285). Pointer-chasing CAS loops don't translate to
a dataflow engine; the equivalent shuffle-native algorithm is
large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14), which converges in O(log^2 n) rounds and yields the
same canonical labeling: component = min vertex id.

Scale notes:

- each round is two groupBy(min) aggregations + two joins over the edge
  set — all map-side-combinable; no driver-side vertex state, ever.
- hub skew: the min-aggregations are partial-aggregated; the join fan-out
  follows star sizes, which large-star explicitly flattens (that is the
  algorithm's whole point — the reference's giant-adjacency splitting,
  `src/webgraph.c:957-971`, solved algorithmically).
- convergence detection: count + order-insensitive xxhash64 checksum of
  the canonical edge set (the reference's converter checksum idea,
  `test/test3_converter_WG400.c:303`, made order-insensitive for
  distributed determinism).
- every round localCheckpoints (bounded lineage); optional
  CheckpointManager snapshot for resume, per north rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected canonical pair set: (src>dst ordered as src=max), no
    self-loops, distinct. Small-star's natural orientation."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u."""
    nbr = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbr.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("m"))
    return (
        nbr.join(mins, on="src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient src>dst; for each u: m = min(N_<(u) ∪ {u}); emit (v, m) for
    v in N_<(u) ∪ {u} \\ {m}."""
    o = _canonical(edges)
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))  # m < src by construction
    nbr_pairs = (
        o.join(mins, on="src")
        .select(F.col("dst").alias("v"), F.col("m"))
    )
    self_pairs = mins.select(F.col("src").alias("v"), F.col("m"))
    return (
        nbr_pairs.unionByName(self_pairs)
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


@dataclass
class ComponentsResult:
    components: DataFrame  # (id, component) — component = min id in component
    rounds: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> ComponentsResult:
    """WCC over edges(src, dst) (direction ignored). Returns (id, component).

    ``vertices`` (id) may be supplied so isolated vertices appear as their
    own singleton components (reference counts them too, test2:250-258).
    """
    spark = edges.sparkSession
    all_vertices = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    ).persist()
    all_vertices.count()

    def _start(e: DataFrame) -> tuple[DataFrame, tuple[int, int], bool]:
        e = e.localCheckpoint(eager=True)
        return e, _signature(e), False

    # star contractions reference the round's edge state twice — the
    # chained-checkpoint shape; cuts go through plans/iterstate.py
    def step(rnd: int, state, ckpt):
        e, sig, _ = state
        # non-eager: the signature aggregation is the round's ONE job and
        # materializes the checkpoint as a side effect (same discipline as
        # the PageRank superstep)
        e = ckpt.cut(_small_star(_large_star(e)), eager=False)
        new_sig = _signature(e)
        return (e, new_sig, new_sig == sig), {
            "edges": new_sig[0], "checksum": new_sig[1]
        }

    def _components(state) -> DataFrame:
        # at fixpoint the edge set is a star forest: (child, root), child > root
        membership = state[0].select(
            F.col("src").alias("id"), F.col("dst").alias("component")
        )
        roots_and_isolated = (
            all_vertices.join(membership, on="id", how="left_anti")
            .select("id", F.col("id").alias("component"))
        )
        return membership.unionByName(roots_and_isolated)

    loop = superstep.run(
        step,
        lambda: _start(_canonical(edges.select("src", "dst"))),
        spark=spark,
        max_iter=max_rounds,
        key="round",
        done=lambda s: s[2],
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: _start(snap),
        snapshot=lambda s: s[0],
        result=_components,
        final=lambda lp: (lp.last + 1, {"converged": True}) if lp.done else None,
    )
    all_vertices.unpersist()
    return ComponentsResult(
        components=loop.result, rounds=loop.last, converged=loop.done,
        history=loop.history,
    )


def incremental_components(
    prev_labels: DataFrame,
    delta_edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
) -> ComponentsResult:
    """Warm-start WCC from a previous labeling — the incremental-update
    path: instead of re-contracting all |E| edges, run large-star/
    small-star over the UNION of (a) the previous star forest
    (id -> component, one edge per non-root vertex: yesterday's graph
    pre-contracted to depth 1) and (b) only the delta's edges. Appended
    edges can only merge components, and every old label IS the min id
    of its member set, so the min over any merged union is preserved —
    the result is bit-identical to a cold run on the full edge set
    (pinned in tests), while the iteration touches |V| + |delta| edges
    instead of |E| and starts one contraction step from done.

    At 10^12-file scale this is the difference between re-running the
    full multi-round contraction nightly and a near-constant-round merge
    of the day's new links into yesterday's star forest."""
    star = prev_labels.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    union = star.unionByName(delta_edges.select("src", "dst"))
    if vertices is None:
        vertices = (
            prev_labels.select("id")
            .unionByName(delta_edges.select(F.col("src").alias("id")))
            .unionByName(delta_edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    return connected_components(
        union, vertices=vertices, max_rounds=max_rounds, checkpoint=checkpoint
    )


def decremental_components(
    prev_labels: DataFrame,
    remaining_edges: DataFrame,
    removed_edges: DataFrame,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
) -> ComponentsResult:
    """Warm WCC after edge REMOVALS — the deletion half of the daily-
    delta story (``incremental_components`` handles additions; VERDICT
    r3 task #6). Deletions can SPLIT components, so unlike the append
    path no star-forest merge suffices; but the damage is local:

    1. The only components whose labeling can change are those
       containing an endpoint of a removed edge ("affected").
    2. Every other component keeps its previous labels verbatim (its
       edge set and vertex set are untouched).
    3. Affected components are re-solved by a cold large-star/small-star
       run restricted to THEIR remaining edges and THEIR vertex set —
       work proportional to the affected components' size, not |E|.

    Labels are min-ids, so untouched labels and recomputed labels agree
    with a cold full-graph run bit-exactly (pinned by the
    ``wcc_decremental`` oracle: same trajectory-independent closure SQL
    as ``wcc_labels`` on the reduced edge set).

    ``remaining_edges`` is the post-removal edge table (the caller's
    authoritative current graph); ``removed_edges`` the batch that was
    deleted. Removed rows that never existed only enlarge the affected
    set (correct, just less incremental). 100 TB shape: three key-hash
    semi-joins to carve the affected subgraph + the cold kernel on that
    subgraph; the worst case (a removal inside the giant component)
    honestly degenerates to re-solving the giant component — exact
    split detection cannot do less without maintaining a spanning
    structure per component.
    """
    removed_ids = (
        removed_edges.select(F.col("src").alias("id"))
        .unionByName(removed_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    affected_comps = (
        prev_labels.join(removed_ids, on="id")
        .select("component")
        .distinct()
    )
    affected_verts = prev_labels.join(
        affected_comps, on="component"
    ).select("id")
    # an edge of an affected component has BOTH endpoints in it (edges
    # never cross component boundaries), so one endpoint semi-join
    # selects exactly the affected subgraph's edges
    sub_edges = remaining_edges.join(
        affected_verts.withColumnRenamed("id", "src"), on="src", how="leftsemi"
    )
    sub = connected_components(
        sub_edges,
        vertices=affected_verts,
        max_rounds=max_rounds,
        checkpoint=checkpoint,
    )
    untouched = prev_labels.join(
        affected_comps, on="component", how="left_anti"
    ).select("id", "component")
    return ComponentsResult(
        components=untouched.unionByName(
            sub.components.select("id", "component")
        ),
        rounds=sub.rounds,
        converged=sub.converged,
        history=sub.history,
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) — `test2:244-285`'s wcc_dist; sizes sum to |V|."""
    return components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


def bipartite_check(edges: DataFrame, max_depth: int = 16) -> DataFrame:
    """Per-component bipartiteness by BFS-parity 2-coloring: a component
    is bipartite iff no edge joins two vertices at the same BFS-level
    parity from its root (odd-cycle test — König's theorem's algorithmic
    face; the graph-ML sanity check before any bipartite-only method).

    Composition of two existing kernels, no new iteration machinery:
    ``connected_components`` (min-id roots) supplies one BFS source per
    component, the multi-source ``bfs`` computes hop distances (sources
    sit in disjoint components, so the one run IS per-component
    single-source BFS), and the verdict is one parity join over the
    canonical edge set. Returns one row per component:
    (component, n_vertices, n_conflicts, is_bipartite) — n_conflicts =
    exact count of same-parity canonical edges, every column gated.

    ``max_depth`` must be >= the largest component eccentricity of its
    root; bfs raising/under-reaching would surface as a vertex with no
    distance, which this function turns into a LOUD error rather than a
    wrong verdict.
    """
    from paragrapher_spark.kernels.bfs import bfs

    comp = connected_components(edges).components  # (id, component)
    roots = comp.where(F.col("id") == F.col("component")).select("id")
    depths = bfs(edges, roots, directed=False, max_depth=max_depth).distances
    side = comp.join(depths, on="id", how="left").select(
        "id",
        "component",
        (F.col("dist") % 2).alias("side"),
        F.col("dist").alias("__dist"),
    )
    n_unreached = side.where(F.col("__dist").isNull()).count()
    if n_unreached:
        raise RuntimeError(
            f"bipartite_check: {n_unreached} vertices unreached at "
            f"max_depth={max_depth} — raise max_depth"
        )
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    conflicts = (
        und.join(side.select(F.col("id").alias("a"), F.col("side").alias("sa"),
                             F.col("component")), on="a")
        .join(side.select(F.col("id").alias("b"), F.col("side").alias("sb")), on="b")
        .where(F.col("sa") == F.col("sb"))
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conflicts"))
    )
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        .join(conflicts, on="component", how="left")
        .select(
            "component",
            "n_vertices",
            F.coalesce(F.col("n_conflicts"), F.lit(0)).cast("long").alias(
                "n_conflicts"
            ),
            (F.coalesce(F.col("n_conflicts"), F.lit(0)) == 0).alias("is_bipartite"),
        )
    )
