"""Synchronous label propagation with deterministic min-label tie-break.

Not in the reference's client set, but part of the north rule's kernel
quartet. Deterministic by construction (north rule: exact-match outputs):
synchronous updates, the vote includes the vertex's own current label
(damps 2-cycle oscillation on bipartite structures), winner = highest vote
count with ties broken by smallest label — expressed with ``max_by`` over
``struct(cnt, -label)``, an aggregation, not a window (no per-key sort at
scale).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    history: list[dict[str, Any]] = field(default_factory=list)


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    num_partitions: int | None = None,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> LabelPropResult:
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(n_part, "dst")
        # sorted before caching: the per-round gather join is a
        # SortMergeJoin once labels outgrow the broadcast threshold; the
        # cached sort order keeps the |E| side from re-sorting every round
        # (same rationale as kernels/pagerank.py edges_w)
        .sortWithinPartitions("dst")
        .persist()
    )
    und.count()

    all_vertices = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    def step(it: int, state, ckpt):
        labels = state[0]
        # neighbor votes: vertex src receives the label of each neighbor dst
        nbr_votes = (
            und.join(labels.withColumnRenamed("id", "dst"), on="dst")
            .select(F.col("src").alias("id"), "label")
        )
        self_votes = labels.select("id", "label")
        winners = (
            nbr_votes.unionByName(self_votes)
            .groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("id")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("new_label")
            )
        )
        joined = (
            labels.join(winners, on="id", how="left")
            .select(
                "id",
                F.coalesce("new_label", "label").alias("new_label"),
                F.col("label").alias("old_label"),
            )
            # non-eager: the changed-count aggregation below is the one job
            # of the superstep and materializes the checkpoint
            .transform(ckpt.cut_lazy)
        )
        changed = (
            joined.agg(
                F.sum(
                    (F.col("new_label") != F.col("old_label")).cast("long")
                ).alias("c")
            ).collect()[0]["c"]
            or 0
        )
        labels = joined.select("id", F.col("new_label").alias("label"))
        return (labels, changed), {"changed": changed}

    loop = superstep.run(
        step,
        lambda: (
            all_vertices.select("id", F.col("id").alias("label")).localCheckpoint(
                eager=True
            ),
            None,
        ),
        spark=spark,
        max_iter=max_iter,
        done=lambda s: s[1] == 0,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
        restore=lambda _, snap: (snap.localCheckpoint(eager=True), None),
        snapshot=lambda s: s[0],
        result=lambda s: s[0],
        final=lambda lp: (lp.last, {"converged": True}) if lp.done else None,
    )
    und.unpersist()
    return LabelPropResult(
        labels=loop.result, iterations=loop.last, converged=loop.done,
        history=loop.history,
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex labeling over UNDIRECTED canonical
    edges(src, dst) (one row per unordered pair) — the standard quality
    score for label-propagation/community output (Newman & Girvan 2004).

    Exact-integer formulation so the score gates deterministically:
    Q = Σ_c [e_c/m − (d_c/2m)²] = (4·m·Σe_c − Σd_c²) / (4·m²), returned
    as one row (m, sum_ec, sum_dc2, q_num, q) where m/sum_ec/sum_dc2/
    q_num are exact longs and q is the single IEEE division q_num/(4m²)
    — one float op, bit-identical across engines (no summation-order
    ambiguity). Overflow bound: Σd_c² ≤ (2m)², i.e. exact up to ~1.5e9
    edges; beyond that move q_num to decimal(38).

    100 TB shape: two broadcast-or-shuffle equi-joins (labels onto edge
    endpoints) + map-side-combinable aggs; everything else is 1-row
    cross joins.
    """
    e = edges.select("src", "dst")
    lab = labels.select("id", F.col(labels.columns[1]).alias("label"))
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    ec_df = (
        e.join(lab.select(F.col("id").alias("src"), F.col("label").alias("ls")), on="src")
        .join(lab.select(F.col("id").alias("dst"), F.col("label").alias("ld")), on="dst")
        .where(F.col("ls") == F.col("ld"))
        .agg(F.count(F.lit(1)).alias("sum_ec"))
    )
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dc2_df = (
        deg.join(lab.select(F.col("id").alias("src"), "label"), on="src")
        .groupBy("label")
        .agg(F.sum("d").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"))
    )
    return (
        m_df.crossJoin(ec_df)
        .crossJoin(dc2_df)
        .select(
            F.col("m").cast("long"),
            F.col("sum_ec").cast("long"),
            F.col("sum_dc2").cast("long"),
            (
                F.lit(4).cast("long") * F.col("m") * F.col("sum_ec")
                - F.col("sum_dc2")
            ).cast("long").alias("q_num"),
            (
                (
                    F.lit(4).cast("long") * F.col("m") * F.col("sum_ec")
                    - F.col("sum_dc2")
                ).cast("double")
                / (F.lit(4).cast("long") * F.col("m") * F.col("m")).cast("double")
            ).alias("q"),
        )
    )


def community_conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over UNDIRECTED canonical edges(src, dst)
    — the standard cut-quality score next to modularity (Kannan, Vempala,
    Vetta, "On clusterings: good, bad and spectral", JACM 2004):

        φ(C) = cut(C) / min(vol(C), 2m − vol(C))

    Returns one row per community: (label, n_vertices, vol, cut, phi)
    where n_vertices/vol/cut are exact longs (vol = Σ degree, cut = edges
    with exactly one endpoint inside) and phi is ONE IEEE division of two
    exact longs — bit-identical across engines. Communities covering the
    whole volume (min = 0) get phi = 0.0 by convention (documented, the
    undefined case).

    100 TB shape: two label-attach equi-joins on the edge table + grouped
    sums keyed by community — the same cost class as modularity; nothing
    iterative, nothing driver-side.
    """
    e = edges.select("src", "dst")
    lab = labels.select("id", F.col(labels.columns[1]).alias("label"))
    m = e.count()  # one action; 2m is the total volume
    tagged = e.join(
        lab.select(F.col("id").alias("src"), F.col("label").alias("ls")), "src"
    ).join(lab.select(F.col("id").alias("dst"), F.col("label").alias("ld")), "dst")
    # internal edges count toward their community; cut edges toward BOTH
    cut = (
        tagged.where(F.col("ls") != F.col("ld"))
        .select(F.col("ls").alias("label"))
        .unionByName(
            tagged.where(F.col("ls") != F.col("ld")).select(
                F.col("ld").alias("label")
            )
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    vol = (
        deg.join(lab, "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum("d").cast("long").alias("vol"),
        )
    )
    denom = F.least(F.col("vol"), F.lit(2 * m) - F.col("vol"))
    return (
        vol.join(cut, "label", "left")
        .select(
            F.col("label").cast("long"),
            "n_vertices",
            "vol",
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(denom > 0, F.coalesce("cut", F.lit(0)) / denom)
            .otherwise(F.lit(0.0))
            .alias("phi"),
        )
    )
