"""Neighborhood feature aggregation — GraphSAGE-style SpMM over embeddings.

The second training-data bridge (next to kernels/walks.py): GNN trainers
consume per-vertex features averaged over k-hop neighborhoods — in matrix
terms ``(A^k q) / (A^k 1)``, a sparse-matrix × dense-feature product. At
100 TB this IS the preprocessing job for graph-ML corpora. The reference
has no feature kernel (it moves topology only), but its CSX gather shape
(`src/webgraph.c:1036-1091`: stream a vertex's neighbor block, reduce) is
exactly one SpMM row; this kernel re-expresses it as join + sum.

Exactness discipline: features are quantized ONCE to fixed-point longs
(``round(x * scale)``), all hops aggregate exact integer sums and exact
path counts, and the final mean is a single long/long division — so a
DuckDB oracle reproduces every output bit (no float-summation-order
ambiguity, the same trick as the integer PageRank-unroll oracles). k-hop
semantics are the path-multiset mean: hop 2 averages over all length-2
walks, i.e. ``(A² q)/(A² 1)`` — standard graph-convolution algebra, not
mean-of-means (which would re-divide per hop and lose integer exactness).

Execution shape:

- features explode once to (id, pos, qval) — columnar long rows, the
  layout every subsequent shuffle aggregates map-side;
- each hop is ONE equi-join state ⋈ edges on the vertex key + a sum-agg
  keyed (id, pos) — both map-side-combinable; the path count rides the
  same join keyed (id, pos=-1) so a hop is still a single shuffle pair;
- no UDFs anywhere — quantization is ``transform``, assembly is
  ``array_agg`` over a sorted window; whole-stage codegen end to end.

100 TB shape: state is |V| × dim long rows partitioned on the vertex key;
a hop shuffles exactly that once. Dim rides the (id, pos) key so feature
width adds partitions, not skew; hub in-degree skew lands in the sum-agg
(map-side partials absorb it) not the join. Overflow bound: |sum| <=
scale * max|x| * (max_deg)^hops — asserted against int64 by the caller's
scale choice, documented here rather than silently wrapped.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep

SCALE = 10**6


@dataclass
class NeighborhoodResult:
    features: DataFrame  # (id, pos, sum_q, cnt, mean) exploded — see assemble()
    hops: int
    dim: int


def neighbor_feature_agg(
    edges: DataFrame,
    features: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    hops: int = 1,
    scale: int = SCALE,
) -> NeighborhoodResult:
    """Mean of quantized features over the ``hops``-hop out-neighborhood
    path multiset of directed edges(src, dst).

    Returns exploded rows (id, pos, sum_q, cnt, mean): ``sum_q =
    (A^h q)(id, pos)`` and ``cnt = (A^h 1)(id)`` as exact longs with
    ``q = round(x * scale)``; ``mean = sum_q / (cnt * scale)`` as a
    convenience double. Vertices with no length-``hops`` outgoing path are
    absent (no paths ⇒ no mean — the caller left-joins if it wants nulls).
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    dim_row = features.select(F.size(vec_col).alias("d")).agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    ).collect()[0]
    if dim_row["lo"] != dim_row["hi"]:
        raise ValueError(
            f"ragged feature vectors: dims in [{dim_row['lo']}, {dim_row['hi']}]"
        )
    dim = int(dim_row["hi"])

    # quantize + explode once; pos=-1 carries the path count through the
    # same joins so each hop is one shuffle pair, not two
    q = features.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * F.lit(scale)).cast("long"),
            )
        ).alias("pos", "s"),
    )
    ones = features.select(
        F.col(id_col).alias("id"),
        F.lit(-1).alias("pos"),
        F.lit(1).cast("long").alias("s"),
    )
    state = (
        q.unionByName(ones)
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )

    e = edges.select("src", "dst").repartition(n_part, "dst").persist()
    e.count()

    def step(_: int, state: DataFrame, ckpt):
        state = (
            e.join(state.withColumnRenamed("id", "dst"), on="dst")
            .groupBy(F.col("src").alias("id"), "pos")
            .agg(F.sum("s").alias("s"))
            .repartition(n_part, "id")
            .transform(ckpt.cut)
        )
        return state, {}

    def _features(state: DataFrame) -> DataFrame:
        cnt = state.where(F.col("pos") == -1).select("id", F.col("s").alias("cnt"))
        # sum_q/cnt are EXACT longs — the oracle-gated payload. The double
        # mean is a convenience projection only: a decimal tie (odd sum over
        # an even path count lands exactly on x.xxxxxx5) rounds differently
        # between engines (Spark round goes through the shortest-decimal
        # BigDecimal, DuckDB rounds the binary double), so the gate compares
        # the integers.
        return (
            state.where(F.col("pos") >= 0)
            .join(cnt, on="id")
            .select(
                "id",
                "pos",
                F.col("s").alias("sum_q"),
                "cnt",
                (
                    F.col("s").cast("double")
                    / (F.col("cnt").cast("double") * F.lit(float(scale)))
                ).alias("mean"),
            )
        )

    loop = superstep.run(
        step, state, spark=spark, max_iter=hops, key="hop", result=_features
    )
    e.unpersist()
    return NeighborhoodResult(features=loop.result, hops=hops, dim=dim)


def assemble(result: NeighborhoodResult) -> DataFrame:
    """(id, feature: array<double>) — exploded rows re-packed pos-sorted."""
    return (
        result.features.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mean"))
            ).alias("pm")
        )
        .select(
            "id",
            F.transform(F.col("pm"), lambda s: s.getField("mean")).alias("feature"),
        )
    )
