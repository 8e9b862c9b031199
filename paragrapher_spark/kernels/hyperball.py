"""HyperBall — HyperLogLog-counter neighborhood function / centralities.

THE companion algorithm of the reference's ecosystem: the WebGraph framework
(whose BVGraph files the reference loads, `src/WG400AP.java:71`) is also the
home of HyperBall (Boldi-Vigna, "In-Core Computation of Geometric
Centralities with HyperBall", 2013; the ANF problem is Palmer-Gibbons-
Faloutsos KDD'02). It estimates, for every vertex, the size of its ball
|B(v, r)| = #vertices within distance r, by iterating an elementwise-max
merge of per-vertex HyperLogLog registers along edges — which yields the
graph's neighborhood function, effective diameter, and harmonic centrality
without any all-pairs computation.

Spark-native formulation (deterministic, oracle-reproducible):

- m = 16 registers per vertex, stored as 16 int COLUMNS ``r0..r15`` — the
  per-round merge is then ``groupBy(id).agg(max(r0)..max(r15))``: pure JVM
  whole-stage-codegen aggregation, 16 bytes of state per vertex, map-side
  combinable. No arrays, no UDFs, no explode.
- the element hash is the repo's engine-portable md5 family
  (sources/corpus.py ``h``): 60-bit integer from the first 15 md5 hex chars,
  reproducible verbatim in DuckDB SQL — which puts a SKETCH algorithm under
  the exact-hash oracle gate.
- rho (the HLL "leading-zeros+1" statistic) is taken as trailing zeros of
  the remaining 56 hash bits via the identity tz(x) = bit_count((x & -x)-1)
  — ``bit_count`` exists in both Spark and DuckDB, so both engines compute
  bit-identical registers.
- the raw estimator is computed over EXACT integers: each register
  contributes 2^(48-rho) (rho capped at 48) so the denominator is a plain
  BIGINT sum — order-free and exact, sidestepping the float-summation
  nondeterminism that would break hash-equality. The only float ops are one
  literal product and one division (IEEE-deterministic), plus a 16-entry
  precomputed-literal table for the small-range linear-counting correction
  (ln is libm-dependent; a CASE over shared literals is not).

100 TB shape: state is 16 B/vertex; each round is one |E| equi-join + one
map-side-combinable 16-column max aggregation — the same cost class as a
PageRank superstep, which is exactly HyperBall's selling point vs all-pairs
BFS. Radius is small (effective diameters of web/link graphs are < 20).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep

M = 16  # registers per counter (b = 4 index bits)
ALPHA_M = 0.673  # standard HLL bias constant for m = 16
RHO_CAP = 48  # keeps 2^(RHO_CAP - rho) an exact BIGINT (and exact double)
REG_COLS = [f"r{i}" for i in range(M)]

# linear-counting small-range correction m*ln(m/z) for z = 1..16 zero
# registers, precomputed once so Spark and the SQL oracle share literal
# doubles instead of trusting two libms to agree on ln()
LN_TABLE = [M * math.log(M / z) for z in range(1, M + 1)]
# scaled numerator of the raw estimator: alpha_m * m^2 * 2^RHO_CAP
EST_NUM = ALPHA_M * float(M * M) * float(2**RHO_CAP)
SMALL_RANGE = 2.5 * M


@dataclass
class HyperBallResult:
    states: DataFrame  # (id, ball, harmonic) at the final radius
    nf: list[int]  # neighborhood function: sum of ball estimates per radius
    radius: int
    history: list[dict[str, Any]] = field(default_factory=list)


def _hash60(col: Column, tag: str = "hb", seed: int = 42) -> Column:
    """Engine-portable 60-bit hash (sources/corpus.py family): DuckDB twin
    is ('0x' || substr(md5(concat_ws(':', tag, seed, id)), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(tag), F.lit(str(seed)), col.cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _init_registers(vertices: DataFrame) -> DataFrame:
    """(id) -> (id, r0..r15): the singleton-set HLL counter of each vertex."""
    h = _hash60(F.col("id"))
    reg = F.pmod(h, F.lit(M))
    rest = F.shiftright(h, 4)  # remaining 56 hash bits
    tz = F.bit_count((rest.bitwiseAND(-rest)) - F.lit(1))
    rho = F.when(rest == 0, F.lit(RHO_CAP)).otherwise(
        F.least(tz + F.lit(1), F.lit(RHO_CAP))
    )
    out = vertices.select(
        "id",
        *[
            F.when(reg == i, rho).otherwise(F.lit(0)).cast("int").alias(c)
            for i, c in enumerate(REG_COLS)
        ],
    )
    return out


def ball_estimate(prefix: str = "") -> Column:
    """Ball-size estimate from 16 register columns — shared, deterministic
    expression (exact-integer denominator, literal-table correction).

    The SQL oracle must be the verbatim transliteration of this expression
    tree (same literals, same association order)."""
    terms = [
        # shiftleft's python API takes a literal shift; the SQL form takes a
        # column expression — BIGINT-exact 2^(RHO_CAP - rho) per register
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {RHO_CAP} - {prefix}{c})")
        for c in REG_COLS
    ]
    denom = terms[0]
    for t in terms[1:]:
        denom = denom + t
    raw = F.lit(EST_NUM) / denom.cast("double")
    zeros_terms = [
        F.when(F.col(prefix + c) == 0, F.lit(1)).otherwise(F.lit(0)) for c in REG_COLS
    ]
    zeros = zeros_terms[0]
    for t in zeros_terms[1:]:
        zeros = zeros + t
    corrected = F.when(
        (raw <= F.lit(SMALL_RANGE)) & (zeros > 0),
        # CASE over shared literals — not ln(), which is libm-dependent
        F.coalesce(
            *[
                F.when(zeros == z, F.lit(LN_TABLE[z - 1]))
                for z in range(1, M + 1)
            ]
        ),
    ).otherwise(raw)
    return corrected


def hyperball(
    edges: DataFrame,
    radius: int = 4,
    directed: bool = False,
    num_partitions: int | None = None,
) -> HyperBallResult:
    """Neighborhood function + harmonic centrality to ``radius`` over
    edges(src, dst).

    Returns per-vertex ``ball`` (estimated |B(v, radius)|) and ``harmonic``
    (estimated sum over reached vertices of 1/d(v, u), accumulated as
    sum_r (round(|B_r|) - round(|B_{r-1}|)) / r over INTEGER-rounded ball
    estimates — see the in-loop comment for why), both rounded to 6
    decimals, plus the per-radius neighborhood function (exact integer sums
    of rounded per-vertex estimates — order-free, reproducible)."""
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = (
        e.distinct()
        # the gather below joins on dst (state flows dst -> src), so cache
        # in dst order to spare the per-round SortMergeJoin re-sort
        .repartition(n_part, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    e.count()

    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    state = (
        _init_registers(vertices)
        .withColumn("est", F.round(ball_estimate(), 6))
        .withColumn("harmonic", F.lit(0.0))
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )
    nf = [
        int(
            state.agg(
                F.sum(F.round(F.col("est")).cast("long")).alias("nf")
            ).collect()[0]["nf"]
        )
    ]

    def step(rad: int, state: DataFrame, ckpt):
        msgs = e.join(
            state.select(F.col("id").alias("dst"), *REG_COLS), on="dst"
        ).select(F.col("src").alias("id"), *REG_COLS)
        merged = (
            state.select("id", *REG_COLS)
            .unionByName(msgs)
            .groupBy("id")
            .agg(*[F.max(c).alias(c) for c in REG_COLS])
        )
        state = (
            merged.join(state.select("id", "est", "harmonic"), on="id")
            .withColumn("new_est", F.round(ball_estimate(), 6))
            # harmonic accumulates INTEGER-rounded ball deltas: n/2 and n/4
            # are binary-exact and n/3, n/5... never land on a 1e-6 decimal
            # tie, so the final round(6) is identical across engines. (The
            # rounded-to-6 estimates themselves divided by 2 DO create
            # exact x.xxxxxx5 ties, where Spark's shortest-repr HALF_UP
            # round and an exact-binary round disagree ~4% of the time —
            # measured, not hypothetical.)
            .withColumn(
                "harmonic",
                F.col("harmonic")
                + (F.round(F.col("new_est")) - F.round(F.col("est")))
                / F.lit(float(rad)),
            )
            .select("id", *REG_COLS, F.col("new_est").alias("est"), "harmonic")
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: materializes the checkpoint AND reads off
        # the radius-r neighborhood function
        row = state.agg(
            F.sum(F.round(F.col("est")).cast("long")).alias("nf"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return state, {"nf": int(row["nf"])}

    loop = superstep.run(
        step,
        state,
        spark=spark,
        max_iter=radius,
        key="radius",
        result=lambda s: s.select(
            "id",
            F.col("est").alias("ball"),
            F.round(F.col("harmonic"), 6).alias("harmonic"),
        ),
    )
    e.unpersist()
    return HyperBallResult(
        states=loop.result,
        nf=nf + [h["nf"] for h in loop.history],
        radius=loop.last,
        history=loop.history,
    )
