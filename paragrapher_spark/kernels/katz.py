"""Katz centrality — attenuated walk counting, integer-exact fixed point.

The third classic link-analysis ranking next to PageRank and HITS (Katz,
"A new status index derived from sociometric analysis", Psychometrika
1953): katz(v) = sum over k >= 0 of alpha^k * walks_k(v), where walks_k(v)
is the number of length-k walks ending at v. A standard workload over the
web-crawl graphs the reference's WebGraph datasets come from (the
reference itself ships no ranking client — its bundled workloads are
degree/WCC/converters, `test/test1_deg_dist_WG400.c`,
`test/test2_jtcc_WG400.c` — this kernel EXCEEDS it the same way HITS and
PageRank do).

Exactness discipline (the repo-wide contract): with attenuation
alpha = 1/base for an integer ``base``, the truncated series is computed
entirely in scaled integers. Let x_t be the standard recurrence

    x_0 = 1;   x_{t+1}(v) = 1 + alpha * sum over in-neighbors u of x_t(u)

and y_t = base^t * x_t. Then

    y_0 = 1;   y_{t+1}(v) = base^(t+1) + sum over in-neighbors u of y_t(u)

is an ALL-INTEGER recurrence (every y_t is a non-negative integer:
y_t(v) = sum_{k<=t} base^(t-k) * walks_k(v)), so a DuckDB oracle unrolled
to the same ``rounds`` reproduces y_T bit-for-bit — no float-summation
carve-out. The convenience ``katz`` double is ONE IEEE division of two
exact longs (y_T / base^T), identical across engines.

Overflow is checked exactly, not estimated: each round's single action
returns max(y_t), and the kernel raises loudly if the NEXT round could
exceed 2^62 (max_in_degree * max_y + base^(t+1) bound). For bounded-degree
graphs (co-purchase max degree ~222 at sf0.1) y_6 stays below ~1e14 —
four orders under the guard.

100 TB shape: identical cost class to a PageRank superstep — one shuffle
join + one map-side-combinable sum per round over an edge table
repartitioned + sorted once before caching; driver state O(1) scalars.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep

_GUARD = 2**62


@dataclass
class KatzResult:
    scores: DataFrame  # (id, katz_num, katz_den, katz)
    rounds: int
    base: int
    history: list[dict[str, Any]] = field(default_factory=list)


@dataclass
class EigenResult:
    scores: DataFrame  # (id, walks, eig)
    rounds: int
    max_walks: int
    history: list[dict[str, Any]] = field(default_factory=list)


def katz(
    edges: DataFrame,
    rounds: int = 6,
    base: int = 16,
    directed: bool = True,
    num_partitions: int | None = None,
) -> KatzResult:
    """Truncated Katz centrality with alpha = 1/base over edges(src, dst).

    Returns one row per vertex: ``katz_num`` = base^rounds * x_rounds
    (exact BIGINT), ``katz_den`` = base^rounds, and ``katz`` = their IEEE
    quotient. ``directed=False`` symmetrizes first (walks in both
    directions), matching the undirected co-purchase semantics.
    """
    if rounds < 1 or base < 2:
        raise ValueError(f"need rounds >= 1 and base >= 2, got {rounds}/{base}")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = (
        e.where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()

    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )
    max_in = (
        e.groupBy("dst").count().agg(F.max("count")).collect()[0][0] or 0
    )

    den = base**rounds

    def step(t: int, state, ckpt):
        y, max_y = state
        bump = base**t
        # exact a-priori bound for THIS round: every vertex receives at most
        # max_in contributions of at most max_y, plus the base^t walk-0 term
        if max_in * max_y + bump >= _GUARD:
            raise ValueError(
                f"katz fixed-point would overflow at round {t}: "
                f"max_in_degree={max_in} * max_y={max_y} + {base}^{t} >= 2^62; "
                f"lower rounds= or raise base="
            )
        gathered = (
            e.join(y.select(F.col("id").alias("src"), "y"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("y").alias("g"))
        )
        y = (
            vertices.join(gathered, on="id", how="left")
            .select(
                "id",
                (F.lit(bump).cast("long") + F.coalesce(F.col("g"), F.lit(0))).alias(
                    "y"
                ),
            )
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        # ONE action per round: materializes the checkpoint AND returns the
        # exact running maximum for the next round's overflow guard
        max_y = y.agg(F.max("y")).collect()[0][0]
        return (y, max_y), {"max_y": int(max_y)}

    loop = superstep.run(
        step,
        (vertices.select("id", F.lit(1).cast("long").alias("y")), 1),
        spark=spark,
        max_iter=rounds,
        key="round",
        result=lambda s: s[0].select(
            "id",
            F.col("y").alias("katz_num"),
            F.lit(den).cast("long").alias("katz_den"),
            (F.col("y").cast("double") / F.lit(float(den))).alias("katz"),
        ),
    )
    e.unpersist()
    return KatzResult(
        scores=loop.result, rounds=rounds, base=base, history=loop.history
    )


def eigencentrality(
    edges: DataFrame,
    rounds: int = 6,
    directed: bool = False,
    num_partitions: int | None = None,
) -> EigenResult:
    """Eigenvector centrality by truncated power iteration, integer-exact.

    The un-normalized iterate y_{t+1}(v) = sum over in-neighbors u of
    y_t(u) with y_0 = 1 counts length-t walks ending at v; y_T /
    max(y_T) is the power-iteration estimate of the dominant
    eigenvector (Bonacich 1972), converging at rate lambda_2/lambda_1.
    Every y_t is an exact BIGINT (the Katz discipline minus the
    attenuation bump), so an unrolled SQL oracle reproduces ``walks``
    bit-for-bit and ``eig`` is ONE IEEE division of two exact longs.

    Same per-round plan as katz/pagerank: one shuffle join + one
    map-side-combinable sum over the pre-partitioned cached edge table;
    the per-round single action returns max(y) which doubles as the
    exact overflow guard. On an undirected graph every vertex keeps
    y_t >= 1, so the final division is always defined.
    """
    if rounds < 1:
        raise ValueError(f"need rounds >= 1, got {rounds}")
    spark = edges.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = (
        e.where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    e.count()
    vertices = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )
    max_in = e.groupBy("dst").count().agg(F.max("count")).collect()[0][0] or 0

    def step(t: int, state, ckpt):
        y, max_y = state
        if max_in * max_y >= _GUARD:
            raise ValueError(
                f"power iteration would overflow at round {t}: "
                f"max_in_degree={max_in} * max_y={max_y} >= 2^62; lower rounds="
            )
        gathered = (
            e.join(y.select(F.col("id").alias("src"), "y"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("y").alias("g"))
        )
        y = (
            vertices.join(gathered, on="id", how="left")
            .select("id", F.coalesce(F.col("g"), F.lit(0)).cast("long").alias("y"))
            .repartition(n_part, "id")
            .transform(ckpt.cut_lazy)
        )
        max_y = y.agg(F.max("y")).collect()[0][0]
        return (y, max_y), {"max_y": int(max_y)}

    loop = superstep.run(
        step,
        (vertices.select("id", F.lit(1).cast("long").alias("y")), 1),
        spark=spark,
        max_iter=rounds,
        key="round",
        result=lambda s: s[0].select(
            "id",
            F.col("y").alias("walks"),
            (F.col("y").cast("double") / F.lit(float(s[1]))).alias("eig"),
        ),
    )
    e.unpersist()
    return EigenResult(
        scores=loop.result, rounds=rounds, max_walks=int(loop.state[1]),
        history=loop.history,
    )
