"""Grouped HyperLogLog distinct-count sketches — exact-replayable.

`kernels/hyperball.py` already carries a deterministic 16-register HLL
whose every bit a DuckDB oracle reproduces (md5-prefix hash family,
exact-BIGINT estimator denominator, literal ln() correction table). This
module lifts that machinery out of the graph kernel into the general
relational shape a training-data pipeline needs: approximate
COUNT(DISTINCT value) per group — vocabulary size per language, unique
users per source, shingle cardinality per shard — in ONE map-side-
combinable aggregation.

Scale shape (100 TB): per input row, one md5 + register/rho expressions
(pure JVM); per group, 16 conditional MAX aggregations — partial maxes
combine map-side, so the shuffle carries #groups x 16 ints no matter how
many rows flow in. The estimator is the shared `ball_estimate` column
expression (same literals as the kernel), so estimates are deterministic
and bit-identical across engines — an HLL sketch that sits under the
exact-hash correctness gate, like `hyperball_balls`.

Accuracy is the standard HLL m=16 envelope (~26% relative error, 1.04/√m)
— the register count mirrors the reference-companion HyperBall setup the
kernel pins; widen M in hyperball.py to trade memory for accuracy.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash
from paragrapher_spark.kernels.hyperball import (
    REG_COLS,
    ball_estimate,
    hll_registers,
)


def _merged_estimate(
    regs: DataFrame, group_cols: Sequence[str], out_col: str
) -> DataFrame:
    merged = regs.groupBy(*group_cols).agg(
        *[F.max(c).alias(c) for c in REG_COLS]
    )
    return merged.select(
        *group_cols, F.round(ball_estimate(), 6).alias(out_col)
    )


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column | str,
    tag: str = "hll",
    seed: int = 42,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """(group_cols..., approx_distinct): deterministic HLL estimate of
    COUNT(DISTINCT value) per group. One aggregation; the per-group state
    is 16 small ints regardless of input size."""
    return _merged_estimate(
        hll_registers(df, group_cols, value, tag, seed), group_cols, out_col
    )


def cms_sketch(
    df: DataFrame,
    value: Column | str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 512,
    tag: str = "cms",
    seed: int = 42,
) -> DataFrame:
    """(group_cols..., row, bucket, cnt) — Count-Min sketch (Cormode &
    Muthukrishnan, J. Algorithms 2005) of the frequency of ``value``,
    optionally per group.

    ``depth`` independent hash rows from the engine-portable md5 family
    (row ``i`` hashes with tag ``'{tag}:{i}'``), each ``width`` buckets.
    The point estimate for a key is the MIN over its ``depth`` bucket
    counters — never an underestimate, overestimate bounded by
    2m/width with probability 1-2^-depth (m = stream length).

    Scale shape (100 TB): each input row fans out to ``depth`` tiny
    (row, bucket) rows and ONE count aggregation folds them — partial
    counts combine map-side, so the shuffle carries at most
    #groups x depth x width counter rows no matter how many rows flow
    in, and the finished sketch broadcasts for lookups. Deterministic:
    the sketch is a pure function of the multiset of values, so it sits
    under the exact-hash gate like the HLL above (and the same
    commutative/associative/idempotent-free merge — counters ADD — makes
    it streaming-foldable in update mode)."""
    v = F.col(value) if isinstance(value, str) else value
    probes = F.array(
        *[
            F.pmod(portable_hash(f"{tag}:{i}", seed, v), F.lit(width))
            for i in range(depth)
        ]
    )
    rows = df.select(
        *group_cols, F.posexplode(probes).alias("row", "bucket")
    )
    return rows.groupBy(*group_cols, "row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    depth: int = 4,
    width: int = 512,
    tag: str = "cms",
    seed: int = 42,
    out_col: str = "cms_est",
) -> DataFrame:
    """keys + (out_col): Count-Min point estimate for each key row —
    min over the ``depth`` bucket counters the key hashes into, 0 for a
    never-seen key (absent buckets coalesce to 0 via the left join).
    ``depth``/``width``/``tag``/``seed`` must match the sketch's. The
    sketch side is #groups x depth x width rows — broadcast-sized for
    any sane configuration, so the lookup is a map-side join."""
    probes = F.array(
        *[
            F.pmod(
                portable_hash(f"{tag}:{i}", seed, F.col(value_col)),
                F.lit(width),
            )
            for i in range(depth)
        ]
    )
    probed = keys.select(
        *keys.columns, F.posexplode(probes).alias("row", "bucket")
    )
    joined = probed.join(
        F.broadcast(sketch), on=[*group_cols, "row", "bucket"], how="left"
    )
    return (
        joined.groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def bloom_build(
    df: DataFrame,
    value: Column | str,
    n_bits: int = 4096,
    n_hashes: int = 5,
    tag: str = "bloom",
    seed: int = 42,
) -> DataFrame:
    """(bit) — Bloom filter (Bloom, CACM 1970) of the value set as a
    relation of distinct set bit positions: each value sets ``n_hashes``
    bits from the md5 hash family (hash row ``i`` tags ``'{tag}:{i}'``,
    the cms_sketch convention). At most ``n_bits`` rows regardless of
    input size — broadcast-sized for any sane configuration — and the
    merge is a set union: commutative, associative, idempotent, so
    shards build independently and union, and a streaming fold
    converges to the batch filter under any arrival order.

    Scale shape (100 TB): one explode to n_hashes tiny rows per input
    row + ONE distinct (map-side combinable agg); the finished filter
    broadcast-joins probes — the explicit form of the runtime bloom
    pruning Spark injects for joins, available here as a first-class
    relation you can persist, ship, or diff (e.g. a benchmark-set
    filter for decontamination pre-passes)."""
    v = F.col(value) if isinstance(value, str) else value
    bits = F.array(
        *[
            F.pmod(portable_hash(f"{tag}:{i}", seed, v), F.lit(n_bits))
            for i in range(n_hashes)
        ]
    )
    return (
        df.select(F.explode(bits).alias("bit"))
        .distinct()
    )


def bloom_probe(
    bloom_bits: DataFrame,
    keys: DataFrame,
    value_col: str,
    n_bits: int = 4096,
    n_hashes: int = 5,
    tag: str = "bloom",
    seed: int = 42,
    out_col: str = "maybe_member",
) -> DataFrame:
    """keys + (out_col): Bloom membership verdict per key row — true iff
    ALL ``n_hashes`` probe bits are set. No false negatives ever (a
    present value's bits were all set at build time); false positives at
    the standard (1 - e^(-kn/m))^k rate. Parameters must match the
    build's. The filter side broadcasts, so the probe is a map-side
    join followed by one counting aggregation."""
    probes = F.explode(
        F.array(
            *[
                F.pmod(
                    portable_hash(f"{tag}:{i}", seed, F.col(value_col)),
                    F.lit(n_bits),
                )
                for i in range(n_hashes)
            ]
        )
    ).alias("bit")
    probed = keys.select(*keys.columns, probes)
    hit = F.when(F.col("found"), 1).otherwise(0)
    joined = probed.join(
        F.broadcast(bloom_bits.withColumn("found", F.lit(True))),
        on="bit",
        how="left",
    )
    return (
        joined.groupBy(*keys.columns)
        .agg(
            (F.sum(F.coalesce(hit, F.lit(0))) == F.lit(n_hashes)).alias(out_col)
        )
    )


def stream_hll_distinct(
    spark,
    source_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    checkpoint_dir: str,
    query_name: str = "hll_stream",
    tag: str = "hll",
    seed: int = 42,
):
    """Streaming twin of ``hll_distinct`` over a parquet file source:
    incremental per-group register maxes in ``complete`` output mode.
    Correct under ANY arrival order and ANY batch split because the HLL
    merge is a max — commutative, associative, idempotent — so the
    streaming state converges to exactly the batch sketch (and a
    checkpointed restart over new files keeps folding in, the reference's
    resumable-scan determinism, `src/webgraph.c:504-550`). Returns the
    StreamingQuery (availableNow trigger; caller awaits/stops)."""
    schema = spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    est = _merged_estimate(
        hll_registers(stream, group_cols, value_col, tag, seed),
        group_cols,
        "approx_distinct",
    )
    return (
        est.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
