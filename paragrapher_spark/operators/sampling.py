"""Deterministic hash-based sampling: Bernoulli, stratified, and splits.

The training-data pipeline needs sampling that is (a) reproducible across
runs, engines, and cluster sizes, (b) map-only at 100 TB, and (c) nested —
growing the rate keeps every previously sampled row. All three fall out of
threshold sampling on a content-addressed hash: a row is kept iff

    h(tag:seed:key) < fraction * 2^60

with ``h`` the engine-portable 60-bit md5 prefix used across this repo
(`functions/hashing.py:portable_hash` — first 15 md5 hex chars parsed
base-16, reproducible verbatim in DuckDB, the family that replaced
Spark-only xxhash64). This is the same determinism discipline as the
reference's resumable readers: re-running any block yields byte-identical
decisions (`test/test4_bin_converter_WG400.c:25-63` positioned idempotent
writes), so a retried Spark task cannot flip a sampling decision.

Scale shape (100 TB): every operator here is a pure JVM Column expression
— no shuffle, no UDF, no state; the filter sits directly above the scan
inside whole-stage codegen, and sampled fractions of column-pruned scans
are the cheapest query class in the engine. `mod`-free comparison against
a precomputed integer threshold keeps the hot path to one md5 + one
compare per row.

Sample-rate calibration: with the md5 prefix behaving uniformly on
[0, 2^60), kept counts are Binomial(n, fraction) — tests bound the
deviation at 5 sigma, and exactness is pinned separately by the DuckDB
oracle reproducing every decision bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash

HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS


def threshold_for(fraction: float) -> int:
    """The exact integer threshold a fraction maps to. Computed ONCE on
    the driver so the Spark filter and any SQL oracle compare against the
    SAME literal — no float arithmetic in the per-row path."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return min(int(fraction * HASH_SPACE), HASH_SPACE)


def sample_hash(
    df: DataFrame,
    fraction: float,
    key_cols: Sequence[str],
    tag: str = "sample",
    seed: int = 42,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key-hash falls
    below ``fraction`` of the hash space. Nested: the ``fraction=0.1``
    sample is a strict subset of the ``fraction=0.2`` sample (same tag,
    seed, and keys), so sample rates can be grown without resampling."""
    thr = F.lit(threshold_for(fraction))
    return df.where(portable_hash(tag, seed, *key_cols) < thr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_cols: Sequence[str],
    default_fraction: float = 0.0,
    tag: str = "strat",
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sample: each stratum value gets its own
    keep-fraction (unlisted strata fall back to ``default_fraction``).
    The per-stratum threshold is a broadcast-free CASE chain — strata
    maps are pipeline config (a handful of languages/sources), never
    data-sized."""
    thr: Column = F.lit(threshold_for(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(threshold_for(frac))
        ).otherwise(thr)
    return df.where(portable_hash(tag, seed, *key_cols) < thr)


def assign_splits(
    df: DataFrame,
    weights: Mapping[str, float],
    key_cols: Sequence[str],
    split_col: str = "split",
    tag: str = "split",
    seed: int = 42,
) -> DataFrame:
    """Disjoint, exhaustive train/val/test-style split assignment: the
    hash space is cut at the cumulative weight boundaries (weights are
    normalized), and each row gets the name of its slice in
    ``split_col``. Every row lands in exactly one split, decisions are
    independent of partitioning and cluster size, and adding rows never
    moves existing ones between splits."""
    if not weights:
        raise ValueError("weights must name at least one split")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-negative with a positive sum: {weights}")
    total = float(sum(weights.values()))
    names = list(weights)  # insertion order defines the slice order
    bounds: list[int] = []
    acc = 0.0
    for name in names:
        acc += weights[name] / total
        bounds.append(threshold_for(min(acc, 1.0)))
    bounds[-1] = HASH_SPACE  # the last slice absorbs float round-off
    # nested whens ascending: the first (smallest) bound that covers the
    # hash wins, the last slice is the unconditional fallback
    h = portable_hash(tag, seed, *key_cols)
    expr: Column = F.lit(names[-1])
    for name, hi in reversed(list(zip(names[:-1], bounds[:-1]))):
        expr = F.when(h < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_by_hash(
    df: DataFrame,
    weights: Mapping[str, float],
    key_cols: Sequence[str],
    tag: str = "split",
    seed: int = 42,
) -> dict[str, DataFrame]:
    """``assign_splits`` materialized as one filtered DataFrame per split
    name (each a plain pushdown-friendly filter over the same scan)."""
    tagged = assign_splits(df, weights, key_cols, tag=tag, seed=seed)
    return {name: tagged.where(F.col("split") == name).drop("split") for name in weights}
