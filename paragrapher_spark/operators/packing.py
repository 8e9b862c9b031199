"""Deterministic sequence packing: group documents into token-budget packs.

Pre-training pipelines concatenate documents into fixed-size context
windows ("sequence packing"). At 100 TB the assignment must be (a)
deterministic across runs and cluster sizes, (b) shuffle-light, and (c)
free of any global sequential scan. This operator packs GREEDILY BY
RUNNING TOTAL within deterministic hash buckets:

    bucket  = md5-hash(doc_id) % n_buckets          (pure function of the row)
    order   = (doc_id) ascending within the bucket  (deterministic)
    pack_id = floor(running_token_total_before_doc / budget)

A pack is a contiguous run of the bucket's doc_id order whose cumulative
token count first crosses the budget — the classic streaming next-fit
heuristic (each pack overflows by at most one document's tail, the
standard practical trade against bin-packing optimality; Krell et al.,
"Efficient sequence packing without cross-contamination", 2021 describe
the same family). Every output column is an exact integer, so a DuckDB
oracle reproduces the entire assignment bit-for-bit.

Scale shape (100 TB): ONE shuffle (hash partition by bucket) + ONE
window cumulative sum per bucket. The window's partition is a bucket —
size |docs|/n_buckets, chosen so a bucket's rows fit a task comfortably;
no global ordering, no driver state. Packing quality is statistical
(buckets are hash-uniform), which is exactly how production packers
shard this problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash
from paragrapher_spark.functions.text import token_count


def pack_documents(
    docs: DataFrame,
    budget_tokens: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    tag: str = "pack",
    seed: int = 42,
) -> DataFrame:
    """(id, bucket, n_tokens, tokens_before, pack_id): next-fit packing of
    whitespace-token counts into ``budget_tokens`` packs within
    ``n_buckets`` deterministic hash buckets. ``tokens_before`` is the
    bucket's running total before this doc — pack boundaries are exactly
    where it crosses a budget multiple."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    h = portable_hash(tag, seed, id_col)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            F.col(id_col),
            F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"),
            token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .withColumn(
            "pack_id",
            F.expr(f"tokens_before div {int(budget_tokens)}").cast("long"),
        )
    )


def pack_stats(packed: DataFrame, budget_tokens: int) -> DataFrame:
    """(bucket, pack_id, docs, tokens, fill): per-pack fill statistics of a
    ``pack_documents`` result — exact longs + ONE IEEE division; feed to a
    histogram to audit packing efficiency at any scale."""
    return (
        packed.groupBy("bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
        )
        .withColumn(
            "fill",
            F.col("tokens").cast("double") / F.lit(float(budget_tokens)),
        )
    )
