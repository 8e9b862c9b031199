from paragrapher_spark.operators.asof import asof_join, range_join
from paragrapher_spark.operators.indexing import dense_ids, prefix_sum
from paragrapher_spark.operators.packing import pack_documents, pack_stats
from paragrapher_spark.operators.sampling import (
    assign_splits,
    sample_hash,
    split_by_hash,
    stratified_sample,
)

__all__ = [
    "asof_join",
    "range_join",
    "dense_ids",
    "prefix_sum",
    "sample_hash",
    "stratified_sample",
    "assign_splits",
    "split_by_hash",
    "pack_documents",
    "pack_stats",
]
