from paragrapher_spark.functions.extract import IMPORT_PATTERNS, extract_import_keys
from paragrapher_spark.functions.hashing import md5_60, portable_hash
from paragrapher_spark.functions.stats import group_quantiles
from paragrapher_spark.functions.text import (
    cooccurrence_counts,
    detect_language,
    fingerprint,
    gopher_rules,
    text_stats,
    top_terms,
)

__all__ = [
    "extract_import_keys",
    "IMPORT_PATTERNS",
    "group_quantiles",
    "md5_60",
    "portable_hash",
    "cooccurrence_counts",
    "detect_language",
    "fingerprint",
    "gopher_rules",
    "text_stats",
    "top_terms",
]
