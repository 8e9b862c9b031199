"""The engine-portable hash every seeded choice is made with.

Every sampled, salted, bucketed or prioritised row in the engine draws
from ONE hash: the first 15 hex chars of the md5 of its utf-8 key, read
base-16 as a 60-bit integer. It is not xxhash64 (which only Spark
computes): md5 hashes the same bytes identically everywhere, so a DuckDB
oracle regenerates the exact value with
``('0x' || substr(md5(key), 1, 15))::BIGINT`` and a Python replay with
``int(hashlib.md5(key.encode()).hexdigest()[:15], 16)``. That is what
keeps the seeded kernels and operators under a bit-exact oracle gate.

Seeded callers key it as ``tag:seed:col:col...`` (``portable_hash``);
the DuckDB twin is
``('0x' || substr(md5(concat_ws(':', tag, seed, cols...)), 1, 15))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["md5_60", "portable_hash"]


def md5_60(col: Column) -> Column:
    """First 15 md5 hex chars of ``col`` (a string) as a 60-bit long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash(tag: str, seed: int, *cols: str | Column) -> Column:
    """``md5_60`` of ``tag:seed:col:col...``; each column is given by name
    or as a ``Column`` and is cast to string."""
    return md5_60(
        F.concat_ws(
            ":",
            F.lit(tag),
            F.lit(str(seed)),
            *[(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols],
        )
    )
