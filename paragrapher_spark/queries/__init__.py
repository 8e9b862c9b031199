"""The query registry: every gated query next to its DuckDB oracle.

A family module registers each query once with ``@query(name, oracle=...)``;
``queries()`` and ``oracle_sql()`` both read that one registry. Graph queries
run over the derived edge tables of sources/edges.py, so every oracle stays
ANSI SQL. Iterative kernels are gated by unrolled CTEs: R rounds of plain SQL
reach the state of the Spark superstep loop, and extra rounds are exact
because each update is idempotent at its fixpoint (the DuckDB analogue of the
reference's invariant asserts, `test/test1_deg_dist_WG400.c:230`).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, Query] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str) -> Callable[[Query], Query]:
    """Register the decorated ``fn(spark, sf_dir)`` as ``name``, gated by the
    DuckDB ``oracle`` SQL."""
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    if not (oracle and oracle.strip()):
        raise ValueError(f"query {name!r} needs a non-empty oracle")

    def register(fn: Query) -> Query:
        _QUERIES[name], _ORACLES[name] = fn, oracle
        return fn

    return register


def queries() -> dict[str, Query]:
    """The full registry in family order (see the imports below)."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


#: The one session whose substrates ``_substrate`` holds, and those
#: substrates by key.
_SUBSTRATE_CACHE: dict = {"spark": None, "values": {}}


def _substrate(spark: SparkSession, key, build: Callable[[], object]):
    """``build()``'s value, built once per (session, key) and shared.

    Query families that consume one deterministic, pinned substrate (the
    import-graph SCC, the sampled-BFS levels, the extracted call graph)
    read it through here, so it is computed once per session. Reuse is
    bit-identical to recomputation, so every consumer stays oracle-gated
    end to end. Only the latest session's entries are kept: a call with
    a different session object drops all others, so a stopped session and
    its pinned frames are not held for the life of the process."""
    cache = _SUBSTRATE_CACHE
    if cache["spark"] is not spark:
        cache["spark"], cache["values"] = spark, {}
    values = cache["values"]
    if key not in values:
        values[key] = build()
    return values[key]


# registration order = import order; each family only imports from earlier ones
from paragrapher_spark.queries import centrality, code, graph  # noqa: E402, F401
from paragrapher_spark.queries import community, corpus, retrieval  # noqa: E402, F401
from paragrapher_spark.queries import events, storage  # noqa: E402, F401
