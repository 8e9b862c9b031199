"""Entry-point contract (PySpark target): entry / queries / oracle_sql.

``entry(spark)`` — flagship: PageRank to 1e-6 convergence on the part
co-purchase graph derived from sf0.001 (the BASELINE.json metric's query
shape: iterative PageRank over a derived edge table).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators, each checked
against its DuckDB oracle; both are read from the registry in
``paragrapher_spark/queries/``, where every query sits next to its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.queries import oracle_sql, queries  # noqa: F401
from paragrapher_spark.sources.edges import copurchase_edges


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    edges = copurchase_edges(spark, "/root/testdata/sf0.001")
    res = pagerank(edges, tol=1e-6, max_iter=50)
    return res.ranks.select("id", "rank")
