"""On-disk format and layout queries: codec round-trips, table time travel,
MERGE and diff, z-order, gap bits, bucketed joins and skew reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import md5_60
from paragrapher_spark.graph import Graph
from paragrapher_spark.queries import query
from paragrapher_spark.sources.edges import (
    COPURCHASE_EDGES_SQL,
    copurchase_edges,
    load_table,
)


# Arithmetic graph fixture (SQL-reproducible): deg(i) = (i % 7) + 37 hub
# boost every 97th vertex; dst(i,j) = (i*53 + j*j*19 + 11) % N, dedup'd.
_WG_FIXTURE_N = 1200


def _format_fixture_edges(spark: SparkSession) -> DataFrame:
    n = _WG_FIXTURE_N
    return (
        spark.range(n)
        .select(
            F.col("id").alias("src"),
            (
                (F.col("id") % 7)
                + F.when(F.col("id") % 97 == 0, F.lit(37)).otherwise(F.lit(0))
            ).alias("deg"),
        )
        .where(F.col("deg") > 0)
        .select(
            "src", F.explode(F.sequence(F.lit(1), F.col("deg"))).alias("j")
        )
        .select(
            "src",
            (
                (F.col("src") * 53 + F.col("j") * F.col("j") * 19 + 11)
                % F.lit(_WG_FIXTURE_N)
            ).alias("dst"),
        )
        .distinct()
    )


_FORMAT_FIXTURE_SQL = f"""
    SELECT DISTINCT CAST(i AS BIGINT) AS src,
           CAST((i * 53 + j * j * 19 + 11) % {_WG_FIXTURE_N} AS BIGINT) AS dst
    FROM (
        SELECT i,
               unnest(range(1, ((i % 7)
                   + CASE WHEN i % 97 = 0 THEN 37 ELSE 0 END) + 1)) AS j
        FROM range(0, {_WG_FIXTURE_N}) t(i)
    )
"""


def _format_fixture_graph(spark: SparkSession) -> Graph:
    edges = _format_fixture_edges(spark).withColumn(
        "weight", F.lit(1).cast("long")
    )
    m = edges.count()
    verts = spark.range(_WG_FIXTURE_N).select(
        "id",
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
    )
    return Graph(
        vertices=verts, edges=edges, num_vertices=_WG_FIXTURE_N, num_edges=m
    )


# on-disk format roundtrips: BOTH codecs must reproduce the
# arithmetically-regenerated fixture edge set bit-for-bit
@query("webgraph_roundtrip", oracle=_FORMAT_FIXTURE_SQL)
def _q_webgraph_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual input format end-to-end: encode the fixture
    graph as a BVGraph (`.graph`/`.offsets`/`.properties`, published
    Boldi–Vigna codes — `src/webgraph.c:84-390` decodes the same streams),
    then decode it back distributed (random-access via the offsets
    stream). The oracle regenerates the edge set arithmetically, so every
    bit of the codec sits under the gate."""
    import os
    import tempfile

    from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

    g = _format_fixture_graph(spark)
    base = os.path.join(
        tempfile.gettempdir(), f"pg_webgraph_fixture_{_WG_FIXTURE_N}"
    )
    write_webgraph(g, base, num_partitions=8)
    back = read_webgraph(spark, base, num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


@query("binary_csr_roundtrip", oracle=_FORMAT_FIXTURE_SQL)
def _q_binary_csr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test4's uncompressed binary CSR interchange file end-to-end:
    positioned parallel writes (`test/test4_bin_converter_WG400.c:25-63`
    layout), then the edge-balanced distributed reader. Same arithmetic
    oracle as the BVGraph roundtrip — a different IO path must yield the
    identical edge set."""
    import os
    import tempfile

    from paragrapher_spark.sources.binary import (
        read_binary_csr,
        write_binary_csr,
    )

    g = _format_fixture_graph(spark)
    path = os.path.join(
        tempfile.gettempdir(), f"pg_bincsr_fixture_{_WG_FIXTURE_N}.bin"
    )
    write_binary_csr(g, path, fmt="bin", num_partitions=8)
    back = read_binary_csr(spark, path, fmt="bin", num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


_JSONL_ROUNDTRIP_SQL = """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(('0x' || substr(md5(concat_ws(':',
               CAST(doc_id AS VARCHAR), lang, text)), 1, 15))::BIGINT
               % 4294967296) AS BIGINT) AS content_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
"""


@query("jsonl_roundtrip", oracle=_JSONL_ROUNDTRIP_SQL)
def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus interchange (sources/sinks.py write_jsonl/read_jsonl
    — the format LLM pipelines exchange corpora in): the documents table
    roundtrips through JSON Lines and comes back with per-lang doc
    counts, an md5 content digest over (doc_id, lang, text), and total
    chars; the oracle computes the same digests straight from parquet,
    so any write/read lossiness (escaping, unicode, empty strings)
    hash-mismatches."""
    import hashlib
    import os
    import tempfile

    from paragrapher_spark.sources.sinks import read_jsonl, write_jsonl

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_jsonl_docs_{tag}")
    write_jsonl(docs, path, num_files=8)
    back = read_jsonl(spark, path)
    h = md5_60(F.concat_ws(":", F.col("doc_id").cast("string"), "lang", "text"))
    # fold each 60-bit hash to 32 bits before summing: the digest sum
    # stays a valid long to ~2^31 docs per group (the raw sum overflows
    # at ~8 rows)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.pmod(h, F.lit(2**32))).cast("long").alias("content_digest"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


@query("matrix_market_roundtrip", oracle=_FORMAT_FIXTURE_SQL)
def _q_matrix_market_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatrixMarket coordinate COO end-to-end — the graph kind the
    reference DECLARED (`PARAGRAPHER_COO_MM_400_SS`/`_404_SS`,
    `include/paragrapher.h:28-29`) but left commented out
    (`src/paragrapher.c:56-57`). Distributed write (global (section,row,
    col) sort key, part-concat = file), distributed read (loud-malformed-
    input). Same arithmetic oracle as the other format roundtrips — a
    third IO path must yield the identical edge set."""
    import os
    import tempfile

    from paragrapher_spark.sources.sinks import (
        read_matrix_market,
        write_matrix_market,
    )

    g = _format_fixture_graph(spark)
    path = os.path.join(
        tempfile.gettempdir(), f"pg_mtx_fixture_{_WG_FIXTURE_N}.mtx"
    )
    write_matrix_market(g, path, weight_col="weight", num_partitions=8)
    back = read_matrix_market(spark, path)
    return back.edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    )


@query("webgraph_weighted_roundtrip", oracle=f"""
            SELECT src, dst, (src + dst) % 9 + 1 AS weight
            FROM ({_FORMAT_FIXTURE_SQL})
        """)
def _q_webgraph_weighted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc-labelled BVGraph (the reference's WG404 graph type: labels in
    `.labels`/`.labeloffsets`, `src/webgraph.c:115-122,297-334`): the
    fixture edges carry weight (src + dst) % 9 + 1, written with_labels
    and decoded back as the weight column."""
    import os
    import tempfile

    from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

    g = _format_fixture_graph(spark)
    weighted = Graph(
        vertices=g.vertices,
        edges=g.edges.withColumn(
            "weight", ((F.col("src") + F.col("dst")) % 9 + 1).cast("long")
        ),
        num_vertices=g.num_vertices,
        num_edges=g.num_edges,
    )
    base = os.path.join(
        tempfile.gettempdir(), f"pg_webgraph_wfixture_{_WG_FIXTURE_N}"
    )
    write_webgraph(weighted, base, num_partitions=8, with_labels=True)
    back = read_webgraph(spark, base, num_partitions=8)
    return back.edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("weight").cast("long"),
    )


_ZORDER_BITS = 21
_ZORDER_TILE_SHIFT = 30  # 42-bit z >> 30 = 4096 quad tiles of 2^15 x 2^15


def _zorder_tiles_sql() -> str:
    from paragrapher_spark.operators.layout import zvalue_sql

    zx = zvalue_sql("src", "dst", _ZORDER_BITS)
    return f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL})
    SELECT src, dst,
           CAST({zx} AS BIGINT) AS zval,
           CAST(({zx} >> {_ZORDER_TILE_SHIFT}) AS BIGINT) AS tile
    FROM edges
    WHERE (src + dst) % 17 = 0
    """


@query("zorder_tiles", oracle=_zorder_tiles_sql())
def _q_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values (operators/layout.py — the Delta/Iceberg ZORDER
    BY technique; the relational image of WebGraph's locality-preserving
    vertex orders) for a deterministic sample of co-purchase edges: the
    exact interleaved-bit value plus its quad-tile id, the unit
    `write_zordered` clusters files by so subgraph reads prune on BOTH
    endpoints. Pure JVM shift/mask/or tree, replayed bit for bit by the
    oracle."""
    from paragrapher_spark.operators.layout import zvalue

    edges = copurchase_edges(spark, sf_dir)
    sample = edges.where((F.col("src") + F.col("dst")) % 17 == 0)
    z = zvalue(F.col("src"), F.col("dst"), _ZORDER_BITS)
    return sample.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        z.alias("zval"),
        F.shiftright(z, _ZORDER_TILE_SHIFT).cast("long").alias("tile"),
    )


_SKEW_NPART = 32
_SKEW_TOPK = 15


_VC_P = 8
_VC_SEED = 42


def _vertex_cut_report_sql() -> str:
    p, seed = _VC_P, _VC_SEED
    h = (
        "(('0x' || substr(md5('vc:" + str(seed) + ":' || CAST({v} AS VARCHAR)), 1, 15))::BIGINT)"
    )
    return f"""
    WITH edges AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    g2 AS MATERIALIZED (
        SELECT src, dst,
               ({h.format(v='src')} % {p}) * {p} + ({h.format(v='dst')} % {p}) AS block
        FROM edges
    ),
    g1 AS MATERIALIZED (
        SELECT src, dst, {h.format(v='src')} % {p * p} AS block FROM edges
    ),
    vb2 AS (SELECT DISTINCT v, block FROM (
        SELECT src AS v, block FROM g2 UNION ALL SELECT dst, block FROM g2)),
    vb1 AS (SELECT DISTINCT v, block FROM (
        SELECT src AS v, block FROM g1 UNION ALL SELECT dst, block FROM g1)),
    r2 AS (SELECT v, CAST(count(*) AS BIGINT) AS r FROM vb2 GROUP BY v),
    r1 AS (SELECT v, CAST(count(*) AS BIGINT) AS r FROM vb1 GROUP BY v),
    pb2 AS (SELECT block, CAST(count(*) AS BIGINT) AS c FROM g2 GROUP BY block),
    pb1 AS (SELECT block, CAST(count(*) AS BIGINT) AS c FROM g1 GROUP BY block)
    SELECT 'grid2d' AS scheme, CAST({p * p} AS BIGINT) AS n_blocks,
           CAST((SELECT count(*) FROM r2) AS BIGINT) AS n_vertices,
           CAST((SELECT SUM(r) FROM r2) AS BIGINT) AS sum_replicas,
           (SELECT MAX(r) FROM r2) AS max_replication,
           (SELECT MAX(c) FROM pb2) AS max_block_edges
    UNION ALL
    SELECT 'hash1d_src', CAST({p * p} AS BIGINT),
           CAST((SELECT count(*) FROM r1) AS BIGINT),
           CAST((SELECT SUM(r) FROM r1) AS BIGINT),
           (SELECT MAX(r) FROM r1),
           (SELECT MAX(c) FROM pb1)
    """


@query("vertex_cut_report", oracle=_vertex_cut_report_sql())
def _q_vertex_cut_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D-grid vertex-cut vs 1D hash-by-src on the co-purchase graph
    (operators/salting.py grid_partition / vertex_cut_report): exact
    replication and block-balance metrics for the same 64-block budget.
    The grid bounds every vertex's replication at 2p-1 = 15 blocks
    regardless of degree (PowerGraph's power-law answer); 1D hash leaves
    hub dst-replication proportional to degree. Oracle: the md5 grid
    assignment is the engine-portable hash family, replayed verbatim in
    SQL."""
    from paragrapher_spark.operators.salting import vertex_cut_report

    edges = copurchase_edges(spark, sf_dir)
    return vertex_cut_report(edges, _VC_P, seed=_VC_SEED)


_BUCKETED_JOIN_SQL = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
"""


@query("bucketed_join", oracle=_BUCKETED_JOIN_SQL)
def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via persistent bucketing
    (operators/layout.py write_bucketed — Spark's bucketBy, the
    pay-the-shuffle-once layout every nightly fact-to-fact join at
    100 TB wants): orders and customer land as external tables bucketed
    8-ways on custkey, the join plans with zero Exchange below it
    (plan-pinned in tests/test_layout.py), and the per-market-segment
    rollup gates in exact cents against a plain relational oracle —
    layout changes the plan, never the answer."""
    import hashlib
    import os
    import tempfile

    from paragrapher_spark.operators.layout import read_bucketed, write_bucketed

    tag = hashlib.md5((sf_dir + ":bkt").encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"pg_bucketed_{tag}")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    write_bucketed(
        orders, f"pg_orders_b_{tag}", ["custkey"], 8,
        os.path.join(base, "orders"), sort_cols=["custkey"],
    )
    write_bucketed(
        cust, f"pg_cust_b_{tag}", ["custkey"], 8,
        os.path.join(base, "cust"), sort_cols=["custkey"],
    )
    return (
        read_bucketed(spark, f"pg_orders_b_{tag}")
        .join(read_bucketed(spark, f"pg_cust_b_{tag}"), on="custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


def _join_skew_report_sql() -> str:
    return f"""
    WITH edges AS ({COPURCHASE_EDGES_SQL}),
    cnts AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS cnt FROM edges GROUP BY src
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(SUM(cnt) AS BIGINT) // {_SKEW_NPART}) AS fair_share
        FROM cnts
    )
    SELECT c.src, c.cnt,
           CAST((1000 * c.cnt) // t.total AS BIGINT) AS share_fp,
           t.fair_share,
           CAST(CASE WHEN c.cnt > 2 * t.fair_share
                     THEN (c.cnt + t.fair_share - 1) // t.fair_share
                     ELSE 0 END AS BIGINT) AS rec_salts
    FROM cnts c CROSS JOIN tot t
    ORDER BY c.cnt DESC, c.src
    LIMIT {_SKEW_TOPK}
    """


@query("join_skew_report", oracle=_join_skew_report_sql())
def _q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew diagnostic (operators/salting.py skew_report): the 15
    heaviest src keys of the co-purchase edge table with milli-share,
    even-partitioning fair share at 32 partitions, and the number of
    fair-share sub-keys each would split into — skew measured as a
    first-class query, before it becomes a straggler. All exact
    integers."""
    from paragrapher_spark.operators.salting import skew_report

    edges = copurchase_edges(spark, sf_dir)
    return skew_report(edges, "src", n_partitions=_SKEW_NPART, k=_SKEW_TOPK).select(
        F.col("src").cast("long"),
        "cnt",
        "share_fp",
        "fair_share",
        "rec_salts",
    )


def _gap_bits_orders_sql() -> str:
    def gamma(x: str) -> str:
        return f"(2*(length(bin(CAST({x} AS BIGINT)))-1)+1)"

    first = "(CASE WHEN dst >= src THEN 2*(dst-src) ELSE -2*(dst-src)-1 END + 1)"

    def cost_cte(src_rel: str, name: str) -> str:
        return f"""{name}b AS (
        SELECT src,
               CASE WHEN prevd IS NULL THEN {gamma(first)}
                    ELSE {gamma('dst - prevd')} END AS bits
        FROM (SELECT src, dst,
                     lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prevd
              FROM {src_rel})
    ),
    {name}row AS (
        SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_lists,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               CAST((1000 * SUM(bits)) // COUNT(*) AS BIGINT) AS bits_per_edge_fp
        FROM {name}b
    )"""

    return f"""
    WITH e0 AS MATERIALIZED ({COPURCHASE_EDGES_SQL}),
    ded AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (SELECT src AS id FROM ded UNION ALL SELECT dst AS id FROM ded)
        GROUP BY id
    ),
    vmap AS MATERIALIZED (
        SELECT id, row_number() OVER (ORDER BY degree DESC, id) - 1 AS new_id
        FROM deg
    ),
    rel AS MATERIALIZED (
        SELECT ms.new_id AS src, md.new_id AS dst
        FROM ded e JOIN vmap ms ON ms.id = e.src JOIN vmap md ON md.id = e.dst
    ),
    {cost_cte('ded', 'nat')},
    {cost_cte('rel', 'dg')}
    SELECT 'natural' AS ordering, * FROM natrow
    UNION ALL
    SELECT 'degree' AS ordering, * FROM dgrow
    """


@query("gap_bits_orders", oracle=_gap_bits_orders_sql())
def _q_gap_bits_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BVGraph-style compression analytic (operators/layout.py): the
    Elias-gamma gap-encoding cost of every adjacency list under the
    natural labeling vs the relabel_by_degree renumbering — two exact
    integer rows answering 'what would the WebGraph-family reorder buy'
    (Boldi-Vigna WWW'04 gap coding; the reference's BVGraph substrate
    consumes graphs in such orders). Bit lengths via base-2 string
    length — never float log2."""
    from paragrapher_spark.operators.layout import (
        adjacency_gap_bits,
        relabel_by_degree,
        relabel_edges,
    )

    edges = (
        copurchase_edges(spark, sf_dir)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nat = adjacency_gap_bits(edges, "natural")
    rel = relabel_edges(edges, relabel_by_degree(edges))
    return nat.unionByName(adjacency_gap_bits(rel, "degree"))


_TABLE_TIME_TRAVEL_SQL = """
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id % 10 <> 3
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT), CAST(SUM(length(text)) AS BIGINT)
    FROM documents
"""


@query("table_time_travel", oracle=_TABLE_TIME_TRAVEL_SQL)
def _q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table time travel (sources/table_format.py — the Iceberg
    contract from scratch: manifest snapshots, atomic pointer commits,
    O(1) planning without directory listings): the documents table lands
    as v1 (doc_id % 10 != 3) then an append brings the rest; BOTH
    versions are read back — v1 via time travel AFTER the append — and
    digested. The oracle derives the same two membership sets straight
    from parquet, so a time-travel read that leaks or loses rows
    hash-mismatches."""
    import hashlib
    import os
    import shutil
    import tempfile

    from paragrapher_spark.sources.table_format import read_table, write_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_snap_docs_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_table(
        docs.where(F.col("doc_id") % 10 != 3), path,
        stat_cols=["doc_id"], num_files=4,
    )
    write_table(
        docs.where(F.col("doc_id") % 10 == 3), path,
        stat_cols=["doc_id"], num_files=2,
    )
    out = None
    for v in (1, 2):
        digest = read_table(spark, path, version=v).agg(
            F.lit(v).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_digest"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        out = digest if out is None else out.unionByName(digest)
    return out


_MERGE_UPSERT_SQL = """
    WITH upd AS (
        SELECT doc_id, text || ' rev2' AS text FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1000000000, 'ghost doc' FROM documents WHERE doc_id % 31 = 0
    ),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM upd)
    )
    SELECT 'pre_merge' AS snapshot, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_digest,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 'post_merge', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT), CAST(SUM(length(text)) AS BIGINT)
    FROM merged
"""


@query("merge_upsert", oracle=_MERGE_UPSERT_SQL)
def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the snapshot table
    (sources/table_format.py merge_table — the Iceberg MERGE INTO
    contract): documents commit as the base snapshot, an upsert batch
    revises doc_id % 7 == 0 (text + ' rev2') and inserts doc_id +
    10^9 ghost docs for doc_id % 31 == 0, only matched files rewrite.
    Read back = per-bucket doc counts and exact digests; the oracle
    computes the same merge relationally, so a leaked old version of an
    updated key or a lost carried file breaks the row-count/digest
    exactly. v1 is ALSO re-read post-merge (time travel across a merge)
    and digested alongside."""
    import hashlib
    import os
    import shutil
    import tempfile

    from paragrapher_spark.sources.table_format import (
        merge_table,
        read_table,
        write_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5((sf_dir + ":merge").encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pg_merge_docs_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    write_table(docs, path, stat_cols=["doc_id"], num_files=8)
    updates = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.concat(F.col("text"), F.lit(" rev2")).alias("text"))
        .unionByName(
            docs.where(F.col("doc_id") % 31 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                F.lit("ghost doc").alias("text"),
            )
        )
    )
    merge_table(updates, path, ["doc_id"], stat_cols=["doc_id"], num_files=4)
    digests = []
    for version, label in ((1, "pre_merge"), (2, "post_merge")):
        digests.append(
            read_table(spark, path, version=version).agg(
                F.lit(label).alias("snapshot"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_digest"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
            )
        )
    return digests[0].unionByName(digests[1])


_CORPUS_DIFF_SQL = """
    WITH v1 AS (
        SELECT doc_id AS id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 3
    ),
    v2 AS (
        SELECT doc_id AS id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END) AS h
        FROM documents
    ),
    d AS (
        SELECT COALESCE(v1.id, v2.id) AS id,
               CASE WHEN v1.id IS NULL THEN 'added'
                    WHEN v2.id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v2.id = v1.id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(id) AS BIGINT) AS id_digest
    FROM d GROUP BY status
"""


@query("corpus_diff", oracle=_CORPUS_DIFF_SQL)
def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/dedup.py corpus_diff): two corpus
    versions derived deterministically from the documents table (v1
    misses doc_id % 10 == 3; v2 revises text of doc_id % 7 == 0),
    diffed by content md5 in one skinny full-outer join — per-status
    doc counts and exact id-sum digests, the added+changed set being
    what an incremental pipeline reprocesses."""
    from paragrapher_spark.operators.dedup import corpus_diff

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 10 != 3)
    v2 = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        corpus_diff(v1, v2)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("id").cast("long").alias("id_digest"),
        )
    )
