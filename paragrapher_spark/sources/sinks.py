"""Graph materialization sinks — the reference's converter clients.

The reference's test3..test8 decompress a WebGraph and materialize it as:
Graptor `.g3`/`.sg` binary CSR (`test/test3_converter_WG400.c:164-198`),
textual COO `.el` and adjacency `.adj` (test3:277-312), binary CSR with
positioned idempotent writes (`test/test4_bin_converter_WG400.c:25-63`),
u64->u32 narrowed ids (`test/test5_bin_converter_WG800.c:33-40`), and
weighted (dest,weight) pairs (`test/test6_bin_converter_WG404.c`).

Spark-native equivalents: sorted columnar parquet is the binary CSR (the
sort + parquet row-group min/max stats give the offsets' random-access
role); text writers give the GAPBS-compatible shapes. A `_meta.json`
sidecar carries |V|/|E| — the `.properties` analogue
(`src/webgraph.c:376-387`). Task-level idempotence (the positioned-write
trick of test4) is Spark's write-commit protocol — retried tasks replace
their own output files atomically.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.graph import Graph


def write_csr(graph: Graph, path: str, num_partitions: int | None = None) -> None:
    """Materialize edges sorted by (src, dst) + an offsets table + metadata.

    The edge parquet is range-partitioned on src and sorted within
    partitions — parquet min/max column stats then give per-file vertex
    ranges, so a later `scan_edges(lo, hi)` prunes files exactly like the
    reference's offsets-directed block skipping (`src/WG400AP.java:156-165`).
    """
    n = num_partitions or graph.edges.sparkSession.sparkContext.defaultParallelism
    (
        graph.edges.repartitionByRange(n, "src", "dst")
        .sortWithinPartitions("src", "dst")
        .write.mode("overwrite")
        .parquet(f"{path}/edges")
    )
    graph.offsets().write.mode("overwrite").parquet(f"{path}/offsets")
    graph.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
    meta = {"vertices_count": graph.num_vertices, "edges_count": graph.num_edges}
    tmp = f"{path}/_meta.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, f"{path}/_meta.json")


def read_csr(spark: SparkSession, path: str) -> Graph:
    """Open a materialized graph — `paragrapher_open_graph` shape: metadata
    comes from the sidecar, not a recount (`src/paragrapher.c:69-82`)."""
    with open(f"{path}/_meta.json") as fh:
        meta = json.load(fh)
    return Graph(
        vertices=spark.read.parquet(f"{path}/vertices"),
        edges=spark.read.parquet(f"{path}/edges"),
        num_vertices=meta["vertices_count"],
        num_edges=meta["edges_count"],
    )


def scan_edges(spark: SparkSession, path: str, start_vertex: int, end_vertex: int) -> DataFrame:
    """The reference's flagship subgraph scan (`paragrapher_csx_get_subgraph`,
    `src/paragrapher.c:157-178`): edges with src in [start_vertex,
    end_vertex). Declarative filter -> Catalyst pushes it to the parquet
    reader and prunes non-overlapping files via min/max stats."""
    return spark.read.parquet(f"{path}/edges").where(
        (F.col("src") >= start_vertex) & (F.col("src") < end_vertex)
    )


def write_edge_text(
    edges: DataFrame,
    path: str,
    single_file: bool = False,
    weight_col: str | None = None,
) -> None:
    """GAPBS-style textual COO: one `src dst` (or `src dst weight` — the
    .wel shape, the textual twin of test6's weighted binary pairs,
    `test/test6_bin_converter_WG404.c`) line per edge, sorted — test3's
    `.el` writer (`test/test3_converter_WG400.c:277-287`).
    ``single_file`` coalesces to one part (only for small graphs; the
    distributed default writes sorted parts)."""
    n_part = (
        1
        if single_file
        else edges.sparkSession.sparkContext.defaultParallelism
    )
    cols = [F.col("src").cast("string"), F.col("dst").cast("string")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("string"))
    out = (
        edges.select(F.concat_ws(" ", *cols).alias("value"), "src", "dst")
        .repartitionByRange(n_part, "src", "dst")
        .sortWithinPartitions("src", "dst")
        .select("value")
    )
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


def _write_ordered_text(
    rows: DataFrame, path: str, n_part: int, single_file: bool
) -> None:
    """Write the ``value`` column of ``rows(section, k1, k2, value)`` in
    global ``(section, k1, k2)`` order: range-partitioning on that key
    yields parts that are globally ordered by part number, so the
    concatenation of ``part-00000..part-NNNNN`` IS the file (no driver
    collect). ``single_file=True`` stream-concatenates the parts into ONE
    plain text file at ``path`` (atomic tmp+rename; constant driver
    memory)."""
    out_dir = path + ".parts" if single_file else path
    (
        rows.repartitionByRange(n_part, "section", "k1", "k2")
        .sortWithinPartitions("section", "k1", "k2")
        .select("value")
        .write.mode("overwrite")
        .text(out_dir)
    )
    if single_file:
        tmp = path + ".tmp"
        with open(tmp, "wb") as dst:
            for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
                with open(part, "rb") as srcf:
                    shutil.copyfileobj(srcf, dst)
        os.replace(tmp, path)
        shutil.rmtree(out_dir)


def _numbered_lines(spark: SparkSession, path: str) -> DataFrame:
    """``(idx, value)`` for every non-blank line of the text file (or
    directory of ``part-*`` files) at ``path``: ``idx`` is the global line
    number (blank lines keep their slot), ``value`` the stripped line.

    Parts are read in NAME order from an explicit sorted list: a bare
    directory path gives no guarantee that Hadoop's split enumeration
    follows part-file name order (local FS listing order is arbitrary),
    and zipWithIndex's global index is split-order-dependent. The frame is
    materialized once (localCheckpoint): zipWithIndex alone costs an extra
    counting pass, and the readers' derivations would otherwise re-read
    and re-index the file for every downstream action."""
    if os.path.isdir(path):
        parts = sorted(
            p
            for p in glob.glob(os.path.join(path, "*"))
            if os.path.basename(p).startswith("part-")
        )
        src = ",".join(parts)
    else:
        src = path
    rdd = spark.sparkContext.textFile(src)
    return (
        spark.createDataFrame(
            rdd.zipWithIndex().map(lambda x: (x[1], x[0].strip())),
            "idx long, value string",
        )
        .where(F.col("value") != "")
        .localCheckpoint(eager=True)
    )


def write_adjacency_text(
    graph: Graph,
    path: str,
    num_partitions: int | None = None,
    single_file: bool = False,
) -> None:
    """AdjacencyGraph textual format (test3:289-312): header with counts,
    then offsets, then destinations.

    The format is POSITIONAL: the i-th offset line belongs to vertex i, so
    vertex ids must be dense ``0..n-1`` (the reference's id space is dense
    by construction, SURVEY.md §1.4); sparse ids would silently corrupt a
    round-trip, so they raise here instead.

    Fully distributed — the format's sequential line order is expressed as
    a global sort key ``(section, k1, k2)`` (0=header, 1=offsets by id,
    2=dests by (src, dst)): range-partitioning on that key yields parts
    that are globally ordered by part number, so the concatenation of
    ``part-00000..part-NNNNN`` IS the file (no O(V+E) driver collect).
    ``single_file=True`` additionally stream-concatenates the parts into
    ONE plain text file at ``path`` (atomic tmp+rename; constant driver
    memory) — the shape external .adj consumers open directly."""
    spark = graph.edges.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    bounds = graph.vertices.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()[0]
    if graph.num_vertices and (
        bounds["lo"] != 0 or bounds["hi"] != graph.num_vertices - 1
    ):
        raise ValueError(
            "AdjacencyGraph requires dense vertex ids 0..n-1 (positional "
            f"format); got id range [{bounds['lo']}, {bounds['hi']}] for "
            f"n={graph.num_vertices}. Remint ids with operators.indexing."
            "dense_ids first."
        )
    header = spark.createDataFrame(
        [
            (0, 0, 0, "AdjacencyGraph"),
            (0, 1, 0, str(graph.num_vertices)),
            (0, 2, 0, str(graph.num_edges)),
        ],
        "section int, k1 long, k2 long, value string",
    )
    offs = graph.offsets().select(
        F.lit(1).alias("section"),
        F.col("id").alias("k1"),
        F.lit(0).cast("long").alias("k2"),
        F.col("offset").cast("string").alias("value"),
    )
    dests = graph.edges.select(
        F.lit(2).alias("section"),
        F.col("src").alias("k1"),
        F.col("dst").alias("k2"),
        F.col("dst").cast("string").alias("value"),
    )
    _write_ordered_text(
        header.unionByName(offs).unionByName(dests), path, n, single_file
    )


def read_edge_text(
    spark: SparkSession, path: str, weighted: bool = False
) -> DataFrame:
    """Read a GAPBS-style `.el` (or `.wel` with ``weighted=True``) file/dir
    back to edges(src, dst[, weight]) — the consuming half of the converter
    story (reference test3 produces GAPBS-consumable output,
    `test/test3_converter_WG400.c:277-287`; this makes the textual formats
    round-trippable). Whitespace-tolerant, skips blank and `#`-comment
    lines."""
    t = F.split(F.trim(F.col("value")), r"\s+")

    # malformed lines fail LOUDLY rather than silently nulling edges.
    # Under ANSI mode (Spark 4 default) the cast itself throws
    # CAST_INVALID_INPUT / INVALID_ARRAY_INDEX; the explicit null guard
    # below keeps the contract even with spark.sql.ansi.enabled=false,
    # where casts and out-of-range getItem silently yield null — pinned by
    # test_read_edge_text_rejects_malformed.
    def _req(c, what: str):
        return F.when(
            c.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"malformed edge line (missing/non-numeric {what}): "),
                    F.col("value"),
                )
            ),
        ).otherwise(c)

    cols = [
        _req(t.getItem(0).cast("long"), "src").alias("src"),
        _req(t.getItem(1).cast("long"), "dst").alias("dst"),
    ]
    if weighted:
        cols.append(_req(t.getItem(2).cast("double"), "weight").alias("weight"))
    return (
        spark.read.text(path)
        .where(
            (F.trim(F.col("value")) != "")
            & ~F.trim(F.col("value")).startswith("#")
        )
        .select(*cols)
    )


def read_adjacency_text(spark: SparkSession, path: str) -> Graph:
    """Read an AdjacencyGraph `.adj` file/dir back to a Graph
    (test3:289-312 round-trip). Global line numbers come from
    ``zipWithIndex`` over the text partitions (file order = part order,
    the writer's range-partition contract); the CSR structure is then
    re-derived relationally:

    - degree(v) = offset(v+1) - offset(v) via an equi-join on the dense id
      space (no global-order window — scale-safe),
    - each vertex explodes its ``[offset, offset+degree)`` edge-id range
      and equi-joins the destination lines on edge id.
    """
    lines = _numbered_lines(spark, path)
    head = {r.idx: r.value for r in lines.where(F.col("idx") < 3).collect()}
    if head.get(0) != "AdjacencyGraph":
        raise ValueError(f"not an AdjacencyGraph file: {path!r} ({head.get(0)!r})")
    n, m = int(head[1]), int(head[2])
    # the format is positional, so the body must hold EXACTLY n + m
    # non-blank lines after the 3-line header: blank lines consume
    # zipWithIndex slots (shifting every later row to the wrong vertex) and
    # a truncated file would otherwise just drop edges in the join below.
    # Loud-malformed-input contract, same as read_edge_text.
    # One aggregation proves BOTH properties: count == n + m AND
    # max idx == 3 + n + m - 1 together mean (pigeonhole over distinct
    # zipWithIndex slots) the body occupies exactly [3, 3+n+m) with no
    # gaps — a count check alone passes when an interior blank line and
    # the resulting shift cancel out in total but misalign the sections.
    stats = (
        lines.where(F.col("idx") >= 3)
        .agg(F.count("*").alias("n_body"), F.max("idx").alias("max_idx"))
        .collect()[0]
    )
    n_body, max_idx = stats["n_body"], stats["max_idx"]
    if n_body != n + m or (n_body > 0 and max_idx != 3 + n + m - 1):
        raise ValueError(
            f"malformed AdjacencyGraph {path!r}: header declares n={n} "
            f"offsets + m={m} destinations but the body has {n_body} "
            f"non-blank lines ending at slot {max_idx} (truncated file, "
            "trailing junk, or interior blank lines shifting the "
            "positional layout)"
        )
    offs = lines.where((F.col("idx") >= 3) & (F.col("idx") < 3 + n)).select(
        (F.col("idx") - 3).alias("id"), F.col("value").cast("long").alias("off")
    )
    dests = lines.where(
        (F.col("idx") >= 3 + n) & (F.col("idx") < 3 + n + m)
    ).select(
        (F.col("idx") - 3 - n).alias("eid"),
        F.col("value").cast("long").alias("dst"),
    )
    nxt = offs.select((F.col("id") - 1).alias("id"), F.col("off").alias("off_next"))
    deg = offs.join(nxt, on="id", how="left").select(
        "id", "off", (F.coalesce("off_next", F.lit(m)) - F.col("off")).alias("deg")
    )
    eids = deg.select(
        F.col("id").alias("src"),
        F.explode(
            F.when(
                F.col("deg") > 0,
                F.sequence(F.col("off"), F.col("off") + F.col("deg") - 1),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("eid"),
    )
    edges = eids.join(dests, on="eid").select(
        "src", "dst", F.lit(1).cast("long").alias("weight")
    )
    vertices = offs.select(
        "id",
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
    )
    return Graph(vertices=vertices, edges=edges, num_vertices=n, num_edges=m)


def write_matrix_market(
    graph: Graph,
    path: str,
    weight_col: str | None = None,
    symmetric: bool = False,
    num_partitions: int | None = None,
    single_file: bool = False,
) -> None:
    """MatrixMarket coordinate writer — the reference DECLARED this format
    (`PARAGRAPHER_COO_MM_400_SS` / `_404_SS`, `include/paragrapher.h:28-29`)
    but left its readers commented out (`src/paragrapher.c:56-57`); here
    the COO graph kind is completed in both directions.

    - ``weight_col=None`` -> ``pattern`` field (MM_400: id pairs only);
      a long column -> ``integer`` (MM_404's 4-byte uint weight); any
      other numeric column -> ``real``.
    - ``symmetric=True`` stores each undirected edge ONCE as its
      lower-triangle entry (row >= col, 1-based), the MatrixMarket
      ``symmetric`` contract; the reader mirrors off-diagonals back.

    Distribution shape: same as ``write_adjacency_text`` — the file's
    sequential order is a global sort key (section 0 = banner+size line,
    section 1 = entries by (row, col)); range partitioning makes the
    name-ordered part concatenation BE the file, no driver collect.
    """
    spark = graph.edges.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    if weight_col is None:
        field = "pattern"
    else:
        field = (
            "integer"
            if dict(graph.edges.dtypes).get(weight_col) in ("bigint", "int", "smallint", "tinyint")
            else "real"
        )
    sym = "symmetric" if symmetric else "general"
    # 1-based MatrixMarket indices; symmetric stores (max, min) = lower tri
    r, c = F.col("src") + 1, F.col("dst") + 1
    if symmetric:
        r, c = F.greatest(F.col("src"), F.col("dst")) + 1, F.least(
            F.col("src"), F.col("dst")
        ) + 1
    vals = [r.cast("string"), c.cast("string")]
    if weight_col is not None:
        vals.append(F.col(weight_col).cast("string"))
    if symmetric:
        # MatrixMarket forbids duplicate entries: an edge table holding
        # BOTH (i,j) and (j,i) would fold onto the same lower-triangle
        # cell and silently corrupt the roundtrip (each stored duplicate
        # mirrors back). Require canonical undirected edges, loudly.
        n_cells = (
            graph.edges.select(
                F.greatest("src", "dst").alias("r"),
                F.least("src", "dst").alias("c"),
            )
            .distinct()
            .count()
        )
        if n_cells != graph.num_edges:
            raise ValueError(
                "symmetric MatrixMarket output requires canonical "
                "undirected edges (at most one of (i,j)/(j,i) per pair); "
                f"{graph.num_edges} edges collapse to {n_cells} "
                "triangular cells — deduplicate first"
            )
    n, m = graph.num_vertices, graph.num_edges
    header = spark.createDataFrame(
        [
            (0, 0, 0, f"%%MatrixMarket matrix coordinate {field} {sym}"),
            (0, 1, 0, f"{n} {n} {m}"),
        ],
        "section int, k1 long, k2 long, value string",
    )
    entries = graph.edges.select(
        F.lit(1).alias("section"),
        r.cast("long").alias("k1"),
        c.cast("long").alias("k2"),
        F.concat_ws(" ", *vals).alias("value"),
    )
    _write_ordered_text(header.unionByName(entries), path, n_part, single_file)


def read_matrix_market(spark: SparkSession, path: str) -> Graph:
    """MatrixMarket coordinate reader -> Graph (0-based ids) — the COO
    graph kind the reference declared and never shipped
    (`include/paragrapher.h:28-29`, `src/paragrapher.c:56-57`).

    Handles ``pattern`` (weight 1), ``integer``/``real`` fields and
    ``general``/``symmetric`` symmetry (symmetric entries are mirrored,
    diagonal kept single — the spec's storage contract). Loud-malformed-
    input contract (same as the `.el`/`.adj` readers): bad banner, a
    non-square size line, an entry count that disagrees with the declared
    nnz, out-of-range 1-based indices, or non-numeric tokens all raise
    instead of silently dropping or nulling edges.
    """
    lines = _numbered_lines(spark, path)
    banner_row = lines.orderBy("idx").limit(1).collect()
    if not banner_row or not banner_row[0]["value"].startswith("%%MatrixMarket"):
        got = banner_row[0]["value"][:60] if banner_row else "<empty>"
        raise ValueError(f"not a MatrixMarket file: {path!r} ({got!r})")
    banner = banner_row[0]["value"].split()
    if len(banner) != 5 or banner[1:3] != ["matrix", "coordinate"]:
        raise ValueError(
            f"unsupported MatrixMarket header (need 'matrix coordinate'): "
            f"{banner_row[0]['value']!r}"
        )
    field, sym = banner[3].lower(), banner[4].lower()
    if field not in ("pattern", "integer", "real"):
        raise ValueError(f"unsupported MatrixMarket field: {field!r}")
    if sym not in ("general", "symmetric"):
        raise ValueError(f"unsupported MatrixMarket symmetry: {sym!r}")
    body = lines.where(~F.col("value").startswith("%"))
    size_row = body.orderBy("idx").limit(1).collect()[0]
    size_toks = size_row["value"].split()
    if len(size_toks) != 3:
        raise ValueError(f"malformed MatrixMarket size line: {size_row['value']!r}")
    nrows, ncols, nnz = (int(t) for t in size_toks)
    if nrows != ncols:
        raise ValueError(
            f"MatrixMarket matrix is {nrows}x{ncols}; a graph adjacency "
            "matrix must be square"
        )
    entries = body.where(F.col("idx") > size_row["idx"])
    n_entries = entries.count()
    if n_entries != nnz:
        raise ValueError(
            f"malformed MatrixMarket {path!r}: size line declares nnz={nnz} "
            f"but the body has {n_entries} entry lines"
        )
    t = F.split(F.col("value"), r"\s+")

    def _req(col, what: str):
        return F.when(
            col.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"malformed MatrixMarket entry (bad {what}): "),
                    F.col("value"),
                )
            ),
        ).otherwise(col)

    def _in_range(col, what: str):
        return F.when(
            (col < 0) | (col >= nrows),
            F.raise_error(
                F.concat(
                    F.lit(f"MatrixMarket {what} index out of range [1, {nrows}]: "),
                    F.col("value"),
                )
            ),
        ).otherwise(col)

    wcol = (
        F.lit(1).cast("long")
        if field == "pattern"
        else _req(
            t.getItem(2).cast("long" if field == "integer" else "double"),
            "value",
        )
    )
    parsed = entries.select(
        _in_range(_req(t.getItem(0).cast("long"), "row") - 1, "row").alias("src"),
        _in_range(_req(t.getItem(1).cast("long"), "col") - 1, "col").alias("dst"),
        wcol.alias("weight"),
    )
    if sym == "symmetric":
        mirrored = parsed.where(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        edges = parsed.unionByName(mirrored)
        m = nnz + mirrored.count()
    else:
        edges = parsed
        m = nnz
    vertices = spark.range(nrows).select(
        "id",
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
    )
    return Graph(vertices=vertices, edges=edges, num_vertices=nrows, num_edges=m)


def narrow_ids(edges: DataFrame) -> DataFrame:
    """u64 -> u32 narrowing (test5:33-40): cast src/dst to int after a
    range assertion — the reference narrows only when |V| < 2^32."""
    mx = edges.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("m")
    ).collect()[0]["m"]
    if mx is not None and mx >= (1 << 31):
        raise ValueError(f"vertex id {mx} does not fit in int32")
    out = edges.withColumn("src", F.col("src").cast("int")).withColumn(
        "dst", F.col("dst").cast("int")
    )
    return out


def edge_checksum(edges: DataFrame) -> int:
    """Order-insensitive content checksum of an edge table — replaces the
    reference's order-sensitive converter checksum (test3:303) which cannot
    be stable under distributed write ordering."""
    row = edges.agg(
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h")
    ).collect()[0]
    return int(row["h"])



# ---------------------------------------------------------------------------
# JSONL corpus interchange — the LLM-data pipeline lingua franca
# ---------------------------------------------------------------------------


def write_jsonl(docs: DataFrame, path: str, num_files: int | None = None) -> None:
    """Write a document table as JSON Lines (one JSON object per line) —
    the interchange format LLM data pipelines exchange corpora in.
    Distributed: ``num_files`` part files (default parallelism when
    unset), each written by its own task; Spark's JSON writer escapes
    text losslessly, so read_jsonl(write_jsonl(df)) == df."""
    n = num_files or docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(n).write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    tolerate_corrupt: bool = False,
):
    """Read a JSONL corpus with the repo's loud-malformed-input contract:
    by default ANY unparseable line raises (FAILFAST), because a corrupt
    line silently dropped at 100 TB is a dataset bug nobody ever finds.
    With ``tolerate_corrupt=True`` returns ``(docs, n_corrupt)`` instead:
    PERMISSIVE parse routing bad lines to a corrupt-record column that is
    COUNTED before being dropped (the minhash dropped-bucket convention —
    tolerated loss is always measured, never silent).

    Schema: pass the DDL string (recommended — schema inference scans the
    data twice and infers wider types than the writer meant); default
    matches the documents table (doc_id, lang, text)."""
    ddl = schema or "doc_id long, lang string, text string"
    if not tolerate_corrupt:
        docs = spark.read.schema(ddl).option("mode", "FAILFAST").json(path)
        return docs
    full = (
        spark.read.schema(ddl + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()
    )
    n_corrupt = full.where(F.col("_corrupt").isNotNull()).count()
    docs = full.where(F.col("_corrupt").isNull()).drop("_corrupt")
    return docs, n_corrupt
