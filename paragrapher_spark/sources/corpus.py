"""Deterministic synthetic source-code corpus.

The engine's raw input (BASELINE.json ``input_hint``) is an Iceberg-style
table of source files::

    corpus(repo: string, path: string, commit: string, lang: string,
           content: string)

where ``content`` holds import statements that resolve to other rows'
``(repo, path)``. This generator plays the role of the reference's bundled
test datasets (`test/Makefile:61-96` downloads cnr-2000 / MS1 / WDC-2012;
`test/datasets/small.properties` is the tiny fixture): a seeded, wall-clock
free corpus whose link structure is power-law skewed, so the hub paths
are exercised (the reference splits giant adjacencies across buffers,
`src/webgraph.c:957-971`).

Everything is built from ``spark.range`` + built-in expressions (md5,
transform, concat) — fully JVM-side, whole-stage-codegen friendly, and
embarrassingly parallel: at 10^12 rows this is a single map stage with no
shuffle.

Layout (n files, R repos; R even, n even):

- file ``i``: repo ``repo_{i mod R}``, ``k = i div R``,
  path ``pkg{k mod 4}/f{k}{ext}``; bijective ``(repo, path) <-> i``.
- lang: ``python`` when ``i`` is even else ``c`` (R even => repo parity ==
  file parity, so a repo is single-language).
- imports: ``deg(i)`` uniform in [0, max_out); target ``t`` is drawn with a
  Zipf-ish bias toward small ids plus a hard hub boost (~25% of edges land
  on the ``2*hub_count`` smallest ids) — the skew fixture. Targets share
  the source's parity so Python files import Python modules and C files
  include C headers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import portable_hash

SEED = 42
N_PATH_DIRS = 4


def _repo_of(t: Column, n_repos: int) -> Column:
    return F.concat(F.lit("repo_"), F.lpad((t % n_repos).cast("string"), 3, "0"))


def _path_of(t: Column, t_ext: Column, n_repos: int) -> Column:
    tk = (t / n_repos).cast("long")
    return F.concat(
        F.lit("pkg"), (tk % N_PATH_DIRS).cast("string"),
        F.lit("/f"), tk.cast("string"), t_ext,
    )


def _module_of(t: Column, n_repos: int) -> Column:
    tk = (t / n_repos).cast("long")
    return F.concat(
        F.lit("pkg"), (tk % N_PATH_DIRS).cast("string"),
        F.lit(".f"), tk.cast("string"),
    )


def _check_parity(n_files: int, n_repos: int) -> None:
    if n_files % 2 or n_repos % 2:
        raise ValueError("n_files and n_repos must be even (parity = language)")


def _corpus_rows(
    df: DataFrame, n_repos: int, ext: Column, body: list[Column], commit_tag: str
) -> DataFrame:
    """The corpus schema over ``df``'s file ids: a ``# file i`` /
    ``// file i`` header line, then the lines of the ``body`` arrays."""
    i = F.col("id")
    is_py = (i % 2) == 0
    header = F.when(is_py, F.concat(F.lit("# file "), i.cast("string"))).otherwise(
        F.concat(F.lit("// file "), i.cast("string"))
    )
    return df.select(
        _repo_of(i, n_repos).alias("repo"),
        _path_of(i, ext, n_repos).alias("path"),
        F.substring(
            F.sha2(F.concat(F.lit(commit_tag), i.cast("string")), 256), 1, 40
        ).alias("commit"),
        F.when(is_py, F.lit("python")).otherwise(F.lit("c")).alias("lang"),
        F.concat_ws("\n", F.concat(F.array(header), *body)).alias("content"),
    )


def _import_corpus(
    df: DataFrame,
    n_files: int,
    n_repos: int,
    deg: Column,
    draw: Callable[[Column], Column],
    filler_val: Column,
) -> DataFrame:
    """The import-corpus layout shared by ``synth_corpus`` and its SQL twin:
    file i imports ``deg`` targets, target #j drawn as ``draw(j)`` and then
    parity-aligned to i's language, kept in range and off i itself; a
    filler line assigns ``filler_val``."""
    i = F.col("id")
    is_py = (i % 2) == 0

    def target(j: Column) -> Column:
        t0 = draw(j)
        # force source parity (same language), stay in range, avoid self
        t1 = t0 - (t0 % 2) + (i % 2)
        t2 = F.when(t1 >= n_files, t1 - 2).otherwise(t1)
        return F.when(t2 == i, (t2 + 2) % n_files).otherwise(t2)

    imports = F.when(
        deg > 0,
        F.transform(
            F.sequence(F.lit(1), deg),
            lambda j: F.when(
                is_py,
                F.concat(
                    F.lit("from "), _repo_of(target(j), n_repos), F.lit(" import "),
                    _module_of(target(j), n_repos),
                ),
            ).otherwise(
                F.concat(
                    F.lit('#include "'), _repo_of(target(j), n_repos), F.lit("/"),
                    _path_of(target(j), F.lit(".h"), n_repos), F.lit('"'),
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    filler = F.when(
        is_py, F.concat(F.lit("x_"), i.cast("string"), F.lit(" = "), filler_val)
    ).otherwise(
        F.concat(
            F.lit("static int v_"), i.cast("string"), F.lit(" = "),
            filler_val, F.lit(";"),
        )
    )
    ext = F.when(is_py, ".py").otherwise(".h")
    return _corpus_rows(df, n_repos, ext, [imports, F.array(filler)], "commit")


def synth_corpus(
    spark: SparkSession,
    n_files: int = 2000,
    n_repos: int = 8,
    max_out: int = 12,
    seed: int = SEED,
    hub_count: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Return corpus(repo, path, commit, lang, content) with n_files rows.

    Every draw is ``portable_hash`` (functions/hashing.py) keyed on the
    file id, so a DuckDB oracle regenerates the exact same stream — which
    is what puts the hash-skew corpus pipeline under the oracle gate."""
    _check_parity(n_files, n_repos)
    df = spark.range(0, n_files, 1, partitions or max(2, min(32, n_files // 250)))
    i = F.col("id")

    def pm(c: Column, m: int) -> Column:
        return F.pmod(c, F.lit(m))

    def draw(j: Column) -> Column:
        """Skewed target draw for import #j of file i."""
        m = pm(portable_hash("m", seed, i, j), n_files) + 1
        # Zipf-ish: uniform in [0, m)
        base = F.pmod(portable_hash("t", seed, i, j), m)
        hub = pm(portable_hash("hub", seed, i, j), 4) == 0
        hub_t = pm(portable_hash("hb", seed, i, j), hub_count * 2)
        return F.when(hub, hub_t).otherwise(base)

    deg = pm(portable_hash("deg", seed, i), max_out)
    filler_val = pm(portable_hash("fill", seed, i), 1000000).cast("string")
    return _import_corpus(df, n_files, n_repos, deg, draw, filler_val)


def synth_corpus_sql(
    spark: SparkSession,
    n_files: int = 1200,
    n_repos: int = 8,
    max_out: int = 10,
    partitions: int = 8,
) -> DataFrame:
    """ANSI-SQL-reproducible corpus twin of ``synth_corpus``: identical
    schema and import-statement formats, but every random-looking choice
    is plain modular ARITHMETIC (no hash), so a DuckDB oracle can
    regenerate the exact link structure and check the whole
    extract→dense-ids→PageRank pipeline end to end
    (``queries/code.py``'s ``_import_edges_sql`` mirrors these formulas).

    deg(i) = (i*7919 + 13) % max_out; target j of file i starts from
    (i*104729 + j*7907 + 17) % n_files and is parity-aligned to the
    source's language exactly like synth_corpus. All products stay below
    2^62 (ANSI overflow-safe in Spark and DuckDB BIGINT alike).
    """
    _check_parity(n_files, n_repos)
    i = F.col("id")
    return _import_corpus(
        spark.range(0, n_files, 1, partitions), n_files, n_repos,
        (i * 7919 + 13) % max_out,
        lambda j: (i * 104729 + j * 7907 + 17) % n_files,
        ((i * 523 + 7) % 1000000).cast("string"),
    )


def synth_callgraph_corpus_sql(
    spark: SparkSession,
    n_files: int = 900,
    n_repos: int = 6,
    max_funcs: int = 3,
    max_calls: int = 4,
    partitions: int = 8,
) -> DataFrame:
    """Deterministic corpus whose ``content`` holds FUNCTION definitions
    with call sites — the function-level companion to the file-level
    import corpus (``synth_corpus_sql``). Same (repo, path, commit, lang,
    content) schema; every random-looking choice is plain modular
    arithmetic so a DuckDB oracle regenerates the exact call-graph
    structure (``queries/code.py``'s ``_call_sites_cte`` mirrors these formulas
    term-for-term).

    File ``i`` defines ``nf(i) = (i*31 + 5) % max_funcs + 1`` functions
    named ``fn_{i}_{q}`` (q in 1..nf) as single-line bodies:

    - python: ``def fn_i_q(): fn_a_b(); fn_c_d()`` (or ``pass``)
    - c:      ``void fn_i_q(void) { fn_a_b(); fn_c_d(); }`` (or ``;``)

    Function (i, q) makes ``nc = (i*17 + q*29 + 3) % max_calls`` calls;
    call ``j`` targets file ``t`` from ``(i*48611 + q*2741 + j*7451 + 23)
    % n_files`` parity-aligned to the caller's language (python calls
    python, C calls C) and function index ``((i + q*3 + j*7) % nf(t)) + 1``.
    Self-calls (recursion) are allowed — a call graph is cyclic by nature,
    unlike the import DAG-ish fixture. Entirely ``spark.range`` + built-in
    expressions (nested higher-order ``transform``), whole-stage codegen,
    no shuffle: at 10^12 files this stays a single map stage.
    """
    _check_parity(n_files, n_repos)
    df = spark.range(0, n_files, 1, partitions)
    i = F.col("id")
    is_py = (i % 2) == 0
    ext = F.when(is_py, ".py").otherwise(".c")
    nf = (i * 31 + 5) % max_funcs + 1

    def fname_of(fi: Column, fq: Column) -> Column:
        return F.concat(
            F.lit("fn_"), fi.cast("string"), F.lit("_"), fq.cast("string")
        )

    def callee(q: Column, j: Column) -> Column:
        t0 = (i * 48611 + q * 2741 + j * 7451 + 23) % n_files
        t1 = t0 - (t0 % 2) + (i % 2)
        t2 = F.when(t1 >= n_files, t1 - 2).otherwise(t1)
        tq = (i + q * 3 + j * 7) % ((t2 * 31 + 5) % max_funcs + 1) + 1
        # direct-recursion rule: ~1/23 of call sites target their own
        # function (the modular draws alone never land on (i, q), so the
        # cyclic-graph property the call graph exists to model is forced
        # explicitly)
        rec = (i + q * 5 + j * 11) % 23 == 0
        return F.when(rec, fname_of(i, q)).otherwise(fname_of(t2, tq))

    def def_line(q: Column) -> Column:
        nc = (i * 17 + q * 29 + 3) % max_calls
        calls = F.transform(
            F.sequence(F.lit(1), nc),
            lambda j: F.concat(callee(q, j), F.lit("()")),
        )
        joined = F.array_join(calls, "; ")
        body_py = F.when(nc > 0, joined).otherwise(F.lit("pass"))
        body_c = F.when(nc > 0, F.concat(joined, F.lit(";"))).otherwise(F.lit(";"))
        return F.when(
            is_py,
            F.concat(F.lit("def "), fname_of(i, q), F.lit("(): "), body_py),
        ).otherwise(
            F.concat(
                F.lit("void "), fname_of(i, q), F.lit("(void) { "),
                body_c, F.lit(" }"),
            )
        )

    defs = F.transform(F.sequence(F.lit(1), nf), def_line)
    return _corpus_rows(df, n_repos, ext, [defs], "ccommit")


def callgraph_vertex_count(n_files: int, max_funcs: int = 3) -> int:
    """Exact |V| of the callgraph corpus: sum of nf(i) over files — the
    dense-id space is 0..N-1 by construction, which is what lets the
    DuckDB oracle use a plain ``range(0, N)`` vertex set."""
    return sum((i * 31 + 5) % max_funcs + 1 for i in range(n_files))


def content_sha256(df: DataFrame) -> DataFrame:
    """Per-row invariant column (input_hint: content sha256 equality)."""
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
