"""Call-graph corpus generation + function-level extraction correctness.

Same oracle strategy as test_corpus_extract.py: re-parse the collected
content with plain Python regexes (independent of the JVM regexp path)
and additionally regenerate the call structure from the generator's
arithmetic formulas — extraction must recover BOTH exactly. The python
half of the corpus must also be genuinely executable source (compile()
proves the one-liner function bodies are real code, not look-alikes).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from paragrapher_spark.functions.extract import (
    extract_call_sites,
    extract_functions,
)
from paragrapher_spark.graph import call_graph_from_corpus
from paragrapher_spark.sources.corpus import (
    callgraph_vertex_count,
    synth_callgraph_corpus_sql,
)

N_FILES = 200
N_REPOS = 4
MAX_FUNCS = 3
MAX_CALLS = 4

PY_DEF = re.compile(r"^def (fn_\d+_\d+)\(\): (.*)$", re.M)
C_DEF = re.compile(r"^void (fn_\d+_\d+)\(void\) \{ (.*) \}$", re.M)
CALL = re.compile(r"(fn_\d+_\d+)\(\)")


def _corpus(spark):
    return synth_callgraph_corpus_sql(
        spark, N_FILES, N_REPOS, max_funcs=MAX_FUNCS, max_calls=MAX_CALLS
    )


def _formula_sites() -> list[tuple[str, str]]:
    """(caller, callee) per call site straight from the generator's
    arithmetic (sources/corpus.py synth_callgraph_corpus_sql docstring)."""
    sites = []
    for i in range(N_FILES):
        nf = (i * 31 + 5) % MAX_FUNCS + 1
        for q in range(1, nf + 1):
            nc = (i * 17 + q * 29 + 3) % MAX_CALLS
            for j in range(1, nc + 1):
                if (i + q * 5 + j * 11) % 23 == 0:
                    sites.append((f"fn_{i}_{q}", f"fn_{i}_{q}"))
                    continue
                t0 = (i * 48611 + q * 2741 + j * 7451 + 23) % N_FILES
                t1 = t0 - (t0 % 2) + (i % 2)
                t2 = t1 - 2 if t1 >= N_FILES else t1
                tq = (i + q * 3 + j * 7) % ((t2 * 31 + 5) % MAX_FUNCS + 1) + 1
                sites.append((f"fn_{i}_{q}", f"fn_{t2}_{tq}"))
    return sorted(sites)


def _content_sites(rows) -> list[tuple[str, str]]:
    sites = []
    for r in rows:
        pat = PY_DEF if r.lang == "python" else C_DEF
        for caller, body in pat.findall(r.content):
            for callee in CALL.findall(body):
                sites.append((caller, callee))
    return sorted(sites)


def test_callgraph_corpus_deterministic_and_python_compiles(spark):
    a = _corpus(spark).orderBy("repo", "path").collect()
    b = _corpus(spark).orderBy("repo", "path").collect()
    assert a == b
    assert len(a) == N_FILES
    py = [r for r in a if r.lang == "python"]
    assert len(py) == N_FILES // 2
    for r in py:
        compile(r.content, f"{r.repo}/{r.path}", "exec")  # real source code


def test_extraction_matches_content_and_formulas(spark):
    corpus = _corpus(spark)
    got = sorted(
        (r.caller, r.callee)
        for r in extract_call_sites(corpus).collect()
    )
    rows = corpus.collect()
    assert got == _content_sites(rows)
    assert got == _formula_sites()
    # every generated callee resolves to a defined function
    fnames = {r.fname for r in extract_functions(corpus).collect()}
    assert {c for _, c in got} <= fnames
    assert len(fnames) == callgraph_vertex_count(N_FILES, MAX_FUNCS)


def test_call_graph_dense_ids_and_weights(spark):
    g = call_graph_from_corpus(_corpus(spark), num_partitions=4)
    n = callgraph_vertex_count(N_FILES, MAX_FUNCS)
    assert g.num_vertices == n
    ids = [r.id for r in g.vertices.orderBy("id").collect()]
    assert ids == list(range(n))  # dense 0..N-1 by fname rank
    # id order == lexicographic fname order (what the DuckDB oracle assumes)
    names = [r.fname for r in g.vertices.orderBy("id").collect()]
    assert names == sorted(names)
    # edge weights = call-site multiplicity, nothing dropped by the joins
    from collections import Counter

    want = Counter(_formula_sites())
    got_edges = g.edges.count()
    assert got_edges == len(want)
    total_weight = g.edges.agg(F.sum("weight")).collect()[0][0]
    assert total_weight == sum(want.values())


def test_recursion_self_loops_preserved(spark):
    """A call graph is cyclic: direct recursion must survive extraction
    and graph assembly as self-loop edges (the import fixture never
    produces src==dst; this one does by design)."""
    formula = _formula_sites()
    n_rec = sum(1 for a, b in formula if a == b)
    assert n_rec > 0, "fixture should contain direct recursion"
    g = call_graph_from_corpus(_corpus(spark), num_partitions=4)
    got = (
        g.edges.where(F.col("src") == F.col("dst"))
        .agg(F.sum("weight"))
        .collect()[0][0]
    )
    assert got == n_rec


def test_dead_functions_matches_python_bfs(spark):
    """dead_functions query semantics replayed with a plain-Python BFS
    from the same attribute-defined root set (repo_000's pkg0 files)."""
    from collections import deque

    import paragrapher_spark.queries.code as entry

    adj: dict[str, list[str]] = {}
    N, R, MF, MC = (
        entry._CG_FILES, entry._CG_REPOS, entry._CG_MAXF, entry._CG_MAXC,
    )
    allf = []
    for i in range(N):
        nf = (i * 31 + 5) % MF + 1
        for q in range(1, nf + 1):
            name = f"fn_{i}_{q}"
            allf.append((i, name))
            nc = (i * 17 + q * 29 + 3) % MC
            for j in range(1, nc + 1):
                if (i + q * 5 + j * 11) % 23 == 0:
                    adj.setdefault(name, []).append(name)
                    continue
                t0 = (i * 48611 + q * 2741 + j * 7451 + 23) % N
                t1 = t0 - (t0 % 2) + (i % 2)
                t2 = t1 - 2 if t1 >= N else t1
                tq = (i + q * 3 + j * 7) % ((t2 * 31 + 5) % MF + 1) + 1
                adj.setdefault(name, []).append(f"fn_{t2}_{tq}")
    from paragrapher_spark.sources.corpus import N_PATH_DIRS

    roots = [
        n for i, n in allf if i % R == 0 and (i // R) % N_PATH_DIRS == 0
    ]
    seen = set(roots)
    dq = deque((r, 0) for r in roots)
    while dq:
        u, d = dq.popleft()
        if d >= 30:
            continue
        for v in adj.get(u, ()):
            if v not in seen:
                seen.add(v)
                dq.append((v, d + 1))
    want_dead = sorted(n for _, n in allf if n not in seen)
    got = sorted(
        r.fname for r in entry._q_dead_functions(spark, "").collect()
    )
    assert got == want_dead
