"""The workloads: set-up input, one timed pass, and its output checks.

A pass runs the workload once, call after call (a closed loop with one
client), through the package's public functions. Each call goes through
``Tracer.call`` under the name of the layer it exercises. After the pass,
outside the timed section, every output is checked against the
single-process references in ``reference.py``.

Why these two (README.md maps each layer metric to the end-to-end metric it
should move on each workload):

- ``corpus_pipeline``: source files to an import graph of ~11k edges, then
  triangles, 6 PageRank supersteps stopped after 2 and resumed from their
  checkpoint, and a binary CSR round trip. Executor work is tiny, so the
  per-superstep driver and scheduling floor sets the kernels' time, beside
  table, Arrow-worker and checkpoint I/O.
- ``large_graph_pagerank``: ~2M R-MAT edges loaded from binary CSR and a
  fixed number of PageRank supersteps; executor compute and the |E|
  shuffle carry more of the time, and a floor-only change should move it
  less.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import reference as ref
from inputs import EdgeInput, corpus_import_graph, write_rmat_csr
from probe import Tracer

#: every call name a workload may time; BENCHMARK.json lists per-layer
#: metrics for all of them
CALLS = [
    "sources.read",
    "graph.build",
    "kernels.pagerank",
    "kernels.triangles",
    "sources.csr_write",
    "sources.csr_read",
]

#: synth_corpus's default size, ~11k import edges
CORPUS = {"n_files": 2000}
#: the corpus PageRank runs CORPUS_SUPERSTEPS supersteps (tol=0), stopped
#: after INTERRUPT_AFTER and resumed from its checkpoint
CORPUS_SUPERSTEPS = 6
INTERRUPT_AFTER = 2
#: R-MAT (scale, edge factor): 2^scale ids, edge_factor * 2^scale draws
LARGE_RMAT = (17, 16)
#: the corpus warm-up's tiny R-MAT graph
WARM_UP_RMAT = (8, 4)
#: fixed superstep count of the large-graph PageRank (tol=0)
LARGE_SUPERSTEPS = 5
#: PageRank supersteps of the corpus warm-up
WARM_SUPERSTEPS = 2


@dataclass
class Pass:
    """Outputs of one pass, kept for the checks; timings live in the tracer."""

    out: dict[str, Any] = field(default_factory=dict)
    pagerank: list[Any] = field(default_factory=list)  # PageRankResult per call


@dataclass
class Workload:
    name: str
    make_input: Callable[[Any, str, int], EdgeInput]
    run: Callable[[Any, str, EdgeInput, Tracer], Pass]
    check: Callable[[Pass, EdgeInput, dict], dict[str, bool]]
    #: per-layer metrics beyond the per-call ones
    extra: Callable[[Pass, Tracer], dict[str, float]]
    #: untimed and unchecked, once after set-up: without it the first pass
    #: runs its supersteps 20-40% slower while the JVM compiles, and by a
    #: different amount on every run
    warm: Callable[[Any, str, EdgeInput, Tracer], Any]


# -- helpers --------------------------------------------------------------------


def _read_csr(spark, path: str):
    """Open a binary CSR file and scan every edge: the load itself."""
    from paragrapher_spark.sources.binary import read_binary_csr

    g = read_binary_csr(spark, path)
    return g, g.edges.count()


def _same_edges(got_src, got_dst, want: EdgeInput) -> bool:
    """Equal edge multisets; ``want`` is sorted by (src, dst)."""
    got_src = np.asarray(got_src, np.int64)
    got_dst = np.asarray(got_dst, np.int64)
    order = np.lexsort((got_dst, got_src))
    return np.array_equal(got_src[order], want.src) and np.array_equal(
        got_dst[order], want.dst
    )


def _check_pagerank(result, inp: EdgeInput, refs: dict, supersteps: int) -> bool:
    """``supersteps`` supersteps run (tol=0), and ranks within 1e-6 of the
    numpy power iteration's."""
    if supersteps not in refs:
        refs[supersteps] = ref.pagerank(inp.src, inp.dst, supersteps)
    ids, ranks = refs[supersteps]
    got = result.ranks.toPandas().sort_values("id")
    return (
        result.iterations == supersteps
        and np.array_equal(got["id"].to_numpy(), ids)
        and bool(np.allclose(got["rank"].to_numpy(), ranks, rtol=1e-6, atol=1e-12))
    )


def _pagerank_extra(p: Pass, tr: Tracer) -> dict[str, float]:
    steps = [h["duration_s"] for r in p.pagerank for h in r.history]
    jobs = tr.counter("kernels.pagerank", "jobs")
    out = {
        "kernels.pagerank.supersteps": float(len(steps)),
        "kernels.pagerank.prologue_s": tr.wall("kernels.pagerank") - sum(steps),
    }
    if jobs is not None and steps:
        out["kernels.pagerank.jobs_per_superstep"] = jobs / len(steps)
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- corpus_pipeline -----------------------------------------------------------


def _corpus_input(spark, work: str, seed: int) -> EdgeInput:
    """Write the corpus table; its import graph is parsed after set-up."""
    from paragrapher_spark.sources.corpus import synth_corpus
    from paragrapher_spark.sources.table_format import write_table

    path = os.path.join(work, "corpus")
    write_table(synth_corpus(spark, seed=seed, **CORPUS), path)
    return EdgeInput(path, 0, None, None)


def known_graph(inp: EdgeInput) -> EdgeInput:
    """The input graph as the benchmark knows it, parsed without Spark."""
    return corpus_import_graph(inp.path) if inp.src is None else inp


def _read_table(spark, path: str):
    from paragrapher_spark.sources.table_format import read_table

    corpus = read_table(spark, path)
    return corpus, corpus.count()


def _count_triangles(edges) -> int:
    from paragrapher_spark.kernels import triangle_count

    return triangle_count(edges).collect()[0][0]


def _warm_corpus(spark, work: str, inp: EdgeInput, tr: Tracer) -> None:
    """Load a tiny R-MAT graph from binary CSR, which starts the session's
    Python workers, and run 2 PageRank supersteps on it. The corpus graph
    is small enough that its PageRank plans match the tiny graph's, so
    this warms them about as well as a whole pass would. One superstep is
    not enough: the second one's plan differs from the first one's."""
    from paragrapher_spark.kernels import pagerank

    tiny = write_rmat_csr(os.path.join(work, "tiny.bin"), *WARM_UP_RMAT, 0)
    pagerank(_read_csr(spark, tiny.path)[0].edges, tol=0.0, max_iter=WARM_SUPERSTEPS)


def _run_corpus(spark, work: str, inp: EdgeInput, tr: Tracer) -> Pass:
    from paragrapher_spark.graph import edges_from_corpus
    from paragrapher_spark.kernels import pagerank
    from paragrapher_spark.plans.checkpoint import CheckpointManager
    from paragrapher_spark.sources.binary import write_binary_csr

    p = Pass()
    ckpt_root = p.out["ckpt_root"] = os.path.join(work, "checkpoints")
    csr = p.out["csr_path"] = os.path.join(work, "import_graph.bin")
    shutil.rmtree(ckpt_root, ignore_errors=True)

    corpus, p.out["rows"] = tr.call("sources.read", _read_table, spark, inp.path)
    g = p.out["graph"] = tr.call("graph.build", edges_from_corpus, corpus)
    p.out["triangles"] = tr.call("kernels.triangles", _count_triangles, g.edges)
    p.pagerank.append(
        tr.call(
            "kernels.pagerank", pagerank, g.edges, tol=0.0, max_iter=INTERRUPT_AFTER,
            checkpoint=CheckpointManager(ckpt_root, "pagerank"),
            checkpoint_every=INTERRUPT_AFTER,
        )
    )
    # the resume re-opens the manifest from disk, as a restarted job would,
    # and snapshots only its final state
    resumed = p.out["manifest"] = CheckpointManager(ckpt_root, "pagerank")
    p.pagerank.append(
        tr.call(
            "kernels.pagerank", pagerank, g.edges, tol=0.0, max_iter=CORPUS_SUPERSTEPS,
            checkpoint=resumed, checkpoint_every=CORPUS_SUPERSTEPS,
        )
    )
    tr.call("sources.csr_write", write_binary_csr, g, csr)
    p.out["csr_bytes"] = os.path.getsize(csr)
    p.out["read_back"], p.out["csr_rows"] = tr.call("sources.csr_read", _read_csr, spark, csr)
    g.edges.unpersist()
    return p


def _check_corpus(p: Pass, want: EdgeInput, refs: dict) -> dict[str, bool]:
    if "triangles" not in refs:
        refs["triangles"] = ref.triangle_count(want.src, want.dst)
    g = p.out["graph"]
    edges = g.edges.toPandas()
    order = np.lexsort((edges["dst"].to_numpy(), edges["src"].to_numpy()))
    ok = {
        "sources.read": p.out["rows"] == CORPUS["n_files"],
        "graph.build": g.num_vertices == want.num_vertices
        and _same_edges(edges["src"], edges["dst"], want)
        and np.array_equal(edges["weight"].to_numpy()[order], want.weight),
        "kernels.triangles": p.out["triangles"] == refs["triangles"],
    }
    first, resumed = p.pagerank
    ok["kernels.pagerank"] = (
        _check_pagerank(first, want, refs, INTERRUPT_AFTER)
        # the resumed run must land where an uninterrupted one does
        and _check_pagerank(resumed, want, refs, CORPUS_SUPERSTEPS)
    )
    with open(p.out["csr_path"], "rb") as fh:
        n, src, dst = ref.parse_binary_csr(fh.read())
    ok["sources.csr_write"] = n == want.num_vertices and _same_edges(src, dst, want)
    back = p.out["read_back"].edges.toPandas()
    ok["sources.csr_read"] = p.out["csr_rows"] == len(want.src) and _same_edges(
        back["src"], back["dst"], want
    )
    return ok


def _corpus_extra(p: Pass, tr: Tracer) -> dict[str, float]:
    records = p.out["manifest"].records()
    return {
        **_pagerank_extra(p, tr),
        "kernels.pagerank.resume_s": [s for s in tr.spans if s.name == "kernels.pagerank"][
            -1
        ].wall_s,
        "kernels.triangles.count": float(p.out["triangles"]),
        "sources.csr_write_bytes": float(p.out["csr_bytes"]),
        "plans.checkpoint.snapshots": float(
            sum(r["status"] == "complete" for r in records)
        ),
        "plans.checkpoint.bytes": float(_dir_bytes(p.out["ckpt_root"])),
        "plans.checkpoint.manifest_records": float(len(records)),
    }


# -- large_graph_pagerank ------------------------------------------------------


def _large_input(spark, work: str, seed: int) -> EdgeInput:
    return write_rmat_csr(os.path.join(work, "graph.bin"), *LARGE_RMAT, seed)


def _run_large(spark, work: str, inp: EdgeInput, tr: Tracer) -> Pass:
    from paragrapher_spark.graph import graph_from_edges
    from paragrapher_spark.kernels import pagerank

    p = Pass()
    loaded, p.out["rows"] = tr.call("sources.read", _read_csr, spark, inp.path)
    g = p.out["graph"] = tr.call("graph.build", graph_from_edges, loaded.edges)
    p.pagerank.append(
        tr.call("kernels.pagerank", pagerank, g.edges, tol=0.0, max_iter=LARGE_SUPERSTEPS)
    )
    g.edges.unpersist()
    return p


def _warm_large(spark, work: str, inp: EdgeInput, tr: Tracer) -> None:
    """Load the real input and build its graph, which starts the session's
    Python workers. PageRank stays cold: warming it takes a whole pass
    (a tiny or 10x smaller graph does not warm the large graph's plans),
    which would add about 27 s to every run."""
    from paragrapher_spark.graph import graph_from_edges

    graph_from_edges(_read_csr(spark, inp.path)[0].edges).edges.unpersist()


def _check_large(p: Pass, inp: EdgeInput, refs: dict) -> dict[str, bool]:
    g = p.out["graph"]
    return {
        "sources.read": p.out["rows"] == len(inp.src),
        "graph.build": g.num_edges == len(inp.src)
        and g.num_vertices == inp.num_vertices,
        "kernels.pagerank": _check_pagerank(p.pagerank[0], inp, refs, LARGE_SUPERSTEPS),
    }


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "corpus_pipeline", _corpus_input, _run_corpus, _check_corpus, _corpus_extra,
            _warm_corpus,
        ),
        Workload(
            "large_graph_pagerank", _large_input, _run_large, _check_large, _pagerank_extra,
            _warm_large,
        ),
    ]
}
