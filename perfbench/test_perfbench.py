"""Tests of the benchmark's own references, inputs and bookkeeping on toy
graphs. No Spark session is started. Run with

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import reference as ref
from inputs import corpus_import_graph, rmat, write_rmat_csr
from probe import covered_ms

HERE = os.path.dirname(os.path.abspath(__file__))


def _edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0], a[:, 1]


def _google_matrix_fixpoint(src, dst, damping=0.85):
    """Stationary vector of the damped walk by a dense eigen-solve."""
    ids = ref.endpoints(src, dst)
    n = len(ids)
    m = np.zeros((n, n))
    for a, b in set(zip(src.tolist(), dst.tolist())):
        m[np.searchsorted(ids, b), np.searchsorted(ids, a)] = 1.0
    outdeg = m.sum(axis=0)
    m[:, outdeg == 0] = 1.0  # a dangling vertex spreads its mass uniformly
    m /= m.sum(axis=0)
    g = damping * m + (1 - damping) / n
    w, v = np.linalg.eig(g)
    x = np.real(v[:, np.argmax(np.real(w))])
    return ids, x / x.sum()


def test_pagerank_matches_dense_fixpoint_with_dangling_vertices():
    src, dst = _edges([(0, 1), (1, 2), (2, 0), (2, 3), (4, 0), (1, 5)])
    ids, ranks = ref.pagerank(src, dst, supersteps=300)
    want_ids, want = _google_matrix_fixpoint(src, dst)
    assert np.array_equal(ids, want_ids)
    assert np.allclose(ranks, want, rtol=0, atol=1e-10)
    assert ranks.sum() == pytest.approx(1.0)


def test_pagerank_cycle_is_uniform_after_one_step():
    _, ranks = ref.pagerank(*_edges([(0, 1), (1, 2), (2, 0)]), supersteps=1)
    assert np.allclose(ranks, 1 / 3)


def test_pagerank_parallel_edges_count_once():
    _, got = ref.pagerank(*_edges([(0, 1), (0, 1), (1, 0), (1, 2)]), supersteps=4)
    _, same = ref.pagerank(*_edges([(0, 1), (1, 0), (1, 2)]), supersteps=4)
    assert np.array_equal(got, same)


@pytest.mark.parametrize("k, want", [(3, 1), (4, 4), (5, 10)])
def test_triangle_count_complete_graphs(k, want):
    pairs = [(a, b) for a in range(k) for b in range(k) if a != b]  # both directions
    pairs += [(0, 0)]  # a self-loop closes no triangle
    assert ref.triangle_count(*_edges(pairs)) == want


def test_triangle_count_square_with_diagonal():
    assert ref.triangle_count(*_edges([(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)])) == 2


def test_binary_csr_round_trip_and_corruption():
    src, dst = _edges([(0, 1), (0, 3), (2, 0), (3, 3)])
    raw = ref.encode_csr(5, src, dst)
    assert len(raw) == 16 + 8 * 6 + 4 * 4
    n, got_src, got_dst = ref.parse_binary_csr(raw)
    assert n == 5 and np.array_equal(got_src, src) and np.array_equal(got_dst, dst)
    with pytest.raises(ValueError):
        ref.parse_binary_csr(raw + b"\0\0\0\0")


def test_import_graph_weights_and_unresolved_imports(tmp_path):
    repo = ["repo_000", "repo_000", "repo_001", "repo_001"]
    path = ["pkg0/f0.py", "pkg1/f1.py", "pkg0/f0.h", "pkg1/f1.h"]
    lang = ["python", "python", "c", "c"]
    content = [
        "# file 0\nfrom repo_000 import pkg1.f1\nfrom repo_000 import pkg1.f1\nx = 1",
        "# file 1\nfrom repo_009 import pkg0.f0\nfrom repo_000 import pkg0.f0",
        '// file 2\n#include "repo_001/pkg1/f1.h"',
        "// file 3\nstatic int v = 3;",
    ]
    n, src, dst, weight = ref.import_graph(repo, path, lang, content)
    # ids follow sorted (repo, path): repo_000/pkg0/f0.py=0, .../pkg1/f1.py=1,
    # repo_001/pkg0/f0.h=2, .../pkg1/f1.h=3
    assert n == 4
    assert list(zip(src.tolist(), dst.tolist(), weight.tolist())) == [
        (0, 1, 2), (1, 0, 1), (2, 3, 1)
    ]


def test_corpus_import_graph_reads_table_files(tmp_path):
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as pq

    data = tmp_path / "data" / "abc"
    data.mkdir(parents=True)
    table = pa.table(
        {
            "repo": ["r", "r"],
            "path": ["a.py", "b.py"],
            "commit": ["c0", "c1"],
            "lang": ["python", "python"],
            "content": ["from r import b", "# no imports"],
        }
    )
    pq.write_table(table, data / "part-0.parquet")
    g = corpus_import_graph(str(tmp_path))
    assert g.num_vertices == 2
    assert g.src.tolist() == [0] and g.dst.tolist() == [1] and g.weight.tolist() == [1]
    assert g.stats()["edges"] == 1 and g.stats()["bytes_on_disk"] > 0


def test_rmat_is_seeded_and_sizes_agree_across_seeds(tmp_path):
    a = rmat(12, 8, 1)
    assert all(np.array_equal(x, y) for x, y in zip(a, rmat(12, 8, 1)))
    b = rmat(12, 8, 2)
    assert not np.array_equal(a[0], b[0])
    assert abs(len(a[0]) - len(b[0])) / len(a[0]) < 0.03
    inp = write_rmat_csr(str(tmp_path / "g.bin"), 12, 8, 1)
    n, src, dst = ref.parse_binary_csr((tmp_path / "g.bin").read_bytes())
    assert n == 4096 and np.array_equal(src, inp.src) and np.array_equal(dst, inp.dst)
    assert inp.stats()["bytes_on_disk"] == os.path.getsize(tmp_path / "g.bin")


def test_covered_ms_merges_overlaps_and_clips():
    assert covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert covered_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert covered_ms([], 0, 10) == 0


def test_benchmark_json_lists_every_metric_the_runner_prints():
    import run
    from workloads import CALLS, WORKLOADS

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(CALLS)
