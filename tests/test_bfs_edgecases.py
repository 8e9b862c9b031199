"""BFS kernel vs python oracle + kernel edge cases (empty / self-loop /
single-edge graphs — the degenerate inputs the verify flows call out)."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark.sql import functions as F

from paragrapher_spark.fixtures import path_graph, powerlaw_graph, two_components
from paragrapher_spark.kernels.bfs import bfs
from paragrapher_spark.kernels.components import connected_components
from paragrapher_spark.kernels.hyperball import hyperball
from paragrapher_spark.kernels.labelprop import label_propagation
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.triangles import triangle_count
from paragrapher_spark.plans.checkpoint import CheckpointManager


def _bfs_oracle(edges, sources, directed=True):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        if not directed:
            adj.setdefault(d, []).append(s)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _collect_edges(df):
    return [(r.src, r.dst) for r in df.collect()]


def test_bfs_directed_path(spark):
    df = path_graph(spark, 8)
    res = bfs(df, [0], directed=True)
    got = {r.id: r.dist for r in res.distances.collect()}
    assert got == {i: i for i in range(8)}
    assert res.exhausted and res.iterations == 7
    # frontier sizes recorded per superstep, 1 per depth then the empty probe
    assert [h["frontier_size"] for h in res.history] == [1] * 7 + [0]


def test_bfs_multi_source_undirected_powerlaw(spark):
    df = powerlaw_graph(spark)
    edges = _collect_edges(df)
    srcs = [0, 7]
    res = bfs(df, srcs, directed=False)
    got = {r.id: r.dist for r in res.distances.collect()}
    assert got == _bfs_oracle(edges, srcs, directed=False)


def test_bfs_unreached_component_absent(spark):
    df = two_components(spark)
    edges = _collect_edges(df)
    res = bfs(df, [min(s for s, _ in edges)], directed=False)
    got = {r.id: r.dist for r in res.distances.collect()}
    want = _bfs_oracle(edges, [min(s for s, _ in edges)], directed=False)
    assert got == want
    all_vertices = {v for e in edges for v in e}
    assert set(got) < all_vertices  # the other component is not reached


def test_bfs_resume_identical(spark, tmp_path):
    df = path_graph(spark, 12)
    full = bfs(df, [0], directed=True)
    want = {r.id: r.dist for r in full.distances.collect()}

    ck = CheckpointManager(str(tmp_path), job_name="bfs")
    bfs(df, [0], directed=True, max_depth=6, checkpoint=ck, checkpoint_every=2)
    resumed = bfs(df, [0], directed=True, checkpoint=ck, checkpoint_every=2)
    got = {r.id: r.dist for r in resumed.distances.collect()}
    assert got == want


# --- degenerate inputs ------------------------------------------------------


def test_kernels_on_empty_edges(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(3)], "id long")

    pr = pagerank(empty, vertices=verts, max_iter=5)
    ranks = {r.id: r.rank for r in pr.ranks.collect()}
    assert ranks.keys() == {0, 1, 2}
    for v in ranks:  # all dangling: uniform distribution is the fixpoint
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-9)

    cc = connected_components(empty, vertices=verts)
    comps = {r.id: r.component for r in cc.components.collect()}
    assert comps == {0: 0, 1: 1, 2: 2}  # singletons

    assert triangle_count(empty).collect()[0]["triangles"] == 0

    lp = label_propagation(empty, vertices=verts, max_iter=3)
    labels = {r.id: r.label for r in lp.labels.collect()}
    assert labels == {0: 0, 1: 1, 2: 2}

    b = bfs(empty, [0])
    assert {r.id: r.dist for r in b.distances.collect()} == {0: 0}


def test_kernels_on_self_loops_only(spark):
    loops = spark.createDataFrame([(i, i) for i in range(3)], "src long, dst long")

    cc = connected_components(loops)
    comps = {r.id: r.component for r in cc.components.collect()}
    assert comps == {0: 0, 1: 1, 2: 2}

    assert triangle_count(loops).collect()[0]["triangles"] == 0

    # a loop reaches nothing new, but its vertex keeps its own row
    b = bfs(loops, [0], directed=False)
    assert {r.id: r.dist for r in b.distances.collect()} == {0: 0}
    hb = hyperball(loops, radius=2)
    balls = {r.id: r.ball for r in hb.states.collect()}
    assert sorted(balls) == [0, 1, 2]
    assert hb.nf[0] == hb.nf[-1] == 3

    pr = pagerank(loops, max_iter=10)
    ranks = {r.id: r.rank for r in pr.ranks.collect()}
    for v in ranks:  # each vertex keeps its own mass
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-9)


def test_kernels_on_single_edge(spark):
    one = spark.createDataFrame([(7, 9)], "src long, dst long")
    cc = connected_components(one)
    comps = {r.id: r.component for r in cc.components.collect()}
    assert comps == {7: 7, 9: 7}
    assert triangle_count(one).collect()[0]["triangles"] == 0
    b = bfs(one, [7])
    assert {r.id: r.dist for r in b.distances.collect()} == {7: 0, 9: 1}


def _n_executions(spark) -> int:
    """SQL executions = actions (AQE splits one action into many scheduler
    jobs, so raw job counts don't measure the superstep discipline)."""
    return spark._jsparkSession.sharedState().statusStore().executionsList().size()


def test_bfs_single_action_per_superstep(spark):
    """The superstep discipline (parity with PageRank/WCC/LP): the unioned
    distance table rides a non-eager localCheckpoint materialized by the
    single frontier-count aggregation. Measured meter: PageRank's loop
    registers exactly 2 SQL executions per superstep (the action + the
    deferred checkpoint materialization); BFS must not exceed that, plus a
    small fixed setup cost. Round 1's eager-nxt + count + eager-union shape
    measured ~3-4 per superstep."""
    e = path_graph(spark, n=9)  # chain 0->1->...->8: 9 supersteps till empty
    before = _n_executions(spark)
    res = bfs(e, [0], max_depth=20)
    execs = _n_executions(spark) - before
    assert res.iterations == 8 and res.exhausted
    supersteps = 9  # 8 discovering + 1 empty-frontier terminator
    setup = 5  # edge count/persist, dist seed checkpoint, max-depth probe,
    #            frontier seed checkpoint, + the O(1) pin epilogue (ckpt.pin)
    assert execs <= setup + 2 * supersteps, execs


def test_bfs_duplicate_sources_deduped(spark):
    e = path_graph(spark, n=4)
    res = bfs(e, [0, 0, 0], max_depth=10)
    rows = res.distances.collect()
    assert len(rows) == len({r.id for r in rows}) == 4


def test_pseudo_diameter_path(spark):
    """Path 0-1-2-3-4: start = max-deg min-id vertex 1; sweep 0 reaches 4
    at depth 3, sweep 1 (from 4) and sweep 2 (from 0) both find the true
    diameter 4 — the double-sweep guarantee on trees."""
    from paragrapher_spark.kernels.bfs import pseudo_diameter

    res = pseudo_diameter(path_graph(spark, n=5), sweeps=3)
    assert [r["source"] for r in res.sweeps] == [1, 4, 0]
    assert [r["ecc"] for r in res.sweeps] == [3, 4, 4]
    assert [r["farthest"] for r in res.sweeps] == [4, 0, 4]
    assert res.diameter_lb == 4 == res.max_depth_seen


def test_pseudo_diameter_star_and_cycle(spark):
    from paragrapher_spark.fixtures import cycle_graph, star_graph
    from paragrapher_spark.kernels.bfs import pseudo_diameter

    star = pseudo_diameter(star_graph(spark, n=6), sweeps=2)
    assert star.sweeps[0]["source"] == 0 and star.sweeps[0]["ecc"] == 1
    assert star.sweeps[1] == {"sweep": 1, "source": 1, "ecc": 2, "farthest": 2}
    assert star.diameter_lb == 2

    cyc = pseudo_diameter(cycle_graph(spark, n=6), sweeps=2)
    assert cyc.sweeps[0] == {"sweep": 0, "source": 0, "ecc": 3, "farthest": 3}
    assert cyc.diameter_lb == 3


def test_pseudo_diameter_empty_and_self_loops(spark):
    from paragrapher_spark.kernels.bfs import pseudo_diameter

    empty = spark.createDataFrame([], "src long, dst long")
    assert pseudo_diameter(empty, sweeps=2).sweeps == []
    loops = spark.createDataFrame([(7, 7)], "src long, dst long")
    assert pseudo_diameter(loops, sweeps=2).sweeps == []
