"""Tests for the round-3 kernels: deterministic random walks (DeepWalk
corpus generation), strongly connected components (cyclic-import
detection), and exact-integer neighborhood feature aggregation (SpMM).

Oracles are exact: a pure-python md5 walk replayer, numpy matrix powers
for the SpMM, Tarjan-free mutual-reachability closure for SCC — the same
definitional checks the driver-side DuckDB oracles run at sf0.01.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from paragrapher_spark.kernels.neighborhood import (
    assemble,
    neighbor_feature_agg,
)
from paragrapher_spark.kernels.scc import scc
from paragrapher_spark.kernels.walks import random_walks
from paragrapher_spark.sources.edges import md5_vertex_graph, md5_vertex_graph_sql


def _h(tag: str, seed: int, *cols) -> int:
    s = ":".join([tag, str(seed)] + [str(c) for c in cols])
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# md5_vertex_graph
# ---------------------------------------------------------------------------


def test_md5_vertex_graph_matches_sql_twin(spark):
    import duckdb

    got = sorted(tuple(r) for r in md5_vertex_graph(spark, 60, out_deg=5).collect())
    exp = sorted(
        tuple(r) for r in duckdb.sql(md5_vertex_graph_sql(60, 5)).fetchall()
    )
    assert got == exp
    assert all(s != d for s, d in got)  # no self-loops
    assert all(0 <= d < 60 for _, d in got)


# ---------------------------------------------------------------------------
# random walks
# ---------------------------------------------------------------------------

_WALK_EDGES = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (5, 6)]


def _walk_oracle(edges, starts, length, seed=42, directed=False):
    adj: dict[int, set[int]] = {}
    all_edges = list(edges) + ([] if directed else [(d, s) for s, d in edges])
    for s, d in all_edges:
        adj.setdefault(s, set()).add(d)
    adjl = {k: sorted(v) for k, v in adj.items()}
    rows = []
    for w in starts:
        cur = w
        rows.append((w, 0, cur))
        for t in range(1, length + 1):
            nbrs = adjl.get(cur, [])
            if not nbrs:
                break
            cur = nbrs[_h("walk", seed, w, t) % len(nbrs)]
            rows.append((w, t, cur))
    return sorted(rows)


def test_random_walks_match_md5_replay(spark):
    e = spark.createDataFrame(_WALK_EDGES, "src long, dst long")
    res = random_walks(e, [0, 1, 2, 3, 4, 5, 6], length=7, directed=False)
    got = sorted(tuple(r) for r in res.steps.collect())
    assert got == _walk_oracle(_WALK_EDGES, [0, 1, 2, 3, 4, 5, 6], 7)
    assert res.n_walks == 7
    # history records per-step survivor counts and shuffle telemetry
    assert [h["step"] for h in res.history] == list(range(1, 8))
    assert all("shuffle_write_bytes" in h for h in res.history)


def test_random_walks_directed_sink_terminates(spark):
    # directed: vertex 4 and 6 are sinks — their walkers must stop
    e = spark.createDataFrame(_WALK_EDGES, "src long, dst long")
    res = random_walks(e, [3, 5], length=5, directed=True)
    got = sorted(tuple(r) for r in res.steps.collect())
    assert got == _walk_oracle(_WALK_EDGES, [3, 5], 5, directed=True)
    # walk from 3 reaches sink 4 at step 1, walk from 5 reaches 6 at step 1
    assert max(step for _, step, _ in got) == 1


def test_random_walks_seed_changes_paths(spark):
    e = spark.createDataFrame(_WALK_EDGES, "src long, dst long")
    a = sorted(
        tuple(r)
        for r in random_walks(e, [0, 1, 2], length=6, seed=42).steps.collect()
    )
    b = sorted(
        tuple(r)
        for r in random_walks(e, [0, 1, 2], length=6, seed=43).steps.collect()
    )
    assert a != b
    # determinism: same seed replays identically
    c = sorted(
        tuple(r)
        for r in random_walks(e, [0, 1, 2], length=6, seed=42).steps.collect()
    )
    assert a == c


# ---------------------------------------------------------------------------
# scc
# ---------------------------------------------------------------------------


def _scc_oracle(edges):
    verts = sorted({v for e in edges for v in e})
    reach = {v: {v} for v in verts}
    changed = True
    while changed:
        changed = False
        for s, d in edges:
            new = reach[d] - reach[s]
            if new:
                reach[s] |= new
                changed = True
    out = {}
    for v in verts:
        out[v] = min(u for u in reach[v] if v in reach[u])
    return sorted(out.items())


@pytest.mark.parametrize(
    "edges",
    [
        # two cycles bridged, plus a tail
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6)],
        # pure DAG: every SCC is a singleton
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)],
        # one big ring
        [(i, (i + 1) % 8) for i in range(8)],
        # self-loop + isolated pair-cycle
        [(0, 0), (1, 2), (2, 1)],
    ],
)
def test_scc_matches_mutual_reachability(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    res = scc(e)
    got = sorted(tuple(r) for r in res.components.collect())
    assert got == _scc_oracle(edges)
    assert res.converged


def test_overlapping_scc_calls_restore_the_conf(spark):
    # scc() turns constraint propagation off for its lifetime. A second
    # call that starts while the first runs, and ends after it, must not
    # leave the first call's "false" behind.
    import threading
    import time

    conf = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(conf, "true")
    inputs = [
        [(0, 1), (1, 2), (2, 0)],
        [(i, (i + 1) % 8) for i in range(8)] + [(8, 9), (9, 8), (7, 8), (9, 10)],
    ]
    got: dict[int, list] = {}
    errors: list[BaseException] = []

    def run(k: int) -> None:
        try:
            e = spark.createDataFrame(inputs[k], "src long, dst long")
            got[k] = sorted(tuple(r) for r in scc(e).components.collect())
        except BaseException as exc:  # surfaced below
            errors.append(exc)

    first = threading.Thread(target=run, args=(0,))
    first.start()
    deadline = time.monotonic() + 60
    while spark.conf.get(conf, "true") != "false" and time.monotonic() < deadline:
        time.sleep(0.005)  # wait until the first call is inside scc()
    second = threading.Thread(target=run, args=(1,))
    second.start()
    first.join(timeout=600)
    second.join(timeout=600)
    assert not first.is_alive() and not second.is_alive()
    assert not errors, errors
    for k, edges in enumerate(inputs):
        assert got[k] == _scc_oracle(edges)
    assert spark.conf.get(conf, "true") == before


def test_scc_md5_graph_has_giant_component(spark):
    # a sparse random digraph grows a giant SCC; the kernel must agree
    # with the closure oracle on every vertex, not just the giant one
    g = md5_vertex_graph(spark, 80, out_deg=2)
    edges = [(r.src, r.dst) for r in g.collect()]
    res = scc(g)
    got = sorted(tuple(r) for r in res.components.collect())
    exp = _scc_oracle(edges)
    assert got == exp
    sizes = {}
    for _, c in exp:
        sizes[c] = sizes.get(c, 0) + 1
    assert max(sizes.values()) > 1  # the fixture actually has a cycle
    assert res.converged
    assert all("shuffle_write_bytes" in h for h in res.history)


# ---------------------------------------------------------------------------
# neighborhood feature aggregation
# ---------------------------------------------------------------------------


def _spmm_oracle(edges, vecs, hops, scale=10**6):
    n, d = vecs.shape
    q = np.round(vecs.astype(np.float64) * scale).astype(np.int64)
    A = np.zeros((n, n), dtype=np.int64)
    for s, dd in edges:
        A[s, dd] = 1
    Ak = np.linalg.matrix_power(A, hops)
    sums = Ak @ q
    cnts = Ak @ np.ones(n, dtype=np.int64)
    return {
        (i, p): (int(sums[i, p]), int(cnts[i]))
        for i in range(n)
        for p in range(d)
        if cnts[i] > 0
    }


@pytest.mark.parametrize("hops", [1, 2, 3])
def test_neighbor_feature_agg_exact_integers(spark, hops):
    rng = np.random.default_rng(7)
    n, d = 30, 5
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    feats = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "id long, vec array<float>",
    )
    g = md5_vertex_graph(spark, n, out_deg=3)
    edges = [(r.src, r.dst) for r in g.collect()]
    res = neighbor_feature_agg(g, feats, vec_col="vec", hops=hops)
    got = {(r.id, r.pos): (r.sum_q, r.cnt) for r in res.features.collect()}
    assert got == _spmm_oracle(edges, vecs, hops)
    assert res.dim == d


def test_neighbor_feature_agg_mean_and_assemble(spark):
    feats = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 6.0])],
        "id long, vec array<float>",
    )
    e = spark.createDataFrame([(0, 1), (0, 2)], "src long, dst long")
    res = neighbor_feature_agg(e, feats, vec_col="vec", hops=1)
    rows = {(r.id, r.pos): r for r in res.features.collect()}
    # vertex 0 averages (3,4) and (5,6) -> (4.0, 5.0); 1 and 2 have no
    # out-edges so they are absent
    assert set(rows) == {(0, 0), (0, 1)}
    assert rows[(0, 0)].mean == pytest.approx(4.0)
    assert rows[(0, 1)].mean == pytest.approx(5.0)
    asm = assemble(res).collect()
    assert len(asm) == 1 and asm[0].feature == [4.0, 5.0]


def test_neighbor_feature_agg_rejects_ragged(spark):
    feats = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0])], "id long, vec array<float>"
    )
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="ragged"):
        neighbor_feature_agg(e, feats, vec_col="vec", hops=1)


def test_neighbor_feature_agg_rejects_zero_hops(spark):
    feats = spark.createDataFrame([(0, [1.0])], "id long, vec array<float>")
    e = spark.createDataFrame([(0, 0)], "src long, dst long")
    with pytest.raises(ValueError, match="hops"):
        neighbor_feature_agg(e, feats, vec_col="vec", hops=0)


# ---------------------------------------------------------------------------
# condensation + modularity
# ---------------------------------------------------------------------------


def test_condensation_is_acyclic_quotient(spark):
    from paragrapher_spark.kernels.scc import condensation

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    res = scc(e)
    cond = sorted(tuple(r) for r in condensation(e, res.components).collect())
    # SCCs: {0,1,2}->0, {3,4}->3, {5}, {6}; crossing edges dedupe to:
    assert cond == [(0, 3), (3, 5), (5, 6)]
    # quotient of a digraph by its SCCs is a DAG: no mutual pair survives
    s = set(cond)
    assert not any((b, a) in s for a, b in s)


def test_modularity_known_two_cliques(spark):
    from paragrapher_spark.kernels.labelprop import modularity

    # two triangles joined by one bridge; perfect 2-community labeling
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)], "id long, scc long"
    )
    row = modularity(e, labels).collect()[0]
    # m=7, e_c = 3+3=6, d_c = 7 each => Q = 6/7 - 2*(7/14)^2 = 5/14
    assert row.m == 7 and row.sum_ec == 6 and row.sum_dc2 == 98
    assert row.q_num == 4 * 7 * 6 - 98 == 70
    assert row.q == pytest.approx(70 / 196)
    assert row.q == pytest.approx(5 / 14)


def test_modularity_single_community_is_zero(spark):
    from paragrapher_spark.kernels.labelprop import modularity

    # everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
    edges = [(0, 1), (1, 2), (0, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    labels = spark.createDataFrame([(i, 0) for i in range(3)], "id long, lab long")
    row = modularity(e, labels).collect()[0]
    assert row.q_num == 0 and row.q == 0.0


def test_random_walks_resume_identical(spark, tmp_path):
    from paragrapher_spark.plans.checkpoint import CheckpointManager

    e = spark.createDataFrame(_WALK_EDGES, "src long, dst long")
    starts = [0, 1, 2, 3, 4]
    full = random_walks(e, starts, length=8, directed=False)
    want = sorted(tuple(r) for r in full.steps.collect())

    # interrupted run: stop after 4 steps (checkpoint_every=2 -> snapshot
    # at step 4 holds every emitted row)
    cm = CheckpointManager(str(tmp_path), "walks")
    partial = random_walks(
        e, starts, length=4, directed=False, checkpoint=cm, checkpoint_every=2
    )
    assert partial.steps.count() == 5 * 5  # steps 0..4, no sinks here

    # resumed run continues from step 4 and reproduces the full corpus
    cm2 = CheckpointManager(str(tmp_path), "walks")
    resumed = random_walks(
        e, starts, length=8, directed=False, checkpoint=cm2, checkpoint_every=2
    )
    assert resumed.history[0]["step"] == 5
    got = sorted(tuple(r) for r in resumed.steps.collect())
    assert got == want


_WWALK_EDGES = [(0, 1, 3), (0, 2, 1), (1, 2, 5), (2, 3, 2), (3, 4, 1), (5, 6, 7)]


def _weighted_walk_oracle(edges, starts, length, seed=42, directed=False):
    all_e = list(edges) + ([] if directed else [(d, s, w) for s, d, w in edges])
    best: dict[tuple[int, int], int] = {}
    for s, d, w in all_e:
        best[(s, d)] = max(best.get((s, d), 0), w)
    adj: dict[int, list[tuple[int, int]]] = {}
    for (s, d), w in best.items():
        adj.setdefault(s, []).append((d, w))
    adj = {k: sorted(v) for k, v in adj.items()}
    rows = []
    for wk in starts:
        cur = wk
        rows.append((wk, 0, cur))
        for t in range(1, length + 1):
            nbrs = adj.get(cur, [])
            if not nbrs:
                break
            r = _h("walk", seed, wk, t) % sum(w for _, w in nbrs)
            c = 0
            for d, w in nbrs:
                c += w
                if r < c:
                    cur = d
                    break
            rows.append((wk, t, cur))
    return sorted(rows)


@pytest.mark.parametrize("directed", [False, True])
def test_weighted_random_walks_match_interval_replay(spark, directed):
    e = spark.createDataFrame(_WWALK_EDGES, "src long, dst long, weight long")
    res = random_walks(
        e, [0, 1, 2, 3, 4, 5, 6], length=6, directed=directed, weight_col="weight"
    )
    got = sorted(tuple(r) for r in res.steps.collect())
    assert got == _weighted_walk_oracle(
        _WWALK_EDGES, [0, 1, 2, 3, 4, 5, 6], 6, directed=directed
    )


def test_weighted_walks_reject_nonpositive_weights(spark):
    e = spark.createDataFrame([(0, 1, 0)], "src long, dst long, weight long")
    with pytest.raises(ValueError, match="positive integer weights"):
        random_walks(e, [0], length=2, weight_col="weight")


def test_weighted_walks_bias_follows_weight(spark):
    # vertex 0 has neighbors 1 (weight 99) and 2 (weight 1): over many
    # independent walk_ids the heavy edge must win the large majority
    e = spark.createDataFrame(
        [(0, 1, 99), (0, 2, 1)], "src long, dst long, weight long"
    )
    starts = list(range(0, 1))  # walk_id 0 only walks FROM 0; use many seeds
    picks = []
    for seed in range(40):
        res = random_walks(e, [0], length=1, directed=True, seed=seed, weight_col="weight")
        step1 = [r.id for r in res.steps.collect() if r.step == 1]
        picks.extend(step1)
    assert picks.count(1) >= 35  # ~99% expected; 40 trials, generous floor


# ---------------------------------------------------------------------------
# node2vec second-order walks
# ---------------------------------------------------------------------------


def _n2v_oracle(
    edges, starts, length, a_ret, a_in, a_out, seed=42, directed=False,
    weights=None,
):
    """Pure-python second-order replay: step 1 first-order index pick,
    step >=2 alpha-weighted cumulative-interval pick — an independent
    implementation of the same definition."""
    wmap: dict[tuple[int, int], int] = {}
    all_edges = list(edges) + ([] if directed else [(d, s) for s, d in edges])
    for i, (s, d) in enumerate(all_edges):
        w = 1 if weights is None else (weights + weights)[i] if not directed else weights[i]
        wmap[(s, d)] = max(wmap.get((s, d), 0), w)
    adj: dict[int, list[tuple[int, int]]] = {}
    for (s, d), w in wmap.items():
        adj.setdefault(s, []).append((d, w))
    adjl = {k: sorted(v) for k, v in adj.items()}
    und = set(wmap)
    rows = []
    for wid in starts:
        cur = wid
        rows.append((wid, 0, cur))
        nbrs = adjl.get(cur, [])
        if not nbrs or length < 1:
            continue
        prev, cur = cur, nbrs[_h("n2v", seed, wid, 1) % len(nbrs)][0]
        rows.append((wid, 1, cur))
        for t in range(2, length + 1):
            nbrs = adjl.get(cur, [])
            if not nbrs:
                break
            aws = []
            for dst, w in nbrs:
                if dst == prev:
                    a = a_ret
                elif (prev, dst) in und:
                    a = a_in
                else:
                    a = a_out
                aws.append(w * a)
            r = _h("n2v", seed, wid, t) % sum(aws)
            cum = 0
            for (dst, _), aw in zip(nbrs, aws):
                cum += aw
                if r < cum:
                    prev, cur = cur, dst
                    break
            rows.append((wid, t, cur))
    return sorted(rows)


def test_node2vec_matches_python_replay(spark):
    from paragrapher_spark.kernels.walks import node2vec_walks

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (4, 0), (2, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for a_ret, a_in, a_out in [(1, 4, 4), (4, 4, 1), (1, 1, 1), (2, 6, 3)]:
        res = node2vec_walks(
            df, [0, 2, 5], length=6,
            alpha_return=a_ret, alpha_in=a_in, alpha_out=a_out,
        )
        got = sorted((r.walk_id, r.step, r.id) for r in res.steps.collect())
        want = _n2v_oracle(edges, [0, 2, 5], 6, a_ret, a_in, a_out)
        assert got == want, (a_ret, a_in, a_out)


def test_node2vec_directed_sink_terminates(spark):
    from paragrapher_spark.kernels.walks import node2vec_walks

    # 0 -> 1 -> 2 (sink): every walk parks at 2 by step 2
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    res = node2vec_walks(df, [0], length=9, directed=True)
    got = sorted((r.step, r.id) for r in res.steps.collect())
    assert got == [(0, 0), (1, 1), (2, 2)]


def test_node2vec_weighted_and_bad_weight_loud(spark):
    from paragrapher_spark.kernels.walks import node2vec_walks

    edges = [(0, 1, 5), (0, 2, 1), (1, 2, 3), (2, 3, 2), (3, 0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    res = node2vec_walks(
        df, [0, 3], length=5, alpha_return=1, alpha_in=3, alpha_out=2,
        weight_col="weight",
    )
    got = sorted((r.walk_id, r.step, r.id) for r in res.steps.collect())
    want = _n2v_oracle(
        [(s, d) for s, d, _ in edges], [0, 3], 5, 1, 3, 2,
        weights=[w for _, _, w in edges],
    )
    assert got == want

    bad = spark.createDataFrame([(0, 1, 0)], "src long, dst long, weight long")
    with pytest.raises(ValueError, match="positive integer weights"):
        node2vec_walks(bad, [0], length=2, weight_col="weight")


def test_node2vec_alpha_validation(spark):
    from paragrapher_spark.kernels.walks import node2vec_walks

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="alpha_out"):
        node2vec_walks(df, [0], length=2, alpha_out=0)


# ---------------------------------------------------------------------------
# GraphSAGE neighbor fan-out sampling
# ---------------------------------------------------------------------------


def _nsamp_oracle(edges, seeds, fanouts, seed=42, directed=False):
    adj: dict[int, set[int]] = {}
    all_edges = list(edges) + ([] if directed else [(d, s) for s, d in edges])
    for s, d in all_edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
    rows = []
    frontier = sorted(set(seeds))
    for hop, fanout in enumerate(fanouts):
        nxt = set()
        for v in frontier:
            ranked = sorted(
                adj.get(v, ()),
                key=lambda d: (_h("nsamp", seed, hop, v, d), d),
            )[:fanout]
            for d in ranked:
                rows.append((hop, v, d))
                nxt.add(d)
        frontier = sorted(nxt)
    return sorted(rows)


def test_neighbor_sampling_matches_python_replay(spark):
    from paragrapher_spark.kernels.walks import neighbor_sampling

    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (3, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r.hop, r.src, r.dst)
        for r in neighbor_sampling(df, [0], fanouts=[2, 2]).collect()
    )
    assert got == _nsamp_oracle(edges, [0], [2, 2])


def test_neighbor_sampling_bounds_hub_fanout(spark):
    from paragrapher_spark.fixtures import star_graph
    from paragrapher_spark.kernels.walks import neighbor_sampling

    st = star_graph(spark, 100)  # center 0, leaves 1..100
    rows = neighbor_sampling(st, [0], fanouts=[5, 5]).collect()
    hop0 = [r for r in rows if r.hop == 0]
    assert len(hop0) == 5  # a 100-degree hub contributes exactly fanout
    # hop 1: each sampled leaf has only the center back-edge
    hop1 = [r for r in rows if r.hop == 1]
    assert all(r.dst == 0 for r in hop1) and len(hop1) == 5
    # determinism: same call, same sample
    again = neighbor_sampling(st, [0], fanouts=[5, 5]).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_scc_planted_path_supersteps_logarithmic(spark):
    """VERDICT r3 task #3's fixture: on a planted path (diameter n-1, all
    singleton SCCs) the jumped coloring must converge in O(log D)
    supersteps per propagation pass — the r3 one-hop fixpoint needed
    >= diameter steps, the classic propagation-depth killer. The bound
    below (6*log2(n) + 12) passes the randomized-jumping design with
    slack but is an order of magnitude under the old linear cost."""
    import math

    n = 96
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    res = scc(e, max_rounds=60)
    assert res.converged
    # every vertex is its own SCC on a path
    assert res.components.where(F.col("id") != F.col("scc")).count() == 0
    assert res.components.count() == n
    bound = 6 * math.log2(n) + 12
    worst_pass = max(
        max(h["forward_supersteps"], h["backward_supersteps"])
        for h in res.history
    )
    assert worst_pass <= bound, (
        f"coloring pass took {worst_pass} supersteps on a diameter-{n-1} "
        f"path (bound {bound:.0f}) — pointer jumping regressed to one-hop"
    )


def test_scc_trim_settles_dag_in_one_round(spark):
    """A pure out-tree (DAG, no cycles) must settle entirely via the trim
    peel + first coloring round — the call/import-graph fast path."""
    edges = [(i, 2 * i + 1) for i in range(15)] + [(i, 2 * i + 2) for i in range(15)]
    e = spark.createDataFrame(edges, "src long, dst long")
    res = scc(e, max_rounds=10)
    assert res.converged
    assert res.components.where(F.col("id") != F.col("scc")).count() == 0
    assert res.rounds <= 2


# ---------------------------------------------------------------------------
# property-based SCC: random digraphs vs the closure oracle (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover — baked into this environment
    _HAVE_HYPOTHESIS = False


if _HAVE_HYPOTHESIS:

    @settings(max_examples=6, deadline=None, database=None, derandomize=True)
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=17),
                st.integers(min_value=0, max_value=17),
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_scc_random_digraphs_match_closure_oracle(spark, edges):
        """Derandomized property sweep: arbitrary small digraphs (dup
        edges, self-loops, mixed SCC sizes) must match the transitive-
        closure oracle vertex-for-vertex. Widens the md5-fixture class
        that crashed the r4 kernel to adversarial shapes hypothesis
        picks (derandomize=True keeps the corpus fixed and CI-stable)."""
        e = [(s, d) for s, d in edges if s != d]
        if not e:
            return
        df = spark.createDataFrame(e, "src long, dst long")
        res = scc(df)
        assert res.converged
        got = sorted(tuple(r) for r in res.components.collect())
        assert got == _scc_oracle(e)
