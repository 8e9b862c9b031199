"""Triangle counting + label propagation vs brute-force oracles."""

from __future__ import annotations

from paragrapher_spark.fixtures import (
    k_complete,
    path_graph,
    powerlaw_graph,
    small5x14,
    star_graph,
    two_components,
)
from paragrapher_spark.kernels.labelprop import label_propagation
from paragrapher_spark.kernels.triangles import triangle_count, triangles_per_vertex
from tests.oracles import (
    label_propagation_oracle,
    triangles_oracle,
    triangles_per_vertex_oracle,
)


def _tri_compare(spark, edges_df):
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    got = triangle_count(edges_df).collect()[0]["triangles"]
    want = triangles_oracle(edges)
    assert got == want, f"total {got} != {want}"
    got_pv = {
        r.id: r.triangles for r in triangles_per_vertex(edges_df).collect()
    }
    assert got_pv == triangles_per_vertex_oracle(edges)
    return got


def test_k5_has_10(spark):
    assert _tri_compare(spark, k_complete(spark, 5)) == 10


def test_path_has_0(spark):
    assert _tri_compare(spark, path_graph(spark, 10)) == 0


def test_star_has_0(spark):
    assert _tri_compare(spark, star_graph(spark, 301)) == 0


def test_small5x14(spark):
    _tri_compare(spark, small5x14(spark))


def test_two_components_k4(spark):
    assert _tri_compare(spark, two_components(spark)) == 4  # K4 has C(4,3)=4


def test_powerlaw(spark):
    _tri_compare(spark, powerlaw_graph(spark, n=300, m=4))


def _lp_compare(spark, edges_df, max_iter=20):
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    res = label_propagation(edges_df, max_iter=max_iter)
    got = {r.id: r.label for r in res.labels.collect()}
    want = label_propagation_oracle(edges, max_iter=max_iter)
    assert got == want


def test_lp_k5(spark):
    _lp_compare(spark, k_complete(spark, 5))


def test_lp_two_components(spark):
    _lp_compare(spark, two_components(spark))


def test_lp_star(spark):
    _lp_compare(spark, star_graph(spark, 101))


def test_lp_powerlaw(spark):
    _lp_compare(spark, powerlaw_graph(spark, n=300, m=3))


def test_lp_self_loop_casts_no_vote(spark):
    # the loop (5, 5) must not vote: 5 then takes label 1 from its
    # neighbours, where a loop vote would keep it at 5
    edges = spark.createDataFrame([(1, 5), (2, 5), (5, 5)], "src long, dst long")
    _lp_compare(spark, edges)


def test_doulion_sampled_count_matches_hash_replay(spark):
    import hashlib
    from itertools import combinations

    from paragrapher_spark.kernels.triangles import triangle_count_sampled
    from paragrapher_spark.operators.sampling import threshold_for

    # K8: 28 edges, 56 triangles — enough for the coin to split
    pairs = [(i, j) for i, j in combinations(range(8), 2)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    thr = threshold_for(0.5)
    kept = {
        (a, b)
        for a, b in pairs
        if int(hashlib.md5(f"doulion:42:{a}:{b}".encode()).hexdigest()[:15], 16)
        < thr
    }
    want = sum(
        1
        for u, v, w in combinations(range(8), 3)
        if {(u, v), (u, w), (v, w)} <= kept
    )
    [row] = triangle_count_sampled(edges, fraction=0.5).collect()
    assert row["sampled_triangles"] == want
    assert row["triangles_est"] == want * 8.0


def test_doulion_fraction_one_is_exact(spark):
    from paragrapher_spark.kernels.triangles import (
        triangle_count,
        triangle_count_sampled,
    )

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (1, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    [exact] = triangle_count(edges).collect()
    [row] = triangle_count_sampled(edges, fraction=1.0).collect()
    assert row["sampled_triangles"] == exact["triangles"]
    assert row["triangles_est"] == float(exact["triangles"])


def _embeddedness_oracle(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return {(a, b): len(adj[a] & adj[b]) for a, b in und}


def _emb_compare(spark, edges_df):
    from paragrapher_spark.kernels.triangles import edge_embeddedness

    edges = [(r.src, r.dst) for r in edges_df.collect()]
    got = {(r.a, r.b): r.embeddedness for r in edge_embeddedness(edges_df).collect()}
    assert got == _embeddedness_oracle(edges)
    return got


def test_embeddedness_k5(spark):
    got = _emb_compare(spark, k_complete(spark, 5))
    assert set(got.values()) == {3}  # every K5 edge closes with the other 3


def test_embeddedness_path_all_zero(spark):
    got = _emb_compare(spark, path_graph(spark, 6))
    assert set(got.values()) == {0}  # every path edge is a local bridge


def test_embeddedness_triangle_with_pendant(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 1)], "src long, dst long"
    )  # duplicate reverse edge (2,1) must not double-count
    got = _emb_compare(spark, df)
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 0}


def test_embeddedness_powerlaw_vs_oracle(spark):
    _emb_compare(spark, powerlaw_graph(spark, n=300, seed=11))


def _squares_oracle(edges: list[tuple[int, int]]) -> int:
    """Independent replay via the closed-4-walk trace identity
    (Harary & Manvel 1971): tr(A^4) = 8*C4 + 2*m + 4*p2 where m = #edges
    and p2 = sum_v C(deg_v, 2) — a different formula than the kernel's
    diagonal identity, computed densely in numpy."""
    import numpy as np

    und = {frozenset(e) for e in edges if e[0] != e[1]}
    verts = sorted({v for e in und for v in e})
    if not verts:
        return 0
    idx = {v: i for i, v in enumerate(verts)}
    a = np.zeros((len(verts), len(verts)), dtype=np.int64)
    for e in und:
        u, w = tuple(e)
        a[idx[u], idx[w]] = a[idx[w], idx[u]] = 1
    deg = a.sum(axis=1)
    tr4 = int(np.trace(np.linalg.matrix_power(a, 4)))
    p2 = int((deg * (deg - 1) // 2).sum())
    return (tr4 - 2 * len(und) - 4 * p2) // 8


def test_square_count_fixtures(spark):
    from paragrapher_spark.fixtures import cycle_graph, k_complete, path_graph
    from paragrapher_spark.kernels.triangles import square_count

    # K4 has 3 squares, K5 has 15 = C(5,4)*3
    for df in (k_complete(spark, 4), k_complete(spark, 5),
               cycle_graph(spark, 4), cycle_graph(spark, 6),
               path_graph(spark, 6)):
        edges = [(r.src, r.dst) for r in df.collect()]
        got = square_count(df).collect()[0]["squares"]
        assert got == _squares_oracle(edges), edges


def test_square_count_powerlaw_and_cap(spark):
    from paragrapher_spark.fixtures import powerlaw_graph, star_graph
    from paragrapher_spark.kernels.triangles import square_count

    pl = powerlaw_graph(spark)
    edges = [(r.src, r.dst) for r in pl.collect()]
    assert (
        square_count(pl).collect()[0]["squares"] == _squares_oracle(edges)
    )
    # a star has no squares but a huge hub: the cap drops the hub center
    # and reports it loudly
    st = star_graph(spark, 50)
    row = square_count(st, max_center_degree=10).collect()[0]
    assert row["squares"] == 0
    assert row["n_dropped_centers"] == 1
    assert row["n_dropped_wedges"] == 49 * 48 // 2


def test_delta_triangles_incremental_matches_cold(spark):
    """delta_triangles: prev-count + triangles-touching-delta equals the
    cold full-graph count, on a fixture where deltas close triangles
    with 1, 2, and 3 new edges (the double-count traps)."""
    from itertools import combinations

    from paragrapher_spark.fixtures import powerlaw_graph
    from paragrapher_spark.kernels.triangles import delta_triangles, triangle_count

    def brute(edges):
        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        verts = {v for e in und for v in e}
        return sum(
            1
            for t in combinations(sorted(verts), 3)
            if {(t[0], t[1]), (t[0], t[2]), (t[1], t[2])} <= und
        )

    # hand fixture: triangle (0,1,2) fully old; delta edge (1,3) closes
    # (1,2,3) with old (2,3); delta edges (4,5),(4,6) + old (5,6) close
    # (4,5,6) with TWO delta edges; delta (7,8),(7,9),(8,9) is a fully
    # new triangle (THREE delta edges — found thrice, counted once)
    old = [(0, 1), (1, 2), (0, 2), (2, 3), (5, 6)]
    delta = [(1, 3), (4, 5), (4, 6), (7, 8), (7, 9), (8, 9)]
    old_df = spark.createDataFrame(old, "src long, dst long")
    delta_df = spark.createDataFrame(delta, "src long, dst long")
    full_df = old_df.unionByName(delta_df)
    prev = triangle_count(old_df).collect()[0].triangles
    dt = delta_triangles(full_df, delta_df).collect()[0].new_triangles
    assert prev == brute(old) == 1
    assert dt == 3  # (1,2,3), (4,5,6), (7,8,9) — each once
    assert prev + dt == brute(old + delta) == 4

    # powerlaw: random-ish 10% delta split, exact equality with cold run
    pl = powerlaw_graph(spark, n=120, seed=11)
    from pyspark.sql import functions as F

    in_old = (F.col("src") * 7919 + F.col("dst")) % 10 != 0
    prev = triangle_count(pl.where(in_old)).collect()[0].triangles
    dt = delta_triangles(pl, pl.where(~in_old)).collect()[0].new_triangles
    cold = triangle_count(pl).collect()[0].triangles
    assert prev + dt == cold


def test_delta_triangles_old_edges_enforces_disjointness(spark):
    """A delta that RE-ASSERTS old edges (dup rows / reversed
    orientation) double-counts under the bare identity; passing
    old_edges drops re-asserted edges so the identity holds (ADVICE r4:
    enforce, not just document, the disjointness precondition)."""
    from paragrapher_spark.kernels.triangles import delta_triangles, triangle_count

    old = [(0, 1), (1, 2), (0, 2), (2, 3)]
    # delta re-asserts (1,2) reversed and adds the genuinely-new (1,3)
    delta = [(2, 1), (1, 3)]
    old_df = spark.createDataFrame(old, "src long, dst long")
    delta_df = spark.createDataFrame(delta, "src long, dst long")
    full_df = old_df.unionByName(delta_df)
    prev = triangle_count(old_df).collect()[0].triangles  # (0,1,2)
    # bare call: old triangle (0,1,2) touches re-asserted (1,2) -> counted
    naive = delta_triangles(full_df, delta_df).collect()[0].new_triangles
    assert naive == 2  # the double-count trap this guard exists for
    # enforced call: only (1,2,3) is new
    dt = delta_triangles(full_df, delta_df, old_edges=old_df).collect()[0]
    assert dt.new_triangles == 1
    cold = triangle_count(full_df).collect()[0].triangles
    assert prev + dt.new_triangles == cold == 2
