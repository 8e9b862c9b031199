"""Dyad census + triad motifs (kernels/census.py) vs hand oracles, and
the census, triangle, link-prediction and PageRank kernels' cache
release."""

from __future__ import annotations

from paragrapher_spark.kernels.census import dyad_census, triad_motifs
from paragrapher_spark.kernels.linkpred import link_prediction
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.triangles import triangle_count, triangles


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_dyad_census_hand_graph(spark):
    # 0<->1 mutual; 0->2 asym; 2->3 asym; self-loop and duplicate ignored
    e = _edges(spark, [(0, 1), (1, 0), (0, 2), (2, 3), (2, 3), (3, 3)])
    row = dyad_census(e, n_vertices=4).collect()[0]
    assert (row.n_vertices, row.mutual, row.asym, row.null_dyads) == (4, 1, 2, 3)


def test_dyad_census_empty(spark):
    e = _edges(spark, []).limit(0)
    row = dyad_census(e, n_vertices=3).collect()[0]
    assert (row.mutual, row.asym, row.null_dyads) == (0, 0, 3)


def test_triad_motifs_transitive_and_cycle(spark):
    # transitive triad: 0->1, 1->2, 0->2   (one wedge 0-1-2, closed)
    # plus directed 3-cycle: 3->4, 4->5, 5->3
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (5, 3)])
    res = triad_motifs(e)
    row = res.motifs.collect()[0]
    # wedges: 0->1->2, plus the cycle's three (3->4->5, 4->5->3, 5->3->4)
    assert row.n_paths2 == 4
    assert row.n_transitive == 1
    assert row.n_cyclic == 1
    assert res.n_dropped_mids == 0


def test_triad_motifs_mutual_pair_is_not_a_cycle(spark):
    # 0<->1 only: wedges need u != w, so no paths, no cycles
    e = _edges(spark, [(0, 1), (1, 0)])
    row = triad_motifs(e).motifs.collect()[0]
    assert (row.n_paths2, row.n_transitive, row.n_cyclic) == (0, 0, 0)


def test_triad_motifs_hub_cap_is_loud(spark):
    # star through midpoint 9: in from 0..3, out to 4..7 -> 16 wedges
    pairs = [(i, 9) for i in range(4)] + [(9, j) for j in range(4, 8)]
    e = _edges(spark, pairs)
    full = triad_motifs(e)
    assert full.motifs.collect()[0].n_paths2 == 16
    capped = triad_motifs(e, max_mid_degree=3)
    assert capped.n_dropped_mids == 1
    assert capped.motifs.collect()[0].n_paths2 == 0


def test_kernels_release_their_persisted_frames(spark):
    # triangle_count and triad_motifs persist an intermediate frame, then
    # collect their one row and unpersist it; triangles and
    # link_prediction return lazy frames and persist nothing: a call
    # leaves the session's persistent RDDs as it found them
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert triangle_count(e).collect()[0].triangles == 1
    assert persisted().size() == before
    row = triad_motifs(e).motifs.collect()[0]
    # wedges 0->1->2, 1->2->0, 2->0->1 (the cycle) and 1->2->3
    assert (row.n_paths2, row.n_transitive, row.n_cyclic) == (4, 0, 1)
    assert persisted().size() == before
    assert len(triangles(e).collect()) == 1
    assert persisted().size() == before
    # non-adjacent pairs through centre 2: (0, 3) and (1, 3)
    scores = link_prediction(e).scores.collect()
    assert sorted((r.u, r.v, r.cn) for r in scores) == [(0, 3, 1), (1, 3, 1)]
    assert persisted().size() == before
    # pagerank persists its vertex table and its edge table and releases
    # both, on the empty graph's early return too. Its localCheckpointed
    # supersteps and result also persist RDDs, but those are lineage cuts
    # the caller holds, not caches the kernel could release.
    def cached():
        return sum(not r.rdd().isCheckpointed() for r in persisted().values())

    before = cached()
    assert pagerank(e.limit(0)).iterations == 0
    assert cached() == before
    assert pagerank(e, tol=0.0, max_iter=2).ranks.count() == 4
    assert cached() == before
