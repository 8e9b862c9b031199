"""PageRank vs numpy power-iteration oracle (allclose 1e-6 contract)."""

from __future__ import annotations

import math

import pytest

from paragrapher_spark.fixtures import (
    cycle_graph,
    dangling_graph,
    powerlaw_graph,
    small5x14,
    star_graph,
)
from paragrapher_spark.kernels.pagerank import pagerank
from tests.oracles import pagerank_oracle

ATOL = 1e-6


def _run_and_compare(spark, edges_df, **kw):
    edges = [(r.src, r.dst) for r in edges_df.collect()]
    res = pagerank(edges_df, tol=1e-9, max_iter=60, **kw)
    got = {r.id: r.rank for r in res.ranks.collect()}
    want = pagerank_oracle(edges, tol=1e-9, max_iter=60)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=ATOL), f"vertex {v}"
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)  # teleport conservation
    return res


def test_cycle_uniform(spark):
    res = _run_and_compare(spark, cycle_graph(spark, 10))
    got = {r.id: r.rank for r in res.ranks.collect()}
    for v, r in got.items():
        assert r == pytest.approx(0.1, abs=1e-9)


def test_star_skew(spark):
    _run_and_compare(spark, star_graph(spark, 301))


def test_dangling_mass(spark):
    _run_and_compare(spark, dangling_graph(spark))


def test_small5x14(spark):
    _run_and_compare(spark, small5x14(spark))


def test_powerlaw(spark):
    _run_and_compare(spark, powerlaw_graph(spark, n=400, m=3))


def test_convergence_flag(spark):
    res = pagerank(cycle_graph(spark, 10), tol=1e-6, max_iter=50)
    assert res.converged
    assert res.final_delta < 1e-6
    assert res.history[-1]["delta"] < 1e-6


def test_weighted_pagerank(spark):
    """weight_col: rank distributes proportionally to outgoing weights
    (the reference's WG404 arc-labelled capability, src/WG404AP.java:171-182).
    Oracle: numpy power iteration on the weight-normalized matrix."""
    import numpy as np

    edges = [
        (0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0),
        (2, 3, 1.0), (3, 0, 5.0), (4, 0, 2.0), (0, 4, 1.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    res = pagerank(df, tol=1e-10, max_iter=80, weight_col="weight")
    got = {r.id: r.rank for r in res.ranks.collect()}

    n, d = 5, 0.85
    r = np.full(n, 1.0 / n)
    wsum = {}
    for s, _, w in edges:
        wsum[s] = wsum.get(s, 0.0) + w
    for _ in range(80):
        nxt = np.zeros(n)
        for s, t, w in edges:
            nxt[t] += r[s] * w / wsum[s]
        dangling = sum(r[v] for v in range(n) if v not in wsum)
        new = (1 - d) / n + d * (nxt + dangling / n)
        if np.max(np.abs(new - r)) < 1e-10:
            r = new
            break
        r = new
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-6), f"vertex {v}"


def test_weighted_equal_weights_matches_unweighted(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dfw = df.withColumn("weight", df.src * 0 + 7.5)  # constant weights
    a = {r.id: r.rank for r in pagerank(df, tol=1e-10, max_iter=60).ranks.collect()}
    b = {
        r.id: r.rank
        for r in pagerank(
            dfw, tol=1e-10, max_iter=60, weight_col="weight"
        ).ranks.collect()
    }
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_personalized_pagerank(spark):
    """teleport=[s]: restart + dangling mass flow back to the source set;
    numpy power-iteration oracle on the personalized formulation."""
    import numpy as np

    edges = [(0, 1), (1, 2), (2, 3), (3, 1), (2, 4)]  # 4 is dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    res = pagerank(df, tol=1e-10, max_iter=100, teleport=[0])
    got = {r.id: r.rank for r in res.ranks.collect()}

    n, d = 5, 0.85
    p = np.zeros(n); p[0] = 1.0
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    r = p.copy()
    for _ in range(100):
        nxt = np.zeros(n)
        for s, ts in out.items():
            for t in ts:
                nxt[t] += r[s] / len(ts)
        dm = sum(r[v] for v in range(n) if v not in out)
        new = ((1 - d) + d * dm) * p + d * nxt
        if np.max(np.abs(new - r)) < 1e-10:
            r = new
            break
        r = new
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-6), f"vertex {v}"


def test_personalized_uniform_teleport_matches_classic(spark):
    edges_df = cycle_graph(spark, 6)
    classic = pagerank(edges_df, tol=1e-10, max_iter=60)
    # a repeated seed is one member of the teleport set
    ppr = pagerank(edges_df, tol=1e-10, max_iter=60, teleport=list(range(6)) + [0])
    a = {r.id: r.rank for r in classic.ranks.collect()}
    b = {r.id: r.rank for r in ppr.ranks.collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_cached_edge_sort_order_reused_by_smj(spark):
    """The superstep gather at scale is a SortMergeJoin; the kernel caches
    its edge table sorted-within-partitions so the in-memory scan reports
    the order and only the |V|-row rank side sorts per iteration. Pinned
    here: with broadcast disabled, the pre-sorted cache shows exactly ONE
    live Sort (rank side) vs TWO for an unsorted cache."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.range(0, 100000).select(
            (F.col("id") % 5000).alias("src"),
            (F.col("id") % 777).alias("dst"),
            F.lit(0.5).alias("coef"),
        )
        sorts = {}
        for presort in (False, True):
            ew = e.repartition(4, "src")
            if presort:
                ew = ew.sortWithinPartitions("src")
            ew = ew.persist()
            ew.count()
            ranks = (
                spark.range(0, 5000)
                .select(F.col("id").alias("src"), F.lit(0.001).alias("rank"))
                .repartition(4, "src")
                .localCheckpoint(eager=True)
            )
            step = (
                ew.join(ranks, on="src")
                .select(F.col("dst").alias("id"), (F.col("rank") * F.col("coef")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("m"))
            )
            plan = step._jdf.queryExecution().executedPlan().toString()
            live, skip = [], None
            for ln in plan.splitlines():
                ind = len(ln) - len(ln.lstrip(" :+-*("))
                if skip is not None:
                    if ind > skip:
                        continue
                    skip = None
                if "InMemoryRelation" in ln:
                    skip = ind
                live.append(ln)
            sorts[presort] = sum(
                ("Sort " in l)
                and ("SortMergeJoin" not in l)
                and ("SortAggregate" not in l)
                for l in live
            )
            ew.unpersist()
        assert sorts[False] == 2 and sorts[True] == 1, sorts
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sort_merge_gather_matches_broadcast_gather(spark, tmp_path):
    """With broadcast joins off, the kernel gathers through the sort-merge
    join over ``graph.gather_table``'s layout instead of broadcasting the
    rank state; both paths give the same ranks. Covered: weights,
    personalization, a vertex table with an isolated vertex, a dangling
    vertex, a 300-spoke hub, and a resume of a broadcast-gather
    checkpoint on the sort-merge path."""
    from paragrapher_spark.plans.checkpoint import CheckpointManager

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1), (1, 4)]  # 4 dangling
    df = spark.createDataFrame(pairs, "src long, dst long")
    dfw = spark.createDataFrame(
        [(s, t, float(1 + s + 2 * t)) for s, t in pairs],
        "src long, dst long, weight double",
    )
    verts = spark.createDataFrame([(i,) for i in range(6)], "id long")  # 5 isolated
    star = star_graph(spark, 301)
    runs = {
        "dangling": lambda **kw: pagerank(df, **kw),
        "weighted": lambda **kw: pagerank(dfw, weight_col="weight", **kw),
        "personalized": lambda **kw: pagerank(df, teleport=[0, 3], **kw),
        "vertices": lambda **kw: pagerank(df, vertices=verts, **kw),
        "star": lambda **kw: pagerank(star, **kw),
    }

    def ranks(res):
        return {r.id: r.rank for r in res.ranks.collect()}

    def resumable(max_iter):
        cm = CheckpointManager(str(tmp_path), "pr")
        return pagerank(df, tol=0.0, max_iter=max_iter, checkpoint=cm, checkpoint_every=2)

    default = {k: ranks(run(tol=0.0, max_iter=5)) for k, run in runs.items()}
    resumable(2)  # snapshot at superstep 2, written by the broadcast gather
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        smj = {k: ranks(run(tol=0.0, max_iter=5)) for k, run in runs.items()}
        smj["resumed"] = ranks(resumable(5))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    default["resumed"] = default["dangling"]
    assert set(default["vertices"]) == set(range(6))
    for k, want in default.items():
        assert smj[k].keys() == want.keys(), k
        for v in want:
            assert smj[k][v] == pytest.approx(want[v], abs=1e-12), (k, v)


def test_repeated_ids_count_once_in_vertices_and_add_up_in_teleport(spark):
    """A vertex listed twice in ``vertices`` is one vertex, and teleport
    rows repeating an id add up: both runs equal their deduplicated twin
    and keep Σ ranks = 1."""
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long")

    def ranks(**kw):
        res = pagerank(df, tol=0.0, max_iter=6, **kw)
        got = {r.id: r.rank for r in res.ranks.collect()}
        assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-12), kw
        return got

    def tp(rows):
        return spark.createDataFrame(rows, "id long, p double")

    def ids(rows):
        return spark.createDataFrame([(i,) for i in rows], "id long")

    for got, want in (
        (
            ranks(teleport=tp([(0, 0.5), (0, 0.5), (3, 1.0)])),
            ranks(teleport=tp([(0, 1.0), (3, 1.0)])),
        ),
        (ranks(vertices=ids([0, 1, 2, 3, 3])), ranks(vertices=ids(range(4)))),
    ):
        assert got.keys() == want.keys()
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_skew_report_matches_python_replay(spark):
    """skew_report replays exactly: counts, milli-shares, fair share,
    and the sub-key count of each key (ceil over the 2x threshold)."""
    from paragrapher_spark.operators.salting import skew_report

    # one mega-hub (key 7: 70 rows), one warm key (3: 12), cold rest
    rows = (
        [(7, i) for i in range(70)]
        + [(3, i) for i in range(12)]
        + [(i % 5 + 10, i) for i in range(18)]
    )
    df = spark.createDataFrame(rows, "src long, dst long")
    got = [
        (r.src, r.cnt, r.share_fp, r.fair_share, r.rec_salts)
        for r in skew_report(df, "src", n_partitions=8, k=3).collect()
    ]
    from collections import Counter

    cnt = Counter(s for s, _ in rows)
    total = sum(cnt.values())
    fair = max(1, total // 8)
    exp = []
    for key in sorted(cnt, key=lambda s: (-cnt[s], s))[:3]:
        c = cnt[key]
        rec = (c + fair - 1) // fair if c > 2 * fair else 0
        exp.append((key, c, (1000 * c) // total, fair, rec))
    assert got == exp
    assert got[0][0] == 7 and got[0][4] >= 6  # the hub needs splitting
    assert got[1][4] == 0                     # warm key: below 2x threshold


def test_hub_cap_keeps_pairable_groups_and_counts_the_hot_ones(spark):
    """hub_cap keeps the groups of 2..cap rows (a singleton pairs with
    nothing) and describes the ones over cap exactly: keys, rows and
    the n(n-1)/2 self-join pairs they would have produced."""
    from paragrapher_spark.operators.salting import hub_cap

    cap = 4
    sizes = {1: 1, 2: 2, 3: cap, 4: cap + 2}
    rows = [(k, i) for k, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "k long, i long")
    kept, hot = hub_cap(df, "k", cap)
    assert sorted(tuple(r) for r in kept.collect()) == [
        (k, i) for k, i in rows if k in (2, 3)
    ]
    assert tuple(hot.collect()[0]) == (1, cap + 2, (cap + 2) * (cap + 1) // 2)
    _, cold = hub_cap(df, "k", cap + 2)
    assert tuple(cold.collect()[0]) == (0, 0, 0)


def test_warm_start_same_fixpoint_fewer_supersteps(spark):
    """init_ranks: a converged vector from a ~90% edge subset warm-starts
    the full-graph run — identical fixpoint (unique), strictly fewer
    supersteps than the cold run (the incremental-update contract of
    __spark_entry__.pagerank_incremental)."""
    edges_df = powerlaw_graph(spark, 60)
    from pyspark.sql import functions as F

    old = edges_df.where((F.col("src") * 7919 + F.col("dst")) % 10 != 0)
    warm_seed = pagerank(old, tol=1e-6, max_iter=60)
    cold = pagerank(edges_df, tol=1e-6, max_iter=60)
    warm = pagerank(edges_df, tol=1e-6, max_iter=60, init_ranks=warm_seed.ranks)
    assert warm.converged and cold.converged
    assert warm.iterations < cold.iterations
    got_c = {r.id: r.rank for r in cold.ranks.collect()}
    got_w = {r.id: r.rank for r in warm.ranks.collect()}
    assert got_c.keys() == got_w.keys()
    for v in got_c:
        # both stopped within tol of the same unique fixpoint
        assert got_w[v] == pytest.approx(got_c[v], abs=2e-5), f"vertex {v}"


def test_warm_start_new_vertices_get_uniform_share(spark):
    """Vertices absent from init_ranks start at 1/N (the delta introduced
    them); the run still converges to the full graph's exact fixpoint."""
    edges_df = cycle_graph(spark, 12)
    # seed vector that knows only vertices 0..5 — half the graph missing
    seed = spark.createDataFrame(
        [(i, 1.0 / 6) for i in range(6)], "id long, rank double"
    )
    # a cycle's deviation decays only by the damping factor per step
    # (|lambda| = 1 permutation), so the tol sets the superstep count:
    # 0.85^k < 12 * 1e-7 => k ~ 100
    res = pagerank(edges_df, tol=1e-7, max_iter=120, init_ranks=seed)
    assert res.converged
    for r in res.ranks.collect():
        assert r.rank == pytest.approx(1.0 / 12, abs=1e-6)


def test_grid_partition_vertex_cut(spark):
    """grid_partition: exact python-md5 replay of every block id, the
    PowerGraph 2p-1 replication bound on a star hub (vs ~deg for 1D
    hash-by-dst), and vertex_cut_report's exact integers."""
    import hashlib

    from paragrapher_spark.operators.salting import (
        grid_partition,
        vertex_cut_report,
    )

    def h(v, seed=42, tag="vc"):
        return int(hashlib.md5(f"{tag}:{seed}:{v}".encode()).hexdigest()[:15], 16)

    p = 4
    # star: hub 0 -> 1..40 (out-hub), so the hub appears in row h(0)%p
    # of the grid — at most p blocks — while its 40 neighbors scatter
    edges = [(0, i) for i in range(1, 41)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.src, r.dst): r.block for r in grid_partition(df, p).collect()}
    for (s, d), blk in got.items():
        assert blk == (h(s) % p) * p + (h(d) % p)
    hub_blocks = {blk for (s, d), blk in got.items()}
    assert len(hub_blocks) <= 2 * p - 1  # the vertex-cut bound

    rep = {r.scheme: r for r in vertex_cut_report(df, p).collect()}
    g2, g1 = rep["grid2d"], rep["hash1d_src"]
    assert g2.n_blocks == g1.n_blocks == p * p
    assert g2.n_vertices == g1.n_vertices == 41
    # grid2d: hub replication bounded by its row width (p blocks)
    assert g2.max_replication <= 2 * p - 1
    # exact replay of sum_replicas for the grid
    vb = set()
    for (s, d), blk in got.items():
        vb.add((s, blk)); vb.add((d, blk))
    from collections import Counter

    per_v = Counter(v for v, _ in vb)
    assert g2.sum_replicas == sum(per_v.values())
    assert g2.max_replication == max(per_v.values())
