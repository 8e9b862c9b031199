"""Resumable supersteps: kill after iteration k, restart from manifest,
identical final output (SURVEY.md §5 strategy item 4; north rule)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from paragrapher_spark.fixtures import powerlaw_graph, two_components
from paragrapher_spark.kernels.components import connected_components
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.plans.checkpoint import CheckpointManager


def test_manifest_roundtrip(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path), "job1")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, rank double")
    cm.save(3, df, {"delta": 0.5})
    cm.log_metrics(4, {"delta": 0.3})
    # reload manager from disk — manifest survives process boundary
    cm2 = CheckpointManager(str(tmp_path), "job1")
    assert cm2.last_complete()["iteration"] == 3
    it, back = cm2.resume(spark)
    assert it == 3
    assert back.count() == 100
    # per-partition lineage present and sums to row count
    rec = cm2.last_complete()
    assert sum(rec["partitions"].values()) == 100


def test_pagerank_resume_identical(spark, tmp_path):
    edges = powerlaw_graph(spark, n=300, m=3)
    full = pagerank(edges, tol=1e-9, max_iter=30)
    want = {r.id: r.rank for r in full.ranks.collect()}

    # interrupted run: stop after 6 supersteps (checkpoint_every=3 -> last
    # complete snapshot at iteration 6)
    cm = CheckpointManager(str(tmp_path), "pr")
    partial = pagerank(
        edges, tol=1e-9, max_iter=6, checkpoint=cm, checkpoint_every=3
    )
    assert not partial.converged
    assert cm.last_complete()["iteration"] == 6

    # resumed run continues from iteration 6, not from scratch
    cm2 = CheckpointManager(str(tmp_path), "pr")
    resumed = pagerank(
        edges, tol=1e-9, max_iter=30, checkpoint=cm2, checkpoint_every=3
    )
    assert resumed.history[0]["iteration"] == 7
    got = {r.id: r.rank for r in resumed.ranks.collect()}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)


def test_cc_resume_identical(spark, tmp_path):
    edges = powerlaw_graph(spark, n=300, m=2)
    want = {
        r.id: r.component
        for r in connected_components(edges).components.collect()
    }
    cm = CheckpointManager(str(tmp_path), "cc")
    partial = connected_components(
        edges, max_rounds=2, checkpoint=cm, checkpoint_every=1
    )
    assert not partial.converged
    cm2 = CheckpointManager(str(tmp_path), "cc")
    resumed = connected_components(
        edges, max_rounds=50, checkpoint=cm2, checkpoint_every=1
    )
    assert resumed.converged
    assert resumed.history[0]["round"] == 3
    got = {r.id: r.component for r in resumed.components.collect()}
    assert got == want


def test_atomic_write_no_tmp_leftover(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path), "job2")
    df = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    path = cm.save(1, df, {})
    assert os.path.exists(path)
    assert not any(p.endswith(".tmp") for p in os.listdir(cm.job_dir))
    # manifest is valid json-lines
    with open(cm.manifest_path) as fh:
        for line in fh:
            json.loads(line)


def test_bfs_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.bfs import bfs
    from paragrapher_spark.fixtures import path_graph

    edges = path_graph(spark, n=12)
    want = {r.id: r.dist for r in bfs(edges, [0], max_depth=20).distances.collect()}

    cm = CheckpointManager(str(tmp_path), "bfs")
    partial = bfs(edges, [0], max_depth=4, checkpoint=cm, checkpoint_every=2)
    assert not partial.exhausted
    assert cm.last_complete()["iteration"] == 4

    cm2 = CheckpointManager(str(tmp_path), "bfs")
    resumed = bfs(edges, [0], max_depth=20, checkpoint=cm2, checkpoint_every=2)
    assert resumed.history[0]["iteration"] == 5
    got = {r.id: r.dist for r in resumed.distances.collect()}
    assert got == want


def test_labelprop_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.labelprop import label_propagation

    edges = two_components(spark)
    want = {r.id: r.label for r in label_propagation(edges, max_iter=10).labels.collect()}

    cm = CheckpointManager(str(tmp_path), "lp")
    label_propagation(edges, max_iter=2, checkpoint=cm, checkpoint_every=1)
    assert cm.last_complete()["iteration"] == 2

    cm2 = CheckpointManager(str(tmp_path), "lp")
    resumed = label_propagation(edges, max_iter=10, checkpoint=cm2, checkpoint_every=1)
    assert resumed.history[0]["iteration"] == 3
    got = {r.id: r.label for r in resumed.labels.collect()}
    assert got == want


def test_coreness_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.coreness import coreness

    edges = two_components(spark)
    want = {
        r.id: r.coreness for r in coreness(edges).vertices.collect()
    }

    # crash mid-job: round 1 saves its state, then the max_rounds guard
    # kills the run — the manifest must survive for the resume below
    cm = CheckpointManager(str(tmp_path), "coreness")
    with pytest.raises(RuntimeError, match="max_rounds"):
        coreness(edges, max_rounds=1, checkpoint=cm, checkpoint_every=1)
    assert cm.last_complete()["iteration"] == 1

    cm2 = CheckpointManager(str(tmp_path), "coreness")
    resumed = coreness(edges, checkpoint=cm2, checkpoint_every=1)
    assert resumed.history[0]["round"] == 2
    got = {r.id: r.coreness for r in resumed.vertices.collect()}
    assert got == want


def test_ktruss_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.ktruss import ktruss

    edges = two_components(spark)
    want = sorted(
        (r.a, r.b, r.support)
        for r in ktruss(edges, k=3).edges.collect()
    )

    cm = CheckpointManager(str(tmp_path), "ktruss")
    with pytest.raises(RuntimeError, match="max_rounds"):
        ktruss(edges, k=3, max_rounds=1, checkpoint=cm, checkpoint_every=1)
    assert cm.last_complete()["iteration"] == 1

    cm2 = CheckpointManager(str(tmp_path), "ktruss")
    resumed = ktruss(edges, k=3, checkpoint=cm2, checkpoint_every=1)
    assert resumed.history[0]["round"] == 2
    got = sorted((r.a, r.b, r.support) for r in resumed.edges.collect())
    assert got == want


def test_mis_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.mis import maximal_independent_set

    edges = powerlaw_graph(spark)
    full = maximal_independent_set(edges)
    want = {r.id: r.round for r in full.members.collect()}
    assert full.rounds > 1  # the fixture must actually need >1 round

    cm = CheckpointManager(str(tmp_path), "mis")
    with pytest.raises(RuntimeError, match="max_rounds"):
        maximal_independent_set(
            edges, max_rounds=1, checkpoint=cm, checkpoint_every=1
        )
    assert cm.last_complete()["iteration"] == 1

    cm2 = CheckpointManager(str(tmp_path), "mis")
    resumed = maximal_independent_set(
        edges, checkpoint=cm2, checkpoint_every=1
    )
    assert resumed.history[0]["round"] == 2
    got = {r.id: r.round for r in resumed.members.collect()}
    assert got == want  # member set AND per-member deciding round


def test_louvain_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.louvain import louvain_level

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3), (5, 6), (6, 7)],
        "src long, dst long",
    )
    want = sorted(map(tuple, louvain_level(edges, rounds=4).labels.collect()))

    cm = CheckpointManager(str(tmp_path), "louvain")
    louvain_level(edges, rounds=2, checkpoint=cm, checkpoint_every=1)
    assert cm.last_complete()["iteration"] == 2

    # resume continues at round 3 — the parity-move phase must carry over
    cm2 = CheckpointManager(str(tmp_path), "louvain")
    resumed = louvain_level(edges, rounds=4, checkpoint=cm2, checkpoint_every=1)
    assert resumed.history[0]["round"] == 3
    assert sorted(map(tuple, resumed.labels.collect())) == want


def test_ppr_batch_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.pagerank import ppr_batch

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (1, 3), (3, 1), (3, 0)], "src long, dst long"
    )
    want = sorted(
        map(tuple, ppr_batch(edges, seeds=[0, 2], rounds=6).collect())
    )

    cm = CheckpointManager(str(tmp_path), "ppr")
    ppr_batch(edges, seeds=[0, 2], rounds=3, checkpoint=cm, checkpoint_every=3)
    assert cm.last_complete()["iteration"] == 3

    cm2 = CheckpointManager(str(tmp_path), "ppr")
    got = ppr_batch(
        edges, seeds=[0, 2], rounds=6, checkpoint=cm2, checkpoint_every=3
    )
    assert sorted(map(tuple, got.collect())) == want


def test_salsa_resume_identical(spark, tmp_path):
    from paragrapher_spark.kernels.hits import salsa

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    want = sorted(map(tuple, salsa(edges, iterations=4).scores.collect()))

    cm = CheckpointManager(str(tmp_path), "salsa")
    salsa(edges, iterations=2, checkpoint=cm, checkpoint_every=2)
    assert cm.last_complete()["iteration"] == 2

    cm2 = CheckpointManager(str(tmp_path), "salsa")
    got = salsa(edges, iterations=4, checkpoint=cm2, checkpoint_every=2)
    assert sorted(map(tuple, got.scores.collect())) == want


def test_torn_manifest_tail_is_dropped(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path), "torn")
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, rank double")
    cm.save(2, df, {"delta": 0.5})
    cm.save(4, df.select("id", (F.col("rank") + 1).alias("rank")), {"delta": 0.1})
    # a crash mid-append leaves half a JSON record as the final line
    with open(cm.manifest_path, "a") as fh:
        fh.write('{"iteration": 6, "status": "comp')
    cm2 = CheckpointManager(str(tmp_path), "torn")
    it, back = cm2.resume(spark)
    assert it == 4
    assert sorted(r.rank for r in back.collect()) == [i + 1.0 for i in range(10)]
    # the torn tail was truncated away: the next append starts a clean line
    cm2.save(6, df, {"delta": 0.01})
    cm3 = CheckpointManager(str(tmp_path), "torn")
    assert [r["iteration"] for r in cm3.records()] == [2, 4, 6]


def test_malformed_inner_manifest_line_raises(tmp_path):
    cm = CheckpointManager(str(tmp_path), "bad")
    with open(cm.manifest_path, "w") as fh:
        fh.write('{"iteration": 1, "status": "progress"}\n{"iter\n')
        fh.write('{"iteration": 2, "status": "progress"}\n')
    with pytest.raises(json.JSONDecodeError):
        CheckpointManager(str(tmp_path), "bad")
