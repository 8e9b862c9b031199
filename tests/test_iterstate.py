"""plans/iterstate.py — the chained-checkpoint blowup guard.

The full 25-generation timing repro lives in the module docstring (it
costs minutes by design — the blowup IS the measurement); these tests
pin the mechanics: correctness of cut() across the parquet boundary,
file lifecycle, and that a double-referencing loop stays correct through
several periods.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from paragrapher_spark.plans.iterstate import StateCheckpointer


def test_cut_preserves_rows_across_boundaries(spark):
    ckpt = StateCheckpointer(spark, period=3)
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    cur = ckpt.cut(df)
    for step in range(7):  # crosses two parquet boundaries
        cur = ckpt.cut(cur.select("id", (F.col("v") + 1).alias("v")))
    rows = {r.id: r.v for r in cur.collect()}
    assert rows == {i: 2 * i + 7 for i in range(100)}
    ckpt.close()


def test_self_join_loop_correct_through_boundary(spark):
    # the exact double-reference shape the blowup repro uses; values must
    # be exact across localCheckpoint AND parquet cuts
    ckpt = StateCheckpointer(spark, period=2)
    cur = ckpt.cut(spark.range(16).select("id", F.col("id").alias("v")))
    for _ in range(5):
        j = cur.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
        cur = ckpt.cut(
            cur.join(j, F.col("id") == F.col("id2"), "left").select(
                "id", (F.col("v") + F.col("v2")).alias("v")
            ),
            eager=False,
        )
        cur.count()
    rows = {r.id: r.v for r in cur.collect()}
    assert rows == {i: i * 32 for i in range(16)}  # v doubles per step
    ckpt.close()


def test_files_cleaned_on_close(spark):
    ckpt = StateCheckpointer(spark, period=1)  # every cut is a round-trip
    cur = ckpt.cut(spark.range(10).select("id"))
    cur = ckpt.cut(cur)
    base = ckpt._base
    assert os.path.isdir(base) and len(os.listdir(base)) == 2
    cur.count()
    ckpt.close()
    assert not os.path.exists(base)


def test_pin_reclaims_files_and_result_survives(spark):
    # pin(): outputs stay readable after the round-trip files are gone
    ckpt = StateCheckpointer(spark, period=1)
    cur = ckpt.cut(spark.range(50).select("id", (F.col("id") * 3).alias("v")))
    base = ckpt._base
    assert len(os.listdir(base)) == 1
    out = ckpt.pin(cur.select("id", (F.col("v") + 1).alias("v")))
    assert not os.path.exists(base)  # owned base reclaimed immediately
    rows = {r.id: r.v for r in out.collect()}  # readable post-close
    assert rows == {i: 3 * i + 1 for i in range(50)}


def test_external_base_dir_not_deleted_but_run_files_are(spark, tmp_path):
    # explicit base_dir (the PG_ITERSTATE_DIR shape): close() removes the
    # run's own round-trip files but never the shared base itself
    base = str(tmp_path / "shared_iterstate")
    os.makedirs(base)
    ckpt = StateCheckpointer(spark, period=1, base_dir=base)
    cur = ckpt.cut(spark.range(10).select("id"))
    assert len(os.listdir(base)) == 1
    pinned = ckpt.pin(cur)
    assert os.path.isdir(base) and os.listdir(base) == []
    assert pinned.count() == 10


def test_kernel_epilogue_leaves_no_iterstate_files(spark, tmp_path, monkeypatch):
    # the kernel contract (ADVICE r4): a kernel call must reclaim its
    # round-trip files before returning, and its result must still read
    import importlib

    from paragrapher_spark.fixtures import powerlaw_graph
    from paragrapher_spark.kernels import components as comp_mod
    from paragrapher_spark.kernels.bfs import bfs

    base = str(tmp_path / "iterstate_env")
    os.makedirs(base)
    monkeypatch.setenv("PG_ITERSTATE_DIR", base)
    g = powerlaw_graph(spark, n=200, seed=7)
    res = comp_mod.connected_components(g)
    assert os.listdir(base) == [], "components leaked iterstate files"
    assert res.components.count() > 0
    b = bfs(g, [0], max_depth=10)
    assert os.listdir(base) == [], "bfs leaked iterstate files"
    assert b.distances.count() > 0
