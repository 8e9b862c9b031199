"""plans/superstep.py — the one loop every iterative kernel runs on.

A synthetic step over a tiny DataFrame, no kernel: resume point, save /
progress cadence, the per-row schema, stopping on ``done``, and that a
step's shuffle bytes land in that step's own row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from paragrapher_spark.plans import superstep
from paragrapher_spark.plans.checkpoint import CheckpointManager

ROW_KEYS = {
    "round", "total", "duration_s", "compile_s", "shuffle_write_bytes",
    "shuffle_read_bytes",
}


def _step(i, state, ckpt):
    state = ckpt.cut(state.select("id", (F.col("v") + 1).alias("v")), eager=False)
    return state, {"total": state.agg(F.sum("v")).collect()[0][0]}


def _start(spark):
    return spark.range(8).select("id", F.col("id").alias("v"))


def test_resume_and_cadence(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path), "loop")
    first = superstep.run(
        _step, _start(spark), spark=spark, max_iter=5, key="round",
        checkpoint=cm, checkpoint_every=3,
    )
    assert [h["round"] for h in first.history] == [1, 2, 3, 4, 5]
    # saved on the cadence and at max_iter; progress records otherwise
    assert [(r["iteration"], r["status"]) for r in cm.records()] == [
        (1, "progress"), (2, "progress"), (3, "complete"), (4, "progress"),
        (5, "complete"),
    ]
    assert all(set(h) == ROW_KEYS for h in first.history)

    cm2 = CheckpointManager(str(tmp_path), "loop")
    resumed = superstep.run(
        _step, lambda: _start(spark), spark=spark, max_iter=7, key="round",
        checkpoint=cm2, checkpoint_every=3,
    )
    assert [h["round"] for h in resumed.history] == [6, 7]
    assert resumed.last == 7 and not resumed.done
    assert {r.id: r.v for r in resumed.result.collect()} == {i: i + 7 for i in range(8)}


def test_done_stops_and_result_is_pinned(spark):
    loop = superstep.run(
        _step, _start(spark), spark=spark, max_iter=50,
        done=lambda s: s.agg(F.min("v")).collect()[0][0] >= 6,
    )
    assert loop.done and loop.last == 6
    assert [h["iteration"] for h in loop.history] == list(range(1, 7))
    assert all(h["compile_s"] >= 0 for h in loop.history)
    assert loop.result.count() == 8


def test_shuffle_bytes_land_in_their_own_row(spark):
    local = spark.range(200).localCheckpoint(eager=True)

    def step(i, state, ckpt):
        df = local.repartition(3) if i == 2 else local  # one shuffle, step 2
        return state, {"rows": len(df.collect())}

    loop = superstep.run(step, local, spark=spark, max_iter=3)
    w = [h["shuffle_write_bytes"] for h in loop.history]
    r = [h["shuffle_read_bytes"] for h in loop.history]
    assert w[0] == 0 and w[1] > 0 and w[2] == 0, w
    assert r[0] == 0 and r[1] > 0 and r[2] == 0, r
