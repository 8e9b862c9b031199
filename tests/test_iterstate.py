"""plans/iterstate.py — loop-state cuts without the squaring size estimate.

These tests pin the contract: ``cut`` keeps rows exact, a self-joined
state stays exact through many cuts, its plan-time size estimate stays
bounded where plain ``localCheckpoint`` squares it every generation, and
the cut keeps the output partitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from paragrapher_spark.plans.iterstate import StateCheckpointer


def _size_bits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()


def _self_join_step(cur):
    # the double-reference shape: the state joins a renamed copy of itself
    j = cur.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    return cur.join(j, F.col("id") == F.col("id2"), "left").select(
        "id", (F.col("v") + F.col("v2")).alias("v")
    )


def test_cut_preserves_rows_across_boundaries(spark):
    ckpt = StateCheckpointer(spark)
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    cur = ckpt.cut(df)
    for step in range(7):
        cur = ckpt.cut(cur.select("id", (F.col("v") + 1).alias("v")))
    rows = {r.id: r.v for r in cur.collect()}
    assert rows == {i: 2 * i + 7 for i in range(100)}


def test_self_join_loop_correct_through_boundary(spark):
    # values must be exact across lazy cuts of a self-joined state
    ckpt = StateCheckpointer(spark)
    cur = ckpt.cut(spark.range(16).select("id", F.col("id").alias("v")))
    for _ in range(5):
        cur = ckpt.cut(_self_join_step(cur), eager=False)
        cur.count()
    rows = {r.id: r.v for r in cur.collect()}
    assert rows == {i: i * 32 for i in range(16)}  # v doubles per step


def test_self_join_size_estimate_stays_bounded(spark):
    # plain localCheckpoint carries the join's product estimate into the
    # next generation, so its bit length doubles per step: 6 generations
    # already pass 1000 bits. Through cut it stays at the default size
    # (checked every generation, so a cut that keeps the estimate fails
    # fast instead of running into the blowup).
    start = spark.range(1 << 16).select("id", F.col("id").alias("v"))

    plain = start.localCheckpoint()
    for _ in range(6):
        plain = _self_join_step(plain).localCheckpoint()
    assert _size_bits(plain) > 1000

    ckpt = StateCheckpointer(spark)
    cur = ckpt.cut(start)
    for _ in range(30):
        cur = ckpt.cut(_self_join_step(cur))
        assert _size_bits(cur) <= 128
    assert cur.where(F.col("v") != F.col("id") * (1 << 30)).count() == 0


def test_cut_keeps_output_partitioning(spark):
    # AQE hides the partitioning of the checkpointed plan; with it off,
    # localCheckpoint records the hash partitioning and cut must keep it
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(64).select("id", (F.col("id") % 3).alias("v"))
        df = df.repartition(4, "id")
        want = df.localCheckpoint()._jdf.logicalPlan().outputPartitioning()
        got = StateCheckpointer(spark).cut(df)._jdf.logicalPlan().outputPartitioning()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert want.toString().startswith("hashpartitioning(id")
    assert got.toString() == want.toString()
