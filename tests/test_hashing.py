"""The engine-portable hash, the undirected edge views, the simple-graph
arcs and degree table, and the kernels' shared vertex set, seed set and
gather cache, pinned on one tiny frame (the hash against hashlib and
DuckDB)."""

from __future__ import annotations

import hashlib

import duckdb
from pyspark.sql import functions as F

from paragrapher_spark.functions.hashing import md5_60, portable_hash
from paragrapher_spark.graph import (
    arcs,
    gather_table,
    id_set,
    undirected_degrees,
    undirected_pairs,
    vertex_ids,
)

# a loop, a duplicate, reversed duplicates, negative ids, utf-8 / empty /
# colon-bearing strings
ROWS = [
    (3, 1, "a"),
    (1, 3, "héllo"),
    (2, 2, "x:y"),
    (-7, 4, ""),
    (4, -7, "z"),
    (3, 1, "a"),
]


def _py60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def test_portable_hash_and_undirected_pairs(spark):
    df = spark.createDataFrame(ROWS, "src long, dst long, s string")
    got = df.select(
        "src",
        "dst",
        "s",
        md5_60(F.col("s")).alias("m"),
        portable_hash("t", 42, "src").alias("h1"),
        portable_hash("t", 7, "src", F.col("dst"), "s").alias("h3"),
        portable_hash("t", 42, F.lit(5)).alias("hl"),
    ).collect()

    want_py = [
        (
            _py60(s),
            _py60(f"t:42:{a}"),
            _py60(f"t:7:{a}:{b}:{s}"),
            _py60("t:42:5"),
        )
        for a, b, s in ROWS
    ]
    values = ", ".join(
        "({}, {}, '{}')".format(a, b, s.replace("'", "''")) for a, b, s in ROWS
    )
    want_duck = duckdb.sql(
        f"""
        SELECT ('0x' || substr(md5(s), 1, 15))::BIGINT,
               ('0x' || substr(md5(concat_ws(':', 't', '42', src::VARCHAR)),
                       1, 15))::BIGINT,
               ('0x' || substr(md5(concat_ws(':', 't', '7', src::VARCHAR,
                                             dst::VARCHAR, s)), 1, 15))::BIGINT,
               ('0x' || substr(md5('t:42:5'), 1, 15))::BIGINT
        FROM (VALUES {values}) v(src, dst, s)
        ORDER BY src, dst, s
        """
    ).fetchall()
    got_rows = sorted(
        ((r.src, r.dst, r.s), (r.m, r.h1, r.h3, r.hl)) for r in got
    )
    want_rows = sorted(zip(ROWS, want_py))
    assert got_rows == want_rows
    assert [tuple(w) for _, w in want_rows] == want_duck
    assert all(0 <= v < 1 << 60 for _, w in got_rows for v in w)

    pairs = undirected_pairs(df)
    assert pairs.columns == ["a", "b"]
    assert sorted(tuple(r) for r in pairs.collect()) == [(-7, 4), (1, 3)]

    adj = arcs(df, directed=False)
    assert adj.columns == ["src", "dst"]
    assert sorted(tuple(r) for r in adj.collect()) == [
        (-7, 4), (1, 3), (3, 1), (4, -7),
    ]

    # directed: the loop is dropped, the duplicate (3, 1) counts once, and
    # an arc keeps its direction (the src >= dst rows give no reversal)
    directed = arcs(df, directed=True)
    assert directed.columns == ["src", "dst"]
    assert sorted(tuple(r) for r in directed.collect()) == [
        (-7, 4), (1, 3), (3, 1), (4, -7),
    ]
    forward = arcs(df.where(F.col("src") >= F.col("dst")), directed=True)
    assert sorted(tuple(r) for r in forward.collect()) == [(3, 1), (4, -7)]

    # the self-loop vertex has no row; duplicates count once
    deg = undirected_degrees(pairs)
    assert deg.columns == ["id", "deg"]
    assert sorted(tuple(r) for r in deg.collect()) == [
        (-7, 1), (1, 1), (3, 1), (4, 1),
    ]
    assert undirected_degrees(undirected_pairs(df.limit(0))).collect() == []


def test_vertex_ids_and_gather_table(spark):
    df = spark.createDataFrame(ROWS, "src long, dst long, s string")
    ids = vertex_ids(df)
    assert ids.columns == ["id"]
    assert sorted(r.id for r in ids.collect()) == [-7, 1, 2, 3, 4]
    verts = spark.createDataFrame([(9, "x"), (1, "y")], "id long, name string")
    assert sorted(tuple(r) for r in vertex_ids(df, verts).collect()) == [(1,), (9,)]

    # a seed list or an (id) frame, duplicates collapsed
    seeds = id_set(spark, [3, 1, 3])
    assert seeds.columns == ["id"]
    assert sorted(r.id for r in seeds.collect()) == [1, 3]
    dsts = df.select(F.col("dst").alias("id"), "s")
    assert sorted(r.id for r in id_set(spark, dsts).collect()) == [-7, 1, 2, 3, 4]
    assert id_set(spark, []).collect() == []

    # the partition count is the session's, read at call time
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    try:
        for n in (int(saved), 3):
            spark.conf.set(conf, str(n))
            cached, rows = gather_table(df, "src")
            try:
                assert rows == len(ROWS)
                assert cached.is_cached
                parts = cached.select("src").rdd.glom().collect()
                assert len(parts) == n
                keys = [[r.src for r in part] for part in parts]
                assert all(k == sorted(k) for k in keys)
                # hash-partitioned on the key: no key spans two partitions
                assert sum(len(set(k)) for k in keys) == len({r[0] for r in ROWS})
            finally:
                cached.unpersist()
    finally:
        spark.conf.set(conf, saved)
