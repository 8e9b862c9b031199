"""Registry, bench-record and source checks that need no Spark session.

Nothing here starts a JVM: the query registry is built without running a
query, ``_substrate`` is driven with stand-in session objects,
``bench._compact_record`` formats a synthetic record, and the hash scan
only parses source files.
"""

from __future__ import annotations

import ast
import gc
import json
import weakref
from pathlib import Path

import pytest

import __spark_entry__
import bench
import paragrapher_spark.queries as entry


class _Session:
    """Stand-in for a SparkSession: only its identity matters."""


def test_queries_and_oracles_name_the_same_146():
    names = set(entry.queries())
    assert len(names) == 146
    assert names == set(entry.oracle_sql())


def test_query_rejects_a_duplicate_name_and_an_empty_oracle():
    with pytest.raises(ValueError, match="already registered"):
        entry.query("graph_meta", oracle="SELECT 1")
    for oracle in ("", " \n "):
        with pytest.raises(ValueError, match="non-empty oracle"):
            entry.query("not_a_query", oracle=oracle)
    assert "not_a_query" not in entry.queries()


def test_every_query_is_registered_by_a_family_module():
    modules = {fn.__module__ for fn in entry.queries().values()}
    assert all(m.startswith("paragrapher_spark.queries.") for m in modules)
    assert __spark_entry__.queries is entry.queries
    assert __spark_entry__.oracle_sql is entry.oracle_sql


def test_substrate_reuses_per_session_and_evicts_on_switch(monkeypatch):
    monkeypatch.setattr(entry, "_SUBSTRATE_CACHE", {"spark": None, "values": {}})
    builds = []

    class _Value:
        pass

    def build():
        builds.append(1)
        return _Value()

    s1 = _Session()
    v1 = entry._substrate(s1, "k", build)
    assert entry._substrate(s1, "k", build) is v1
    assert len(builds) == 1
    entry._substrate(s1, ("other", "sf"), build)
    assert len(builds) == 2

    s2 = _Session()
    v2 = entry._substrate(s2, "k", build)
    assert v2 is not v1 and len(builds) == 3
    # the first session and everything built for it are no longer held
    dead_session, dead_value = weakref.ref(s1), weakref.ref(v1)
    del s1, v1
    gc.collect()
    assert dead_session() is None and dead_value() is None
    assert entry._substrate(s2, "k", build) is v2 and len(builds) == 3


@pytest.mark.parametrize("failed", [0, 3])
def test_compact_record_fits_with_a_full_sweep(failed):
    names = sorted(entry.queries())
    allq = {n: (-1.0 if i < failed else round(0.5 + i / 7, 2)) for i, n in enumerate(names)}
    queries = {
        "pagerank_copurchase": 24.81,
        "in_degree_dist": 1.2,
        "wcc": 9.87,
        "text_stats": 0.91,
        "minhash_near_dups": 6.54,
        "triangle_count_sf001": 2.31,
        "knn_ivf_sf001": 3.02,
        "sessions": 1.75,
        "webgraph_decode": 12.4,
    }
    extra = {
        "pagerank": {"edges_per_sec": 812345.6, "iterations": 17, "converged": True},
        "scaling": {"pairs": [[1, 4, 0.812]], "efficiency": 0.812},
        "sweep_n_skipped": 0,
    }
    line = bench._compact_record(queries, extra, allq, sweep_state="done")
    assert len(line) <= 1900
    rec = json.loads(line)
    assert rec["nproc"] == bench.NPROC
    assert rec["scaling_pairs"] == [[1, 4, 0.812]]
    assert all(len(p) == 3 for p in rec["scaling_pairs"])
    assert rec["sweep_sf0001"]["n_ok"] == 146 - failed
    assert len(rec["sweep_sf0001"]["failed"]) == failed
    assert rec["queries"] == queries


def _md5_inside_conv(tree: ast.AST) -> bool:
    def is_f_call(node: ast.AST, name: str) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )

    return any(
        is_f_call(conv, "conv") and any(is_f_call(n, "md5") for n in ast.walk(conv))
        for conv in ast.walk(tree)
    )


def test_md5_hash_is_defined_only_in_hashing_module():
    root = Path(__file__).resolve().parents[1]
    sources = [*(root / "paragrapher_spark").rglob("*.py"), root / "__spark_entry__.py"]
    hits = {
        p.relative_to(root).as_posix()
        for p in sources
        if _md5_inside_conv(ast.parse(p.read_text(), filename=str(p)))
    }
    assert hits == {"paragrapher_spark/functions/hashing.py"}


def test_kernels_take_partitions_from_the_session_and_share_one_gather_cache():
    """No public kernel has a ``num_partitions`` knob: every kernel reads
    the session's ``spark.sql.shuffle.partitions``, and passes it on to
    every ``dense_ids`` call (whose own default is ``defaultParallelism``).
    The sorted gather cache is built only by ``graph.gather_table``; the
    walks' ``(src, idx)`` sort is the one deliberate exception."""
    root = Path(__file__).resolve().parents[1]
    knobs, bare_dense_ids, sorts = set(), set(), set()
    for p in sorted((root / "paragrapher_spark" / "kernels").glob("*.py")):
        tree = ast.parse(p.read_text(), filename=str(p))
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                a = fn.args
                if any(x.arg == "num_partitions" for x in a.args + a.kwonlyargs):
                    knobs.add(f"{p.stem}.{fn.name}")
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and _call_name(n) == "dense_ids"
                and not any(k.arg == "num_partitions" for k in n.keywords)
            ):
                bare_dense_ids.add(f"{p.name}:{n.lineno}")
        if any(
            isinstance(n, ast.Attribute) and n.attr == "sortWithinPartitions"
            for n in ast.walk(tree)
        ):
            sorts.add(p.name)
    assert knobs == set()
    assert bare_dense_ids == set()
    assert sorts == {"walks.py"}


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _str_args(node: ast.Call) -> list[str | None]:
    return [a.value if isinstance(a, ast.Constant) else None for a in node.args]


def test_undirected_degrees_and_triangle_orientation_are_defined_once():
    """The endpoint-as-id projection behind the undirected degree table
    (``F.col("a"|"b").alias("id")``) lives only in ``graph.py``, and the
    ``(deg, id)`` struct comparison that orients edges for triangle
    listing lives only in ``kernels/triangles.py``."""
    root = Path(__file__).resolve().parents[1]
    sources = [*(root / "paragrapher_spark").rglob("*.py"), root / "__spark_entry__.py"]
    endpoint_ids, orientations = set(), set()
    for p in sources:
        name = p.relative_to(root).as_posix()
        for n in ast.walk(ast.parse(p.read_text(), filename=str(p))):
            if (
                isinstance(n, ast.Call)
                and _call_name(n) == "alias"
                and _str_args(n) == ["id"]
                and isinstance(n.func.value, ast.Call)
                and _call_name(n.func.value) == "col"
                and _str_args(n.func.value) in (["a"], ["b"])
            ):
                endpoint_ids.add(name)
            if isinstance(n, ast.Compare) and all(
                isinstance(s, ast.Call) and _call_name(s) == "struct"
                for s in (n.left, *n.comparators)
            ):
                lead = n.left.args[0] if n.left.args else None
                if (
                    isinstance(lead, ast.Call)
                    and _call_name(lead) == "col"
                    and _str_args(lead)[0] in ("da", "db", "vdeg", "wdeg", "deg")
                ):
                    orientations.add(name)
    assert endpoint_ids == {"paragrapher_spark/graph.py"}
    assert orientations == {"paragrapher_spark/kernels/triangles.py"}


def test_simple_graph_arcs_are_defined_once():
    """Kernels take the distinct, loop-free arc set from ``graph.arcs``:
    a ``F.col("src") != F.col("dst")`` filter under ``kernels/`` is left
    only in ``components.py`` and ``msf.py``, whose views keep their own
    orientation and weights."""
    root = Path(__file__).resolve().parents[1]
    hits = set()
    for p in sorted((root / "paragrapher_spark" / "kernels").glob("*.py")):
        for n in ast.walk(ast.parse(p.read_text(), filename=str(p))):
            if (
                isinstance(n, ast.Compare)
                and len(n.ops) == 1
                and isinstance(n.ops[0], ast.NotEq)
                and all(
                    isinstance(s, ast.Call)
                    and _call_name(s) == "col"
                    and _str_args(s) == [c]
                    for s, c in ((n.left, "src"), (n.comparators[0], "dst"))
                )
            ):
                hits.add(p.name)
    assert hits == {"components.py", "msf.py"}


def test_hub_cap_is_defined_once():
    """The loud hub cap in front of a self-join is ``operators/salting.py:
    hub_cap``: an ``F.col(...)`` compared with a cap name is left only
    there and in ``functions/text.py`` (``top_terms``' df filter, which
    feeds no self-join)."""
    root = Path(__file__).resolve().parents[1]
    caps = {"cap", "max_bucket_size", "max_df", "max_center_degree"}
    hits = set()
    for p in sorted((root / "paragrapher_spark").rglob("*.py")):
        for n in ast.walk(ast.parse(p.read_text(), filename=str(p))):
            if not isinstance(n, ast.Compare):
                continue
            sides = (n.left, *n.comparators)
            if any(
                isinstance(s, ast.Call) and _call_name(s) == "col" for s in sides
            ) and any(isinstance(s, ast.Name) and s.id in caps for s in sides):
                hits.add(p.relative_to(root / "paragrapher_spark").as_posix())
    assert hits == {"operators/salting.py", "functions/text.py"}
