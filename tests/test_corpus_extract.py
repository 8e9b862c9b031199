"""Corpus generation + import extraction correctness.

The extraction oracle re-parses the generated content with plain Python
regexes over the collected rows — independent of the engine's JVM-side
regexp path — and the sha256 per-row invariant (input_hint) is checked
across a write/read parquet boundary.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from paragrapher_spark.functions.extract import extract_import_keys
from paragrapher_spark.graph import edges_from_corpus
from paragrapher_spark.sources.corpus import synth_corpus

N_FILES = 300
N_REPOS = 6


def _oracle_sites(rows):
    py = re.compile(r"^from\s+(\S+)\s+import\s+(\S+)$", re.M)
    c = re.compile(r"^#include\s+\"([^\"]+)\"$", re.M)
    sites = []
    for r in rows:
        src = f"{r.repo}/{r.path}"
        if r.lang == "python":
            for repo, mod in py.findall(r.content):
                sites.append((src, f"{repo}/{mod.replace('.', '/')}.py"))
        else:
            for inc in c.findall(r.content):
                sites.append((src, inc))
    return sorted(sites)


def test_corpus_deterministic(spark):
    a = synth_corpus(spark, N_FILES, N_REPOS).orderBy("repo", "path").collect()
    b = synth_corpus(spark, N_FILES, N_REPOS).orderBy("repo", "path").collect()
    assert a == b
    assert len(a) == N_FILES
    assert len({(r.repo, r.path) for r in a}) == N_FILES


def test_content_sha256_invariant_across_io(spark, tmp_path):
    c = synth_corpus(spark, N_FILES, N_REPOS)
    before = {
        (r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
        for r in c.collect()
    }
    path = str(tmp_path / "corpus.parquet")
    c.write.mode("overwrite").parquet(path)
    rt = spark.read.parquet(path)
    after = {
        (r[0], r[1]): r[2]
        for r in rt.select("repo", "path", F.sha2("content", 256)).collect()
    }
    assert before == after


def test_extraction_matches_python_regex_oracle(spark):
    c = synth_corpus(spark, N_FILES, N_REPOS)
    got = sorted(
        (r.src_key, r.dst_key) for r in extract_import_keys(c).collect()
    )
    assert got == _oracle_sites(c.collect())
    assert len(got) > N_FILES  # corpus is link-dense enough to be a graph


def test_edges_resolve_without_loss(spark):
    c = synth_corpus(spark, N_FILES, N_REPOS)
    g = edges_from_corpus(c, num_partitions=4)
    sites = _oracle_sites(c.collect())
    # inner join must not drop any site: every generated target resolves
    assert g.edges.agg(F.sum("weight")).collect()[0][0] == len(sites)
    assert g.num_vertices == N_FILES
    # dense ids are 0..N-1
    ids = [r.id for r in g.vertices.select("id").orderBy("id").collect()]
    assert ids == list(range(N_FILES))
    # same-language linking: edge parity must match (python<->python, c<->c)
    bad = (
        g.edges.join(g.vertices.select(F.col("id").alias("src"), F.col("repo").alias("srepo")), "src")
        .join(g.vertices.select(F.col("id").alias("dst"), F.col("repo").alias("drepo")), "dst")
        .where(F.substring("srepo", -1, 1).cast("int") % 2 != F.substring("drepo", -1, 1).cast("int") % 2)
        .count()
    )
    assert bad == 0


def test_skew_present(spark):
    """The corpus must produce hub vertices (skew fixture) so hub paths
    are exercised — reference analogue: splitting giant adjacencies
    (`src/webgraph.c:957-971`)."""
    c = synth_corpus(spark, 1000, N_REPOS)
    g = edges_from_corpus(c, num_partitions=4)
    indeg = g.edges.groupBy("dst").count()
    mx = indeg.agg(F.max("count")).collect()[0][0]
    avg = indeg.agg(F.avg("count")).collect()[0][0]
    assert mx > 10 * avg


def test_sql_corpus_extraction_zero_loss(spark):
    """The SQL-reproducible corpus twin resolves every generated import
    through the same regex-extraction path (the oracle regenerates edges
    arithmetically; this pins that the STRING route recovers them all)."""
    from paragrapher_spark.sources.corpus import synth_corpus_sql
    from paragrapher_spark.functions.extract import extract_import_keys
    from paragrapher_spark.graph import edges_from_corpus

    corpus = synth_corpus_sql(spark, n_files=400, n_repos=8, max_out=10)
    sites = extract_import_keys(corpus)
    n_sites = sites.count()
    # every site resolves: total edge weight == number of import sites
    g = edges_from_corpus(corpus, num_partitions=4)
    from pyspark.sql import functions as F

    total_w = g.edges.agg(F.sum("weight")).collect()[0][0]
    assert n_sites > 0 and total_w == n_sites
    # expected site count from the generator's degree formula
    want = sum((i * 7919 + 13) % 10 for i in range(400))
    assert n_sites == want
