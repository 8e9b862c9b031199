"""Physical-plan audit: prints the formatted plans of the engine's key
operators and greps them for the properties the scale design promises:

- parquet scans show PushedFilters / pruned ReadSchema (no full-width reads)
- hot paths sit inside WholeStageCodegen spans (no row-at-a-time Python)
- per-superstep exchange count matches the design (PageRank: below the
  broadcast threshold the rank state is broadcast and the scatter's
  groupBy(id) is the one shuffle; above it, the sort-merge gather adds the
  rank shuffle; the persisted edge table must NOT re-exchange)

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from paragrapher_spark import get_spark  # noqa: E402
from paragrapher_spark.graph import gather_table  # noqa: E402
from paragrapher_spark.kernels.degrees import degree_distribution  # noqa: E402
from paragrapher_spark.kernels.pagerank import _next_ranks  # noqa: E402
from paragrapher_spark.operators.dedup import minhash_signatures  # noqa: E402
from paragrapher_spark.sources.edges import copurchase_edges, load_table  # noqa: E402


def _live_plan_lines(plan: str) -> list[str]:
    """Drop InMemoryRelation subtrees (the *stored* build lineage of a
    cached table, not re-executed at runtime) so operator counts reflect
    what a run of this plan actually does."""
    out: list[str] = []
    skip_indent: int | None = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
        out.append(line)
    return out


def summarize(name: str, df, show_full: bool = False) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    live = "\n".join(_live_plan_lines(plan))
    n_exchange = len(re.findall(r"(?<!Broadcast)Exchange ", live))
    n_broadcast = live.count("BroadcastExchange ")
    n_codegen = len(re.findall(r"WholeStageCodegen", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schema = re.findall(r"ReadSchema: ([^\n]*)", plan)
    print(f"== {name}")
    print(
        f"   exchanges={n_exchange} broadcasts={n_broadcast} "
        f"codegen_spans={n_codegen}"
    )
    for p in pushed:
        print(f"   pushed: [{p[:120]}]")
    for r in read_schema:
        print(f"   readSchema: {r[:160]}")
    if show_full:
        df.explain("formatted")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, sf_dir, "lineitem")
    # projection pruning: co-purchase derivation must read 2 columns only
    edges = copurchase_edges(spark, sf_dir)
    summarize("copurchase_edges (expect ReadSchema with only l_orderkey,l_partkey)", edges)

    summarize("degree_distribution", degree_distribution(edges))

    # filter pushdown on a scan with predicate
    filtered = li.where(F.col("l_quantity") > 40).select("l_orderkey")
    summarize("filtered lineitem (expect PushedFilters GreaterThan(l_quantity,40))", filtered)

    docs = load_table(spark, sf_dir, "documents")
    summarize("minhash_signatures (expect pure codegen, 0 exchanges)", minhash_signatures(docs))

    # bounded per-query top-k: the rank-limit filter must compile to
    # WindowGroupLimit BOTH below and above the shuffle (no task buffers
    # more than k rows per query)
    from paragrapher_spark.operators.similarity import knn_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_bruteforce(emb, queries=emb.where(F.col("vec_id") < 8), k=5)
    knn_plan = knn._jdf.queryExecution().executedPlan().toString()
    n_wgl = knn_plan.count("WindowGroupLimit")
    print(f"== knn_bruteforce top-k (expect >=2 WindowGroupLimit: partial+final)")
    print(f"   WindowGroupLimit={n_wgl} {'OK' if n_wgl >= 2 else 'MISSING'}")

    # top_terms: same bounded-buffer contract as knn (rank<=k per doc)
    from paragrapher_spark.functions.text import top_terms

    tt_plan = (
        top_terms(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    )
    n_wgl_tt = tt_plan.count("WindowGroupLimit")
    print("== top_terms top-k (expect >=2 WindowGroupLimit: partial+final)")
    print(f"   WindowGroupLimit={n_wgl_tt} {'OK' if n_wgl_tt >= 2 else 'MISSING'}")

    # sampling: the keep-filter must be a pure projection+filter above the
    # scan — NO exchange anywhere (map-only at any scale)
    from paragrapher_spark.operators.sampling import stratified_sample

    samp = stratified_sample(docs, "lang", {"en": 0.5}, ["doc_id"])
    samp_plan = samp._jdf.queryExecution().executedPlan().toString()
    n_ex_samp = len(re.findall(r"Exchange ", samp_plan))
    print("== stratified_sample (expect 0 exchanges — map-only)")
    print(f"   exchanges={n_ex_samp} {'OK' if n_ex_samp == 0 else 'SHUFFLING'}")

    # coreness single round: ONE exchange pair expected — the value join
    # onto the cached adjacency (the kernel's gather_table layout) + the
    # per-vertex H-index aggregation
    from pyspark.sql import Window

    adj, _ = gather_table(
        edges.select(F.col("src").alias("v"), F.col("dst").alias("u"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("u"))),
        "u",
    )
    cur = (
        adj.groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    ranked = adj.join(
        cur.select(F.col("id").alias("u"), F.col("c").alias("cu")), on="u"
    ).select(
        "v",
        "cu",
        F.row_number()
        .over(Window.partitionBy("v").orderBy(F.desc("cu"), F.asc("u")))
        .alias("rn"),
    )
    hstep = ranked.groupBy(F.col("v").alias("id")).agg(
        F.coalesce(
            F.max(F.when(F.col("cu") >= F.col("rn"), F.col("rn"))), F.lit(0)
        ).alias("c")
    )
    summarize(
        "coreness round (u-partitioned checkpointed adj: expect <=2 "
        "exchanges — the |V| value table into co-location + the |E| "
        "window re-hash on v; the agg reuses the window's v-hash)",
        hstep,
    )

    # PageRank single-superstep plans, built by the kernel's own
    # _next_ranks. Broadcast regime (the rank state under the session's
    # broadcast threshold): edges cached in their input partitioning
    coef = (
        edges.select("src", "dst")
        .join(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), on="src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("coef"))
    )
    eb = coef.persist()
    state = (
        eb.select(F.col("src").alias("id")).distinct()
        .select("id", F.lit(0.001).alias("rank"), F.lit(False).alias("is_dangling"))
        .localCheckpoint(eager=True)
    )
    summarize(
        "pagerank broadcast superstep (cached edges + broadcast checkpointed "
        "state: expect 1 exchange — the scatter agg, which carries the state "
        "rows — plus the state's BroadcastExchange, no SortMergeJoin)",
        _next_ranks(eb, state, 0.15, F.lit(0.001), damping=0.85, broadcast=True),
        show_full=True,
    )
    eb.unpersist()

    # sort-merge regime (state above the threshold, here forced with the
    # threshold at -1): edges cached by gather_table on src; the
    # checkpointed state is shuffled onto them
    e, _ = gather_table(coef, "src")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    summarize(
        "pagerank sort-merge superstep (gather_table edges + checkpointed "
        "state: expect 2 exchanges — the state into co-location + the "
        "scatter agg; the cached edges do not re-exchange)",
        _next_ranks(e, state, 0.15, F.lit(0.001), damping=0.85, broadcast=False),
        show_full=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
