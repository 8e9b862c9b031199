"""Benchmark harness: one compact JSON line on stdout, full detail in
``BENCH_local.json`` next to this file.

Phases, each started only while the wall budget allows:

1. Headline: PageRank to 1e-6 on the sf0.1 co-purchase edge table at
   ``local[CPUS]``, best of two passes.
2. Main-phase probes in the same session: in-degree distribution, WCC,
   text stats, MinHash near-dups, sessionization, and triangle count plus
   IVF kNN at sf0.01.
3. BVGraph ingest probe: encode and decode the headline graph with the
   pure-Python BVGraph codec.
4. Scaling pair: the same fixed-superstep PageRank over the 16x replicated
   headline graph, once at ``local[1]`` and once at ``local[CPUS]``, each
   in its own worker JVM that also measures the parquet scan floor. The
   efficiency ``(throughput_hi / throughput_lo) / CPUS`` is reported as
   measured.
5. The compact line is printed (``"sweep": "pending"``), so a timeout
   during the sweep still leaves a complete record.
6. Sweep: every ``queries()`` entry once at sf0.001, cheapest first by the
   prior records' timings; queries the deadline cuts are listed as
   skipped. The compact line is printed again with the sweep summary.

The compact line stays <= 1900 chars and Spark's console progress bars
are off, so a reader that keeps only the last ~2000 chars of stdout still
gets a whole record.

Env knobs:
  SPARK_GRAFT_SF_DIR        headline input dir (default: the sf0.1 test data)
  SPARK_GRAFT_CPUS          main parallelism (default: this host's CPU count)
  SPARK_GRAFT_BUDGET        total wall budget seconds, 0 = unlimited (840)
  SPARK_GRAFT_SCALING       "0" skips the scaling pair
  SPARK_GRAFT_ALLQ          "0" skips the sweep
  SPARK_GRAFT_SMALL_SF_DIR  triangle/IVF probe dir (sf0.01 test data)
  SPARK_GRAFT_ALLQ_DIR      sweep input dir (sf0.001 test data)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

NPROC = os.cpu_count() or 1
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(NPROC)))
BUDGET = float(os.environ.get("SPARK_GRAFT_BUDGET", "840"))
T_START = time.monotonic()
#: the scaling pair's job: replicating the edge table keeps each superstep
#: several seconds long, so compute, not the stage floor, sets its time
REPLICATE_FACTOR = 16
PAIR_SUPERSTEPS = 3
#: wall seconds the scaling workers leave for the sweep
SWEEP_RESERVE_S = 300.0
WORKER_CAP_S = 900.0


def remaining() -> float:
    """Seconds left in the harness's self-enforced wall budget."""
    if BUDGET <= 0:
        return float("inf")
    return BUDGET - (time.monotonic() - T_START)


def _sf_label(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def _get_spark(cores: int, shuffle_partitions: int):
    from paragrapher_spark import get_spark

    return get_spark(
        app_name=f"bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        # progress-bar frames would push the record out of the stdout tail
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def pagerank_run(spark, sf_dir: str) -> dict:
    """Timed: derive co-purchase edges, PageRank to 1e-6. Returns metrics."""
    from paragrapher_spark.kernels.pagerank import pagerank
    from paragrapher_spark.sources.edges import copurchase_edges

    edges = copurchase_edges(spark, sf_dir).persist()
    n_edges = edges.count()  # materialize outside the timed section (the
    # reference also excludes dataset prep; loading IS part of the kernel
    # loop below since every superstep rescans the persisted table)
    # best of two convergence runs, both disclosed; the second is skipped
    # if it would bust the harness budget
    passes = []
    res = None
    for i in range(2):
        if i > 0 and remaining() < 3 * passes[0] + 60:
            break
        t0 = time.monotonic()
        res = pagerank(edges, tol=1e-6, max_iter=100)
        res.ranks.count()
        passes.append(time.monotonic() - t0)
    dt = min(passes)
    edges.unpersist()
    return {
        "seconds": dt,
        "passes": [round(p, 3) for p in passes],
        "edges": n_edges,
        "iterations": res.iterations,
        "converged": res.converged,
        "edges_per_sec": n_edges * res.iterations / dt if dt > 0 else 0.0,
    }


def pagerank_scale_run(spark, sf_dir: str, factor: int, iters: int) -> dict:
    """Fixed-superstep PageRank over the ``factor``-replicated graph, the
    scaling pair's job: identical at every parallelism level.

    One unmeasured superstep warms the JVM (JIT, codegen, cache), then one
    pass of ``iters`` supersteps; the steady figure is the median
    superstep time, robust to a one-off GC pause."""
    from paragrapher_spark.kernels.pagerank import pagerank
    from paragrapher_spark.sources.edges import copurchase_edges, replicate_edges

    edges = replicate_edges(copurchase_edges(spark, sf_dir), factor).persist()
    n_edges = edges.count()
    pagerank(edges, tol=0.0, max_iter=1)
    t0 = time.monotonic()
    res = pagerank(edges, tol=0.0, max_iter=iters)
    res.ranks.count()
    dt = time.monotonic() - t0
    edges.unpersist()
    iter_secs = [h["duration_s"] for h in res.history]
    steady = statistics.median(iter_secs)
    return {
        "seconds": round(dt, 3),
        "edges": n_edges,
        "iterations": iters,
        "superstep_secs": [round(s, 2) for s in iter_secs],
        "steady_superstep_sec": round(steady, 3),
        "steady_edges_per_sec": round(n_edges / steady) if steady > 0 else 0,
    }


def scan_floor_run(spark, sf_dir: str, repeats: int = 3) -> dict:
    """Parquet-scan throughput floor — the reference's read-bandwidth
    microbench (`test/read_bandwidth.c:37-57`) recast for a columnar
    engine: full-scan aggregate over the largest table.

    Honest labeling: the sandbox cannot drop the OS page cache, so only
    the FIRST read may touch storage; ``seconds_first`` is the coldest
    available figure and ``seconds_best`` (best of ``repeats``) measures
    warm-cache scan+decode throughput — the engine-overhead floor, which
    is the comparison the reference's IO-floor methodology makes (its
    in-memory decompression numbers are likewise cache-resident)."""
    import glob

    from pyspark.sql import functions as F

    path = f"{sf_dir}/lineitem.parquet"
    paths = glob.glob(f"{path}/**/*.parquet", recursive=True) or [path]
    nbytes = sum(os.path.getsize(p) for p in paths if os.path.isfile(p))
    best, first, rows = float("inf"), None, 0
    for _ in range(repeats):
        t0 = time.monotonic()
        row = (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_extendedprice").alias("s"),
            )
            .collect()[0]
        )
        dt = time.monotonic() - t0
        if first is None:
            first = dt
        best = min(best, dt)
        rows = row["n"]
    return {
        "bytes_on_disk": nbytes,
        "rows": rows,
        "seconds_first": round(first, 3),
        "seconds_best": round(best, 3),
        "mb_per_sec_warm": round(nbytes / 1e6 / best, 1) if best > 0 else 0.0,
        "rows_per_sec_warm": round(rows / best) if best > 0 else 0,
    }


def _worker(cores: int, sf_dir: str) -> None:
    spark = _get_spark(cores, shuffle_partitions=max(8, cores))
    spark.sparkContext.setLogLevel("ERROR")
    out = pagerank_scale_run(spark, sf_dir, REPLICATE_FACTOR, PAIR_SUPERSTEPS)
    out["cores"] = cores
    out["scan_floor"] = scan_floor_run(spark, sf_dir)
    print("BENCH_WORKER_JSON:" + json.dumps(out))
    spark.stop()


def _run_worker(cores: int, sf_dir: str, reserve: float) -> dict | None:
    """One scaling level in its own JVM. Never raises: a worker that times
    out or dies yields None, so one failed level cannot cost the record.
    The timeout is clamped to the remaining budget minus ``reserve``."""
    budget_left = remaining() - reserve - 20  # room for sweep + record
    if budget_left < 45:
        sys.stderr.write(f"scaling worker cores={cores}: budget exhausted; skipped\n")
        return None
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cores)],
            capture_output=True,
            text=True,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
            timeout=min(WORKER_CAP_S, budget_left),
        )
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"scaling worker cores={cores} timed out; skipped\n")
        return None
    except Exception as exc:  # noqa: BLE001
        sys.stderr.write(f"scaling worker cores={cores} failed: {exc}\n")
        return None
    for line in proc.stdout.splitlines():
        if line.startswith("BENCH_WORKER_JSON:"):
            return json.loads(line[len("BENCH_WORKER_JSON:"):])
    sys.stderr.write(proc.stdout[-1000:] + proc.stderr[-1000:])
    return None


def _scaling_pair(sf_dir: str, reserve: float) -> dict:
    """The ``scaling`` detail block: the replicated-PageRank worker at
    ``local[1]`` and at ``local[CPUS]``, efficiency as measured."""
    runs = {c: _run_worker(c, sf_dir, reserve) for c in (1, CPUS)}
    lo, hi = runs[1], runs[CPUS]
    eff = None
    if lo and hi and lo["steady_edges_per_sec"] > 0:
        eff = round(hi["steady_edges_per_sec"] / lo["steady_edges_per_sec"] / CPUS, 3)
    return {
        "replicate_factor": REPLICATE_FACTOR,
        "supersteps": PAIR_SUPERSTEPS,
        "skipped_levels": [c for c, r in runs.items() if r is None],
        "runs": {str(c): r for c, r in runs.items() if r},
        "pairs": [[1, CPUS, eff]] if eff is not None else [],
        "efficiency": eff,
    }


def _compact_record(
    queries: dict, extra: dict, allq: dict | None, sweep_state: str
) -> str:
    """Build the driver-facing one-line JSON (<=1900 chars guaranteed)."""
    scaling = extra.get("scaling", {})
    pr = extra.get("pagerank", {})
    out = {
        "metric": "pagerank_copurchase_to_1e-6_wall_sec",
        "value": queries.get("pagerank_copurchase", -1.0),
        "unit": "sec",
        "queries": queries,
        "sf": _sf_label(SF_DIR),
        "pagerank_edges_per_sec": round(pr.get("edges_per_sec", -1)),
        "pagerank_iterations": pr.get("iterations", -1),
        "pagerank_converged": pr.get("converged"),
        # [cores_lo, cores_hi, efficiency]
        "scaling_pairs": scaling.get("pairs", []),
        "scaling_efficiency": scaling.get("efficiency"),
        "nproc": NPROC,
        "wall_sec": round(time.monotonic() - T_START, 1),
        "sweep": sweep_state,
        "detail": "BENCH_local.json",
    }
    if allq:
        ok_items = [(k, v) for k, v in allq.items() if v >= 0]
        out["sweep_sf0001"] = {
            "n_ok": len(ok_items),
            "total_sec": round(sum(v for _, v in ok_items), 1),
            "failed": [k for k, v in allq.items() if v < 0],
            "n_skipped": extra.get("sweep_n_skipped", 0),
            "slowest": sorted(ok_items, key=lambda kv: -kv[1])[:3],
        }
    line = json.dumps(out)
    if len(line) > 1900:
        out.pop("sweep_sf0001", None)
        line = json.dumps(out)
        if len(line) > 1900:
            out["queries"] = {
                "pagerank_copurchase": queries.get("pagerank_copurchase", -1.0)
            }
            line = json.dumps(out)
    return line


def _load_prior_sweep() -> dict[str, float]:
    """Previous per-query sf0.001 timings for cheapest-first sweep
    ordering, MERGED across records (earliest-listed file wins per
    query): the latest BENCH_local.json knows the most recent run but
    omits whatever its deadline skipped; the committed r5 full sweep
    (145/146) and the r3 pre-iterstate record back-fill those, so a
    query's known cost never degrades to the median slot just because
    the last run cut it."""
    here = os.path.dirname(os.path.abspath(__file__))
    prior: dict[str, float] = {}
    for fname, key in (
        ("BENCH_local.json", "queries_sweep_sf0001"),
        ("BENCH_local_r5full.json", "queries_sweep_sf0001"),
        ("BENCH_local_r3b.json", "queries_sf001"),
    ):
        try:
            with open(os.path.join(here, fname)) as f:
                d = json.load(f).get(key) or {}
            for k, v in d.items():
                if k not in prior and isinstance(v, (int, float)) and v >= 0:
                    prior[k] = float(v)
        except Exception:  # noqa: BLE001 — ordering aid only, never fatal
            continue
    return prior


def _write_detail(queries: dict, extra: dict, allq: dict | None) -> None:
    detail = {
        "metric": "pagerank_copurchase_to_1e-6_wall_sec",
        "value": queries.get("pagerank_copurchase", -1.0),
        "unit": "sec",
        "queries": queries,
        "sf": _sf_label(SF_DIR),
        "nproc": NPROC,
        **extra,
    }
    if allq is not None:
        detail["queries_sweep_sf0001"] = allq
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        _worker(int(sys.argv[2]), SF_DIR)
        return

    queries: dict[str, float] = {}
    extra: dict = {}
    # prior sweep timings for cheapest-first sweep ordering — read BEFORE
    # the early _write_detail overwrites BENCH_local.json
    prior_sweep = _load_prior_sweep()
    sweep_on = os.environ.get("SPARK_GRAFT_ALLQ", "1") != "0"

    spark = _get_spark(CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from paragrapher_spark.kernels.components import connected_components
    from paragrapher_spark.kernels.degrees import degree_distribution
    from paragrapher_spark.kernels.triangles import triangle_count
    from paragrapher_spark.operators.dedup import minhash_candidates
    from paragrapher_spark.functions.text import text_stats
    from paragrapher_spark.sources.edges import copurchase_edges, load_table

    # headline: PageRank to convergence (in-process at CPUS)
    pr = pagerank_run(spark, SF_DIR)
    queries["pagerank_copurchase"] = round(pr["seconds"], 3)
    extra["pagerank"] = pr

    if remaining() > 120:
        edges = copurchase_edges(spark, SF_DIR).persist()
        edges.count()

        t0 = time.monotonic()
        degree_distribution(edges, "in").agg(F.sum("frequency")).collect()
        queries["in_degree_dist"] = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        cc = connected_components(edges)
        cc.components.groupBy().count().collect()
        queries["wcc"] = round(time.monotonic() - t0, 3)

        edges.unpersist()

        docs = load_table(spark, SF_DIR, "documents")
        t0 = time.monotonic()
        text_stats(docs).agg(F.sum("n_tokens")).collect()
        queries["text_stats"] = round(time.monotonic() - t0, 3)

        t0 = time.monotonic()
        minhash_candidates(docs, num_hashes=64, bands=16, threshold=0.35).count()
        queries["minhash_near_dups"] = round(time.monotonic() - t0, 3)

        from paragrapher_spark.operators.similarity import knn_ivf
        from paragrapher_spark.streaming.events import sessionize_batch

        # knn_ivf + triangle_count run at sf0.01: the plans are
        # scale-independent and their sf0.1 runs would cost ~25 s of the
        # sweep's time. Keys carry the sf tag so comparisons never mix
        # scales.
        sf001_dir = os.environ.get(
            "SPARK_GRAFT_SMALL_SF_DIR", "/root/testdata/sf0.01"
        )
        e001 = copurchase_edges(spark, sf001_dir).persist()
        e001.count()
        t0 = time.monotonic()
        tri = triangle_count(e001).collect()[0]["triangles"]
        queries["triangle_count_sf001"] = round(time.monotonic() - t0, 3)
        extra["triangles_sf001"] = tri
        e001.unpersist()

        emb001 = load_table(spark, sf001_dir, "embeddings")
        t0 = time.monotonic()
        knn_ivf(emb001, k=5, n_centroids=16, n_probe=4).count()
        queries["knn_ivf_sf001"] = round(time.monotonic() - t0, 3)

        ev = load_table(spark, SF_DIR, "events")
        t0 = time.monotonic()
        sessionize_batch(ev, gap_minutes=30).count()
        queries["sessions"] = round(time.monotonic() - t0, 3)

    if remaining() > 90:
        # BVGraph ingest probe — the reference's headline metric class is
        # compressed-graph LOAD throughput (paper §5.2/§5.4: 179-952 M
        # edges/s with a C/Java codec). This engine's steady-state path is
        # transcode-once -> parquet (the parquet scan_floor is then the
        # "decompressor"); the native pure-Python codec is the one-time
        # bridge, measured here in both directions on the headline graph so
        # the cost is disclosed, not hidden.
        import shutil
        import tempfile

        from paragrapher_spark.graph import Graph
        from paragrapher_spark.sources.webgraph import read_webgraph, write_webgraph

        ed = copurchase_edges(spark, SF_DIR)
        n_v = ed.agg(
            F.greatest(F.max("src"), F.max("dst")).alias("mx")
        ).collect()[0]["mx"] + 1
        n_e = ed.count()
        gw = Graph(
            vertices=spark.range(n_v).select(
                "id",
                F.lit(None).cast("string").alias("repo"),
                F.lit(None).cast("string").alias("path"),
            ),
            edges=ed.withColumn("weight", F.lit(1).cast("long")),
            num_vertices=int(n_v),
            num_edges=n_e,
        )
        wg_dir = tempfile.mkdtemp(prefix="bench_wg_")
        base = os.path.join(wg_dir, "copurchase")
        try:
            t0 = time.monotonic()
            write_webgraph(gw, base)
            enc_dt = time.monotonic() - t0
            t0 = time.monotonic()
            m_dec = read_webgraph(spark, base).edges.count()
            dec_dt = time.monotonic() - t0
            gbytes = os.path.getsize(base + ".graph")
            queries["webgraph_decode"] = round(dec_dt, 3)
            extra["webgraph_ingest"] = {
                "edges": m_dec,
                "bits_per_edge": round(gbytes * 8 / max(1, m_dec), 2),
                "encode_sec": round(enc_dt, 3),
                "encode_edges_per_sec": round(m_dec / enc_dt) if enc_dt > 0 else 0,
                "decode_sec": round(dec_dt, 3),
                "decode_edges_per_sec": round(m_dec / dec_dt) if dec_dt > 0 else 0,
                "note": (
                    "one-time transcode bridge (pure-Python bit codec, "
                    "distributed); steady-state reads use parquet — see "
                    "scan_floor"
                ),
            }
        finally:
            shutil.rmtree(wg_dir, ignore_errors=True)

    spark.stop()

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0" and CPUS > 1:
        extra["scaling"] = _scaling_pair(
            SF_DIR, reserve=SWEEP_RESERVE_S if sweep_on else 0.0
        )

    # early compact record: headline and scaling pair are on stdout before
    # the sweep starts, so a timeout during the sweep keeps them
    _write_detail(queries, extra, None)
    print(_compact_record(queries, extra, None, sweep_state="pending"), flush=True)

    # per-query regression sweep: every registry query, one pass at
    # sf0.001, under the harness deadline; anything cut is listed as
    # skipped.
    allq: dict[str, float] = {}
    skipped_q: list[str] = []
    if sweep_on:
        spark = _get_spark(CPUS, shuffle_partitions=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import __spark_entry__ as entrymod

        allq_dir = os.environ.get(
            "SPARK_GRAFT_ALLQ_DIR", "/root/testdata/sf0.001"
        )
        # cheapest-first by the prior records' sweep timings (registry
        # order groups queries by family, not by cost), so a deadline cut
        # drops the most expensive queries. Unknown/new queries slot in at
        # the median so one new monster cannot eat the budget before the
        # bulk has reported.
        qmap = entrymod.queries()
        if prior_sweep:
            median = sorted(prior_sweep.values())[len(prior_sweep) // 2]
            ordered = sorted(
                qmap, key=lambda n: (prior_sweep.get(n, median), n)
            )
        else:
            ordered = list(qmap)
        for name in ordered:
            fn = qmap[name]
            if remaining() < 30:
                skipped_q.append(name)
                continue
            t0 = time.monotonic()
            try:
                fn(spark, allq_dir).count()
                allq[name] = round(time.monotonic() - t0, 2)
            except Exception as exc:  # noqa: BLE001 — a broken query must
                # not take down the whole bench record
                sys.stderr.write(f"sweep {name} failed: {exc}\n")
                allq[name] = -1.0
        spark.stop()
        extra["sweep_n_skipped"] = len(skipped_q)
        extra["sweep_skipped"] = skipped_q
        if skipped_q:
            sys.stderr.write(
                f"sweep: budget cut {len(skipped_q)}/{len(allq) + len(skipped_q)}"
                f" queries: {','.join(skipped_q[:20])}...\n"
            )

    _write_detail(queries, extra, allq)
    sweep_state = (
        "done" if not skipped_q else f"partial({len(skipped_q)} skipped)"
    )
    print(_compact_record(queries, extra, allq, sweep_state=sweep_state), flush=True)


if __name__ == "__main__":
    main()
