"""Seeded link-graph benchmark for paragrapher_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 \\
        --seconds 10 --trace 0

One driver process on ``local[nproc]`` sets up ``SETUPS`` times (session
start and the seeded input written to disk) and reports the median set-up
time. It then runs the workload's untimed warm-up once, and the workload
in a closed loop, one call after another, until ``--seconds`` have passed
(at least one pass). It checks every output against a single-process
reference outside the timed section, and prints one JSON object as the
last line of stdout.

``--trace 0`` reports the end-to-end metrics (medians over passes).
``--trace 1`` runs one pass with the status-store probe around every call
and reports the per-layer metrics. ``trace_overhead_s`` is the time the
probe spent reading the status store, which is what the traced pass adds to
an untraced one; ``traced_wall_s`` is that pass's wall time.

The line before the result carries the run record: host, versions, seed,
Spark confs in force and the size of every input. All files go to
``.perfbench_work/`` in the checkout, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "superstep_p50_s": "s",
    "edges_per_s": "1/s",
    "ok_frac": "ratio",
}

CALL_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "driver_only_s": "s",
    "slot_util": "ratio",
}

OTHER_UNITS = {
    # JVM heap growth makes this vary by ~25% between runs of one seed,
    # too much for a bounded end-to-end metric
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "warm_s": "s",
    "sources.read_rows": "count",
    "sources.csr_write_bytes": "bytes",
    "graph.vertices": "count",
    "graph.edges": "count",
    "kernels.pagerank.supersteps": "count",
    "kernels.pagerank.prologue_s": "s",
    "kernels.pagerank.jobs_per_superstep": "jobs/step",
    "kernels.pagerank.resume_s": "s",
    "kernels.triangles.count": "count",
    "plans.checkpoint.snapshots": "count",
    "plans.checkpoint.bytes": "bytes",
    "plans.checkpoint.manifest_records": "count",
    "traced_wall_s": "s",
    "trace_overhead_s": "s",
    "unaccounted_s": "s",
}


def per_layer_units(calls: list[str]) -> dict[str, str]:
    units = {f"{c}.{k}": u for c in calls for k, u in CALL_UNITS.items()}
    units.update(OTHER_UNITS)
    return units


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sandbox() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def _sandbox_conf(trace: bool) -> dict[str, str]:
    from probe import TRACE_CONF

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return {**conf, **TRACE_CONF} if trace else conf


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def _stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, if one was started, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if SparkContext._gateway is None:
        return
    proc = _jvm_proc()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def _host_record(spark, args, inputs: dict) -> dict:
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = [
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.ui.retainedStages",
        "spark.ui.retainedJobs",
    ]
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram_kb / (1 << 20), 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "confs": {k: conf.get(k, None) for k in keys},
        "inputs": inputs,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "paragrapher_spark", "__init__.py")):
        _fail(f"no paragrapher_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    _sandbox()
    try:
        return _run(args)
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args) -> int:
    import paragrapher_spark
    from paragrapher_spark import get_spark

    if not os.path.abspath(paragrapher_spark.__file__).startswith(ROOT + os.sep):
        _fail(f"paragrapher_spark imported from outside {ROOT}")
    from probe import StatusProbe, Tracer
    from workloads import CALLS, WORKLOADS, known_graph

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    slots = len(os.sched_getaffinity(0))
    input_dir = os.path.join(WORK, "input")

    # -- set-up, SETUPS times; the last session stays up for the passes
    spark = None
    setup_s, start_s = [], []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        shutil.rmtree(input_dir, ignore_errors=True)
        os.makedirs(input_dir)
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{slots}]",
            extra_conf=_sandbox_conf(bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        start_s.append(time.perf_counter() - t0)
        inp = wl.make_input(spark, input_dir, args.seed)
        setup_s.append(time.perf_counter() - t0)
    warm = os.path.join(WORK, "warm")
    os.makedirs(warm)
    t0 = time.perf_counter()
    wl.warm(spark, warm, inp, Tracer())
    warm_s = time.perf_counter() - t0

    known = known_graph(inp)
    stats = known.stats()
    refs: dict = {}
    attempted = failed = 0

    def one_pass(tracer):
        nonlocal attempted, failed
        work = os.path.join(WORK, "pass")
        os.makedirs(work, exist_ok=True)
        t0 = time.perf_counter()
        try:
            p = wl.run(spark, work, inp, tracer)
        except Exception:
            traceback.print_exc()
            attempted += len(tracer.spans)
            failed += 1
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        try:
            ok = wl.check(p, known, refs)
        except Exception:
            traceback.print_exc()
            ok = {name: False for name in {s.name for s in tracer.spans}}
        ops = {s.name for s in tracer.spans}
        attempted += len(tracer.spans)
        bad = [name for name in ops if not ok.get(name, False)]
        failed += sum(1 for s in tracer.spans if s.name in bad)
        if bad:
            print(f"perfbench: output check failed: {sorted(bad)}", file=sys.stderr)
        return p, wall

    metrics: dict[str, float] = {}
    record_extra: dict = {}
    if args.trace:
        tracer = Tracer(StatusProbe(spark))
        p, traced_wall = one_pass(tracer)
        if p is not None:
            metrics.update(tracer.layer_metrics(CALLS, slots))
            metrics.update(wl.extra(p, tracer))
            metrics["sources.read_rows"] = float(p.out["rows"])
            metrics["graph.vertices"] = float(p.out["graph"].num_vertices)
            metrics["graph.edges"] = float(p.out["graph"].num_edges)
            metrics["traced_wall_s"] = traced_wall
            metrics["trace_overhead_s"] = tracer.probe_s
            in_calls = sum(s.wall_s for s in tracer.spans)
            metrics["unaccounted_s"] = traced_wall - in_calls - tracer.probe_s
            # the breakdown holds when the timed calls cover ~all of the pass
            record_extra["calls_share_of_traced_wall"] = in_calls / traced_wall
            lost = [c for c in CALLS if tracer.counter(c, "jobs") is None and tracer.wall(c)]
            record_extra["calls_with_lost_stages"] = lost
            for name in per_layer_units(CALLS):
                if name not in metrics and not any(name.startswith(c + ".") for c in lost):
                    metrics[name] = 0.0
        metrics["session.start_s"] = median(start_s)
        metrics["warm_s"] = warm_s
        units = per_layer_units(CALLS)
    else:
        walls, steps, rates = [], [], []
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start < args.seconds:
            tracer = Tracer()
            p, wall = one_pass(tracer)
            if p is None:
                break
            walls.append(wall)
            durations = [h["duration_s"] for r in p.pagerank for h in r.history]
            steps.append(median(durations))
            rates.append(
                p.out["graph"].num_edges * len(durations) / tracer.wall("kernels.pagerank")
            )
        if walls:
            metrics["wall_s"] = median(walls)
            metrics["superstep_p50_s"] = median(steps)
            metrics["edges_per_s"] = median(rates)
        metrics["setup_s"] = median(setup_s)
        metrics["ok_frac"] = (attempted - failed) / max(attempted, 1)
        units = END_TO_END

    peak_rss = _vm_hwm_mb("self") + _vm_hwm_mb(_jvm_proc().pid)
    if args.trace:
        metrics["peak_rss_mb"] = peak_rss
    record = _host_record(spark, args, {args.workload: stats})
    record.update(
        setup_runs_s=setup_s, session_start_runs_s=start_s, warm_s=warm_s,
        peak_rss_mb=peak_rss,
        **record_extra,
    )

    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and attempted > 0,
                "attempted": max(attempted, 1),
                "failed": failed if attempted else 1,
                "metrics": {
                    k: {"value": metrics[k], "unit": units[k]}
                    for k in units
                    if k in metrics
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
