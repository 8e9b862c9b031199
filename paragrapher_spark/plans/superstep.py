"""One superstep loop for every iterative kernel.

The reference keeps resumable loading in one place: a single buffer state
machine (`src/webgraph.c:29-35`) plus progress counters
(`src/webgraph.c:504-550`). ``run`` is that one place for the kernels. It
owns everything a superstep loop needs besides the step itself:

- resume from a ``CheckpointManager`` (the last complete snapshot),
- the ``StateCheckpointer`` the step cuts its state through,
- per-step ``duration_s`` (the step call alone: no tick, no checkpoint I/O),
- per-step shuffle bytes read from Spark's app-status store,
- per-step Janino compile seconds (``compile_s``, the step call alone):
  Spark inlines double literals into the generated Java, so a step whose
  literal changes every superstep (PageRank's restart term) recompiles
  its stages every time,
- ``history`` rows ``{key: i, **step metrics, duration_s, compile_s,
  shuffle_write_bytes, shuffle_read_bytes}``,
- the ``save``/``log_metrics`` cadence and the final save,
- the ``pin()`` epilogue (result frames cut eagerly).

A kernel supplies ``step(i, state, ckpt) -> (state, metrics)`` and, where
it needs them, small hooks: ``done`` (checked before every step),
``restore``/``snapshot`` (when the checkpoint payload is not the state
itself), ``result`` (the frames to pin) and ``final`` (where the finished
result is saved). Result semantics — iteration counts, raising on
``max_rounds`` — stay in the kernel, read off the returned ``Loop``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from paragrapher_spark.plans.checkpoint import CheckpointManager
from paragrapher_spark.plans.iterstate import StateCheckpointer


@dataclass
class Loop:
    result: Any  # the pinned ``result(state)`` frame, or a list of them
    state: Any  # state after the last step; its frames are NOT pinned
    last: int  # index of the last step run (the start index if none ran)
    done: bool  # ``done(state)`` held when the loop stopped
    history: list[dict[str, Any]]


def _shuffle_ticker(spark: SparkSession) -> Callable[[], tuple[int, int]]:
    """``tick()`` -> (write, read) shuffle bytes of the stages that ran
    since the previous tick, or (-1, -1) if the (not public-API) py4j path
    fails. The store lists stages newest first, so a tick walks only the
    stages newer than the last id it saw: its cost grows with the stages
    the step ran, not with every stage the store retains."""
    try:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()  # type: ignore[attr-defined]
        store = jsc.statusStore()
        args = [sc._jvm.java.util.ArrayList()] + [  # type: ignore[attr-defined]
            getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]

        def newest_first():
            # the listener filling the store runs on its own thread; drain
            # it so the step's last stage is recorded with its final bytes
            jsc.listenerBus().waitUntilEmpty()
            return store.stageList(*args).iterator()

        it = newest_first()
        mark = it.next().stageId() if it.hasNext() else -1
    except Exception:
        return lambda: (-1, -1)

    def tick() -> tuple[int, int]:
        nonlocal mark
        w = r = 0
        try:
            it = newest_first()
            newest = mark
            while it.hasNext():
                s = it.next()
                sid = s.stageId()
                if sid <= mark:
                    break
                newest = max(newest, sid)
                w += s.shuffleWriteBytes()
                r += s.shuffleReadBytes()
        except Exception:
            return -1, -1
        mark = newest
        return w, r

    return tick


def _compile_clock(spark: SparkSession) -> Callable[[], float]:
    """``clock()`` -> seconds the JVM has spent compiling generated code
    (``CodeGenerator.compileTime()``: one counter for the driver and the
    local-mode executors), or -1 if the (not public-API) py4j path fails."""
    try:
        gen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator  # type: ignore[attr-defined]
        gen.compileTime()
    except Exception:
        return lambda: -1.0

    def clock() -> float:
        try:
            return gen.compileTime() / 1e9
        except Exception:
            return -1.0

    return clock


def run(
    step: Callable[[int, Any, StateCheckpointer], tuple[Any, dict[str, Any]]],
    state: Any,
    *,
    spark: SparkSession,
    max_iter: int,
    key: str = "iteration",
    done: Callable[[Any], bool] = lambda s: False,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    restore: Callable[[int, DataFrame], Any] = lambda i, snap: snap,
    snapshot: Callable[[Any], DataFrame] = lambda s: s,
    result: Callable[[Any], DataFrame | tuple[DataFrame, ...]] = lambda s: s,
    final: Callable[[Loop], tuple[int, dict[str, Any]] | None] = lambda loop: None,
    start: int = 0,
) -> Loop:
    """Run ``step`` for indices ``start+1 .. max_iter`` while ``done(state)``
    is false.

    ``state`` is the state at index ``start``, or a zero-argument callable
    building it (called only when no snapshot resumes). A resumed run
    starts after the manifest's last complete snapshot, from
    ``restore(i, snapshot_df)``. Step ``i`` is saved as
    ``snapshot(state)`` when ``i % checkpoint_every == 0`` or ``i ==
    max_iter`` and logged as progress otherwise. After the loop the
    ``result(state)`` frames are pinned; if ``final(loop)`` returns
    ``(iteration, metrics)``, the (first) pinned frame is saved there as
    the ``final`` record.
    """
    i = start
    resumed = checkpoint.resume(spark) if checkpoint is not None else None
    if resumed is not None:
        i, snap = resumed
        state = restore(i, snap)
    elif callable(state):
        state = state()
    ckpt = StateCheckpointer(spark)
    tick = _shuffle_ticker(spark)
    compiled = _compile_clock(spark)
    history: list[dict[str, Any]] = []
    while i < max_iter and not done(state):
        i += 1
        c0 = compiled()
        t0 = time.monotonic()
        state, metrics = step(i, state, ckpt)
        metrics["duration_s"] = time.monotonic() - t0
        c1 = compiled()
        metrics["compile_s"] = c1 - c0 if min(c0, c1) >= 0 else -1.0
        metrics["shuffle_write_bytes"], metrics["shuffle_read_bytes"] = tick()
        history.append({key: i, **metrics})
        if checkpoint is not None:
            if i % checkpoint_every == 0 or i == max_iter:
                checkpoint.save(i, snapshot(state), metrics)
            else:
                checkpoint.log_metrics(i, metrics)
    out = result(state)
    pinned = ckpt.pin(*out) if isinstance(out, tuple) else ckpt.pin(out)
    loop = Loop(pinned, state, i, done(state), history)
    rec = final(loop) if checkpoint is not None else None
    if rec is not None:
        at, metrics = rec
        first = pinned[0] if isinstance(out, tuple) else pinned
        checkpoint.save(at, first, metrics, kind="final")
    return loop
