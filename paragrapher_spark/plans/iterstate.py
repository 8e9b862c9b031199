"""Loop-state lineage hygiene for iterative kernels.

Every superstep kernel in this engine carries a per-vertex state table
through its loop with ``localCheckpoint(eager=True)`` cuts. That is the
documented Spark discipline — and it is NOT sufficient: on Spark 4.1
(classic mode), when the per-step query references the checkpointed
state TWICE (a self-join — e.g. pointer jumping, rank-delta comparison,
frontier anti-join), a driver-side cost in ``Dataset.checkpoint`` /
``localCheckpoint`` grows GEOMETRICALLY with the number of chained
checkpoint generations. Reproduced minimally (256-row state, 9 tasks,
6 jobs per step, flat analyzed plan, flat RDD debug lineage): per-step
wall is flat ~0.3 s until ~18 generations, then 2 s, 5 s, 12 s, 32 s —
doubling per step, independent of join strategy (broadcast and SMJ),
checkpoint kind (local and reliable), and constraint propagation on or
off. Whatever structure doubles is invisible to the plan printers, but
a parquet ROUND-TRIP fully severs it: the same loop with a write+read
every 8 steps runs 40 generations flat (15 s total).

The growth rate follows the REFERENCE COUNT: with R references to the
prior state per composed step, the hidden cost multiplies ~R× per
generation, so the cliff sits near R^g ≈ 2^18 — measured directly on
the SCC kernel's 4-reference fused double-step: period 8 (chains of 8
generations, 4^8 ≈ 2^16) hits 65 s single actions, period 4 stays at
≤2 s. The default period is therefore 4: safe for every loop shape in
this engine (R ≤ 4), at the cost of one tiny parquet round-trip per 4
supersteps.

``StateCheckpointer`` packages that observation: ``cut(df)`` is a
drop-in replacement for ``df.localCheckpoint(eager=True)`` that inserts
a parquet round-trip every ``period``-th cut (default 4, safely under
the measured cliff for up to 4 state references per step); round-trip
files are retained until
``close()`` or interpreter exit (see ``cut`` for why).

Scale notes (100 TB): the state table is one row per vertex (id + a few
columns); writing it every ``period`` supersteps adds one columnar
write+scan per few barriers — noise next to the per-superstep shuffles, and the
standard large-graph practice anyway (GraphFrames' iterative algorithms
checkpoint to durable storage on a cadence for exactly this class of
driver blowup). ``base_dir`` must be executor-visible on a real cluster
(HDFS/S3/NFS) — set ``PG_ITERSTATE_DIR``; the local-mode default is a
process-private temp dir.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

#: Cut generations between parquet round-trips. The measured cliff is
#: R^generations ~ 2^18 for R references per step; 4 is safe for every
#: loop shape in this engine (R <= 4: 4^4 = 256 << 2^18).
DEFAULT_PERIOD = 4


class StateCheckpointer:
    """Per-loop state cutter: localCheckpoint generations with a
    lineage-severing parquet round-trip every ``period``-th cut.

    Kernels do not build one: ``plans/superstep.py:run`` owns it and
    hands it to each step, then pins the result and closes it::

        def step(i, state, ckpt):
            state = ckpt.cut(next_state(state), eager=False)
            return state, {"changed": state.count()}

        loop = superstep.run(step, state, spark=spark, max_iter=20)
    """

    def __init__(
        self,
        spark,
        period: int = DEFAULT_PERIOD,
        base_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.period = max(1, period)
        self._n = 0
        self._owns_base = base_dir is None and "PG_ITERSTATE_DIR" not in os.environ
        base = base_dir or os.environ.get("PG_ITERSTATE_DIR")
        if base is None:
            base = tempfile.mkdtemp(prefix="pg_iterstate_")
        self._base = base
        self._run = uuid.uuid4().hex[:12]
        self._paths: list[str] = []
        if self._owns_base:
            # Default lifetime: the LAST round-trip's files survive until
            # interpreter exit, so kernels may return DataFrames backed by
            # them without a pinning dance; ``close()``/``pin()`` is the
            # opt-in eager cleanup for kernels that localCheckpoint their
            # output first.
            atexit.register(shutil.rmtree, base, ignore_errors=True)
        else:
            # Shared/external base dir (PG_ITERSTATE_DIR or explicit
            # base_dir): never delete the base itself, but DO delete this
            # run's own round-trip files at interpreter exit — without
            # this, every un-close()d kernel call leaks its state copies
            # onto shared storage across runs (ADVICE r4). Names are
            # namespaced by self._run, so concurrent runs sharing the dir
            # only ever remove their own files.
            atexit.register(self._drop_paths)

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Materialize ``df`` and return a lineage-cut equivalent.

        ``eager=False`` keeps the one-action-per-superstep property for
        loops whose next action materializes the checkpoint anyway; the
        parquet round-trip on period boundaries is always eager (the
        write is a job)."""
        self._n += 1
        if self._n % self.period:
            return df.localCheckpoint(eager=eager)
        path = os.path.join(self._base, f"{self._run}_{self._n}")
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        # ALL round-trip files are retained until close()/atexit: a kernel
        # may interleave several state lines through one checkpointer, and
        # lazily-cut union chains (e.g. an accumulating result table) can
        # legitimately read an old round-trip at the very end of the run —
        # deleting the previous file on each boundary would break them.
        # Disk cost: one state-table copy per `period` cuts.
        self._paths.append(path)
        return out

    def cut_lazy(self, df: DataFrame) -> DataFrame:
        """`.transform(ckpt.cut_lazy)` drop-in for a fluent-chain
        ``.localCheckpoint(eager=False)`` (one-action-per-superstep loops)."""
        return self.cut(df, eager=False)

    def pin(self, *dfs: DataFrame):
        """Kernel epilogue: pin result frames into cached partitions
        (eager ``localCheckpoint`` truncates lineage, so nothing can
        re-read a round-trip file afterwards), then ``close()`` —
        reclaiming this run's parquet round-trips immediately instead of
        at interpreter exit. Returns the pinned frame (one argument) or
        a list of pinned frames, in argument order. ``superstep.run``
        calls it on every kernel's result frames."""
        pinned = [df.localCheckpoint(eager=True) for df in dfs]
        self.close()
        return pinned[0] if len(pinned) == 1 else pinned

    def _drop_paths(self) -> None:
        for p in self._paths:
            shutil.rmtree(p, ignore_errors=True)
        self._paths = []

    def close(self) -> None:
        """Delete round-trip files (every returned/retained DataFrame must
        already be consumed or pinned by the caller — reads after close()
        fail loudly on the missing files rather than silently
        recomputing). Optional: without it, files live until atexit."""
        self._drop_paths()
        if self._owns_base:
            shutil.rmtree(self._base, ignore_errors=True)
