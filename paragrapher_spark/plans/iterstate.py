"""Loop-state lineage cuts for iterative kernels.

Every superstep kernel in this engine carries a per-vertex state table
through its loop and cuts its lineage once per step. A plain
``localCheckpoint`` is not enough on Spark 4.1 (classic mode): the
``LogicalRDD`` it returns copies the source plan's ``originStats`` (its
size estimate) and ``originConstraints``. A join's size estimate is the
product of its two sides, so a state that the per-step query references
twice (a self-join: pointer jumping, rank-delta comparison, frontier
anti-join) squares its estimate every generation. Measured on 4 cores:
5.4 MiB -> 17.5 TiB -> 2.2e26 B -> 3.0e52 B -> 5.3e104 B, a BigInt of
tens of millions of bits by generation 21. Every planning pass does
arithmetic on that number, so a chain of plain ``localCheckpoint`` cuts
that starts at 0.3 s per step reaches 6.2 s at generation 21; a cut that
drops only the constraints reaches 45 s at generation 23.

``StateCheckpointer.cut`` is ``localCheckpoint`` with both dropped from
the returned ``LogicalRDD`` — the metadata a parquet write and re-read
used to reset, without the write and the re-scan. A 30-generation
self-join loop through ``cut`` stays flat at ~0.3 s per step, and its
estimate stays at ``spark.sql.defaultSizeInBytes`` (a 63-bit number by
default). The cut keeps ``outputPartitioning`` and ``outputOrdering``,
so a state repartitioned on ``id`` still satisfies the next join's
distribution on ``id`` (the parquet re-read lost both).

One consequence: with no estimate, a cut state is never broadcast at
plan time. AQE still converts a join from the measured shuffle sizes,
and a kernel that wants the broadcast (PageRank's gather) hints it.

Scale notes (100 TB): the state lives only in executor block managers,
as any ``localCheckpoint`` does; no loop state is written to storage.
Losing an executor loses the state, and a run resumes from its last
``CheckpointManager`` snapshot (plans/checkpoint.py), the durable path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class StateCheckpointer:
    """Per-loop state cutter: ``localCheckpoint`` without the carried size
    estimate and constraints.

    Kernels do not build one: ``plans/superstep.py:run`` owns it and
    hands it to each step, then pins the result through it::

        def step(i, state, ckpt):
            state = ckpt.cut(next_state(state), eager=False)
            return state, {"changed": state.count()}

        loop = superstep.run(step, state, spark=spark, max_iter=20)
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm  # type: ignore[attr-defined]
        self._none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        self._of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Materialize ``df`` into cached partitions and return a
        lineage-cut equivalent whose plan carries no size estimate and no
        constraints.

        ``eager=False`` keeps the one-action-per-superstep property for
        loops whose next action materializes the checkpoint anyway."""
        lr = df.localCheckpoint(eager=eager)._jdf.logicalPlan()
        session = self.spark._jsparkSession  # type: ignore[attr-defined]
        # LogicalRDD(output, rdd, outputPartitioning, outputOrdering,
        # isStreaming, stream)(session, originStats, originConstraints)
        plan = lr.copy(
            lr.output(), lr.rdd(), lr.outputPartitioning(), lr.outputOrdering(),
            lr.isStreaming(), lr.stream(), session, self._none, self._none,
        )
        return DataFrame(self._of_rows(session, plan), self.spark)

    def cut_lazy(self, df: DataFrame) -> DataFrame:
        """`.transform(ckpt.cut_lazy)` drop-in for a fluent-chain
        ``.localCheckpoint(eager=False)`` (one-action-per-superstep loops)."""
        return self.cut(df, eager=False)

    def pin(self, *dfs: DataFrame):
        """Kernel epilogue: pin result frames into cached partitions
        through an eager ``cut``, so a result fed into a caller's next
        loop (e.g. PageRank's ``init_ranks``) starts with a clean plan.
        Returns the pinned frame (one argument) or a list of pinned
        frames, in argument order. ``superstep.run`` calls it on every
        kernel's result frames."""
        pinned = [self.cut(df) for df in dfs]
        return pinned[0] if len(pinned) == 1 else pinned
