"""Resumable superstep checkpoints with per-partition lineage + metrics.

The reference's resumability lives in its buffer state machine
(`src/webgraph.c:29-35`: C_IDLE -> C_REQUESTED -> J_READING ->
J_READ_COMPLETED -> C_USER_ACCESS) and its progress counters
(`src/webgraph.c:504-550`: READ_STATUS / READ_TOTAL_CALLBACKS /
READ_EDGES), plus the positioned, idempotent writes of its converters
(`test/test4_bin_converter_WG400.c:25-63`). Reified here as:

- a parquet snapshot of kernel state per checkpointed superstep
  (idempotent: written to a temp dir then atomically renamed), and
- a JSON-lines manifest, one record per superstep, carrying status,
  global metrics (delta, frontier size, durations) and *per-partition
  lineage* (partition id -> row count of the snapshot) — O(#partitions)
  driver data, mirroring the per-buffer metadata cachelines
  (`src/webgraph.c:843-853`).

``resume()`` returns the last COMPLETE superstep's snapshot so an
interrupted run restarts mid-iteration, matching ParaGrapher's resumable
block-loading semantics (north rule).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "manifest.jsonl"


def skew_factor(partition_rows: list[int]) -> float:
    """max/mean partition row count — 1.0 is perfectly balanced (the
    reference's edge-balanced blocks, `src/webgraph.c:957-1005`)."""
    if not partition_rows:
        return 1.0
    mean = sum(partition_rows) / len(partition_rows)
    return max(partition_rows) / mean if mean > 0 else 1.0


@dataclass
class CheckpointManager:
    root: str
    job_name: str = "job"
    _records: list[dict[str, Any]] = field(default_factory=list)

    def __post_init__(self) -> None:
        os.makedirs(self.job_dir, exist_ok=True)
        if os.path.exists(self.manifest_path):
            self._load()

    def _load(self) -> None:
        """Read the manifest. A crash mid-append leaves a torn FINAL line:
        it is dropped and truncated off the file, so the previous record
        stays the resume point and the next append starts on a clean line.
        A malformed line anywhere else is corruption and raises."""
        with open(self.manifest_path, "r+b") as fh:
            lines = fh.read().splitlines(keepends=True)
            offset = 0
            for n, line in enumerate(lines):
                if line.strip():
                    try:
                        self._records.append(json.loads(line))
                    except ValueError:
                        if any(rest.strip() for rest in lines[n + 1 :]):
                            raise
                        fh.truncate(offset)
                        return
                offset += len(line)
            if lines and not lines[-1].endswith(b"\n"):
                fh.write(b"\n")  # a complete record cut just before its newline

    @property
    def job_dir(self) -> str:
        return os.path.join(self.root, self.job_name)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.job_dir, MANIFEST_NAME)

    # -- write path ---------------------------------------------------------

    def save(
        self,
        iteration: int,
        df: DataFrame,
        metrics: dict[str, Any] | None = None,
        kind: str = "state",
    ) -> str:
        """Snapshot ``df`` for ``iteration`` and append a manifest record.

        Write is idempotent under retry: parquet lands in ``.tmp`` first,
        then a rename publishes it (the reference's positioned-write
        idempotence, test4:37-41). The manifest record is appended only
        after the rename, so a crash mid-write leaves the previous
        superstep as the resume point.
        """
        final = os.path.join(self.job_dir, f"iter={iteration:05d}")
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

        # per-partition lineage: O(#partitions) rows, like the reference's
        # per-buffer metadata records
        lineage_rows = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )

        part_rows = {str(r["partition"]): r["rows"] for r in lineage_rows}
        record = {
            "iteration": iteration,
            "status": "complete",
            "kind": kind,
            "checkpoint_path": final,
            "partitions": part_rows,
            "skew_factor": round(skew_factor(list(part_rows.values())), 4),
            "metrics": metrics or {},
        }
        self._records.append(record)
        with open(self.manifest_path, "a") as fh:
            fh.write(json.dumps(record) + "\n")
        return final

    def log_metrics(self, iteration: int, metrics: dict[str, Any]) -> None:
        """Manifest-only record for non-checkpointed supersteps (progress
        reporting — the READ_EDGES/READ_STATUS analogue)."""
        record = {
            "iteration": iteration,
            "status": "progress",
            "checkpoint_path": None,
            "partitions": {},
            "metrics": metrics,
        }
        self._records.append(record)
        with open(self.manifest_path, "a") as fh:
            fh.write(json.dumps(record) + "\n")

    # -- read path ----------------------------------------------------------

    def last_complete(self, kind: str = "state") -> dict[str, Any] | None:
        complete = [
            r
            for r in self._records
            if r["status"] == "complete" and r.get("kind", "state") == kind
        ]
        return complete[-1] if complete else None

    def resume(self, spark: SparkSession) -> tuple[int, DataFrame] | None:
        """(iteration, snapshot DataFrame) of the newest complete superstep,
        or None if no checkpoint exists."""
        rec = self.last_complete()
        if rec is None or not os.path.exists(rec["checkpoint_path"]):
            return None
        return rec["iteration"], spark.read.parquet(rec["checkpoint_path"])

    def records(self) -> list[dict[str, Any]]:
        return list(self._records)
