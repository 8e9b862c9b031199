"""Seeded workload inputs, written to disk during set-up.

The seed is the only source of variation: R-MAT edges come from a numpy
generator seeded with it, and the source-code corpus from
``synth_corpus(seed=...)``. The program under test only ever sees the files.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import numpy as np

from reference import encode_csr, endpoints, import_graph, unique_pairs

#: R-MAT quadrant probabilities (a, b, c; d = 1 - a - b - c), the Graph500 set
RMAT_ABC = (0.57, 0.19, 0.19)


@dataclass
class EdgeInput:
    """An input graph as the benchmark knows it, independent of the program."""

    path: str
    num_vertices: int
    src: np.ndarray | None  # None until parsed (corpus tables)
    dst: np.ndarray | None
    weight: np.ndarray | None = None

    def stats(self) -> dict[str, float]:
        files = [self.path] if os.path.isfile(self.path) else glob.glob(
            os.path.join(self.path, "**", "*"), recursive=True
        )
        return {
            "vertices": self.num_vertices,
            "edges": len(self.src),
            "max_out_degree": int(np.bincount(self.src).max()) if len(self.src) else 0,
            "bytes_on_disk": sum(os.path.getsize(f) for f in files if os.path.isfile(f)),
        }


def rmat(scale: int, edge_factor: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """R-MAT edges over 2^scale ids from ``edge_factor * 2^scale`` draws,
    self-loops dropped and parallel edges merged; sorted by (src, dst)."""
    rng = np.random.default_rng(seed)
    a, b, c = RMAT_ABC
    draws = edge_factor << scale
    src = np.zeros(draws, np.int64)
    dst = np.zeros(draws, np.int64)
    for level in range(scale):
        u = rng.random(draws)
        src |= (u >= a + b).astype(np.int64) << level
        dst |= (((u >= a) & (u < a + b)) | (u >= a + b + c)).astype(np.int64) << level
    keep = src != dst
    return unique_pairs(src[keep], dst[keep])


def write_rmat_csr(path: str, scale: int, edge_factor: int, seed: int) -> EdgeInput:
    """Write a seeded R-MAT graph as a ``bin`` binary CSR file over ids
    0..2^scale-1 (ids that touch no edge have empty adjacencies)."""
    src, dst = rmat(scale, edge_factor, seed)
    with open(path, "wb") as fh:
        fh.write(encode_csr(1 << scale, src, dst))
    return EdgeInput(path, len(endpoints(src, dst)), src, dst)


def corpus_import_graph(table_dir: str) -> EdgeInput:
    """The import graph of a corpus table, parsed from its parquet files
    with pyarrow and :func:`reference.import_graph`."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(table_dir, "data", "*", "*.parquet")))
    cols = pq.ParquetDataset(files).read(columns=["repo", "path", "lang", "content"])
    d = cols.to_pydict()
    n, src, dst, weight = import_graph(d["repo"], d["path"], d["lang"], d["content"])
    return EdgeInput(table_dir, n, src, dst, weight)
