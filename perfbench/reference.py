"""Single-process reference implementations the benchmark checks against.

Each function here is written from the kernel's documented semantics, with
numpy (or DuckDB for the triangle join), and never calls into
``paragrapher_spark``. Edge lists are ``(src, dst)`` int64 array pairs;
results are keyed by vertex id.
"""

from __future__ import annotations

import re
import numpy as np


def endpoints(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Sorted distinct vertex ids touched by an edge."""
    return np.unique(np.concatenate([src, dst]))


def unique_pairs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs sorted by (src, dst); ids must fit 31 bits."""
    if len(src) and (min(src.min(), dst.min()) < 0 or max(src.max(), dst.max()) >= 1 << 31):
        raise ValueError("vertex ids must lie in [0, 2^31)")
    key = np.unique((src.astype(np.int64) << 32) | dst.astype(np.int64))
    return key >> 32, key & 0xFFFFFFFF


def pagerank(
    src: np.ndarray, dst: np.ndarray, supersteps: int, damping: float = 0.85
) -> tuple[np.ndarray, np.ndarray]:
    """``supersteps`` steps of power iteration with dangling-mass
    redistribution, started from the uniform vector:

    r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling_mass/N)

    Parallel edges count once, as in a simple graph. Returns (sorted vertex
    ids, their ranks).
    """
    src, dst = unique_pairs(src, dst)
    ids = endpoints(src, dst)
    n = len(ids)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n)
    coef = 1.0 / outdeg[s]
    dangling = outdeg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(supersteps):
        mass = np.bincount(d, weights=rank[s] * coef, minlength=n)
        rank = ((1.0 - damping) + damping * rank[dangling].sum()) / n + damping * mass
    return ids, rank


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Exact triangle count of the undirected simple graph, by a DuckDB
    join over the degree-oriented edge set (each triangle once)."""
    import duckdb
    import pandas as pd

    keep = src != dst
    lo, hi = unique_pairs(np.minimum(src, dst)[keep], np.maximum(src, dst)[keep])
    ids, deg = np.unique(np.concatenate([lo, hi]), return_counts=True)
    dlo = deg[np.searchsorted(ids, lo)]
    dhi = deg[np.searchsorted(ids, hi)]
    lo_first = (dlo < dhi) | ((dlo == dhi) & (lo < hi))
    oriented = pd.DataFrame(
        {"s": np.where(lo_first, lo, hi), "d": np.where(lo_first, hi, lo)}
    )
    con = duckdb.connect()
    try:
        con.register("o", oriented)
        return int(
            con.execute(
                "SELECT count(*) FROM o x JOIN o y ON x.d = y.s "
                "JOIN o z ON z.s = x.s AND z.d = y.d"
            ).fetchone()[0]
        )
    finally:
        con.close()


def parse_binary_csr(raw: bytes) -> tuple[int, np.ndarray, np.ndarray]:
    """Parse the ``bin`` layout ``u64 n | u64 m | u64 offsets[n+1] |
    u32 dst[m]`` into (n, src, dst)."""
    n, m = np.frombuffer(raw, "<u8", count=2).tolist()
    offsets = np.frombuffer(raw, "<u8", count=n + 1, offset=16).astype(np.int64)
    dst = np.frombuffer(raw, "<u4", count=m, offset=16 + 8 * (n + 1)).astype(np.int64)
    if len(raw) != 16 + 8 * (n + 1) + 4 * m or offsets[-1] != m:
        raise ValueError("binary CSR header disagrees with the file body")
    src = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
    return n, src, dst


def encode_csr(n: int, src: np.ndarray, dst: np.ndarray) -> bytes:
    """The inverse of :func:`parse_binary_csr` for edges sorted by (src, dst)."""
    offsets = np.zeros(n + 1, dtype="<u8")
    offsets[1:] = np.cumsum(np.bincount(src, minlength=n))
    return b"".join(
        [
            np.array([n, len(dst)], dtype="<u8").tobytes(),
            offsets.tobytes(),
            dst.astype("<u4").tobytes(),
        ]
    )


_PY_IMPORT = re.compile(r"^from\s+(\S+)\s+import\s+(\S+)$", re.M)
_C_INCLUDE = re.compile(r'^#include\s+"([^"]+)"$', re.M)


def import_graph(
    repo: list[str], path: list[str], lang: list[str], content: list[str]
) -> tuple[int, np.ndarray, np.ndarray, np.ndarray]:
    """The corpus's file-level import graph, parsed line by line.

    Vertices are the distinct (repo, path) pairs numbered by their sorted
    order; an edge (src, dst, weight) counts the import statements in file
    src that name file dst. Python ``from R import a.b`` names ``R/a/b.py``;
    C ``#include "R/p"`` names ``R/p``. Imports of files outside the corpus
    are dropped. Returns (|V|, src, dst, weight), sorted by (src, dst).
    """
    keys = sorted(set(zip(repo, path)))
    vid = {f"{r}/{p}": i for i, (r, p) in enumerate(keys)}
    sites: dict[tuple[int, int], int] = {}
    for r, p, lg, text in zip(repo, path, lang, content):
        if lg == "python":
            targets = [f"{m}/{mod.replace('.', '/')}.py" for m, mod in _PY_IMPORT.findall(text)]
        elif lg == "c":
            targets = _C_INCLUDE.findall(text)
        else:
            continue
        s = vid[f"{r}/{p}"]
        for t in targets:
            d = vid.get(t)
            if d is not None:
                sites[(s, d)] = sites.get((s, d), 0) + 1
    pairs = sorted(sites)
    src = np.array([a for a, _ in pairs], dtype=np.int64)
    dst = np.array([b for _, b in pairs], dtype=np.int64)
    weight = np.array([sites[k] for k in pairs], dtype=np.int64)
    return len(keys), src, dst, weight
