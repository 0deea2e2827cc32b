"""Reference results the benchmark checks every call's output against.

- PageRank on the chain graph: a numpy power iteration with the program's
  semantics (uniform teleport, dangling mass redistributed uniformly).
- Registry queries: the order-insensitive ``table_hash`` of
  ``tools/check_oracle.py`` over the rows of the query's DuckDB oracle.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

from tools.check_oracle import TABLES, table_hash

RANK_SUM_TOL = 1e-12
RANK_MAX_ABS_DIFF = 1e-12

def numpy_pagerank(src: np.ndarray, dst: np.ndarray, iterations: int,
                   damping: float = 0.85) -> np.ndarray:
    """Rank per node id (ids must be 0..n-1, every id on some edge)."""
    n = int(max(src.max(), dst.max())) + 1
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    p = np.full(n, 1.0 / n)
    rank = p.copy()
    safe_deg = np.where(dangling, 1.0, deg)
    for _ in range(iterations):
        dm = rank[dangling].sum()
        contrib = np.bincount(dst, weights=rank[src] / safe_deg[src], minlength=n)
        rank = (1.0 - damping) * p + damping * (contrib + dm * p)
    return rank


def pagerank_mismatch(ids: np.ndarray, ranks: np.ndarray, expected: np.ndarray) -> str | None:
    """None when the (id, rank) output matches ``expected``, else why not."""
    if len(ids) != len(expected) or len(np.unique(ids)) != len(expected):
        return f"{len(ids)} rank rows for {len(expected)} nodes"
    total = float(ranks.sum())
    if abs(total - 1.0) > RANK_SUM_TOL:
        return f"sum of ranks {total!r} != 1"
    diff = float(np.abs(ranks - expected[ids]).max())
    if diff > RANK_MAX_ABS_DIFF:
        return f"max |rank - numpy| = {diff:.3g}"
    return None


class Oracle:
    """DuckDB over the staged corpus, at most ``threads`` threads."""

    def __init__(self, corpus_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {max(1, threads)}")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS FROM '{os.path.join(corpus_dir, t + '.parquet')}'")

    def expected_hash(self, sql: str) -> str:
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        return table_hash(rel.fetchall(), cols)

    def close(self) -> None:
        self.con.close()
