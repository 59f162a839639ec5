"""Count-Min sketch (Cormode & Muthukrishnan 2005) — north-rule extra.

Not in the reference; its closest structural analogue there is the
UniformCountingBloomFilter (SumFunction registers, ref:
bloom_filters.py:178-202) — count-min is d independent such rows with a
min-query. Guarantees: overcount only; est(x) <= true(x) + eps*N with
probability >= 1-delta, where eps = e/width, delta = e^-depth.

State: int64[d, w]; update = per-row bincount add; merge = matrix add
(associative+commutative, partition-invariant bit-for-bit).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.hashing import hash64
from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


#: per-row affine-hash params for portable mode (public LCG-style constants)
_PORTABLE_AB = [
    (1103515245, 12345),
    (1588635695, 54321),
    (69069, 362437),
    (1013904223, 1664525),
    (22695477, 1),
]


class CountMinKernel(SketchKernel):
    takes_counts = True

    def __init__(self, width: int = 2048, depth: int = 5, seed: int = 0, portable: bool = False):
        self.width = width
        self.depth = depth
        self.seed = seed
        # portable=True uses SQL-expressible affine row hashes so the full
        # (row, bucket, count) table is reproducible by the DuckDB oracle
        self.portable = portable
        if portable and depth > len(_PORTABLE_AB):
            raise ValueError(f"portable mode supports depth <= {len(_PORTABLE_AB)}")

    def spec(self) -> dict[str, Any]:
        return {
            "type": "countmin",
            "width": self.width,
            "depth": self.depth,
            "seed": self.seed,
            "portable": self.portable,
        }

    def _row_idx(self, values: np.ndarray, r: int) -> np.ndarray:
        if self.portable:
            a, b = _PORTABLE_AB[r]
            h = (a * values.astype(np.int64) + b + self.seed) % (2**31 - 1)
            return h % self.width
        return (hash64(values, self.seed * 31 + r) % np.uint64(self.width)).astype(np.int64)

    def row_bucket_sql(self, col: str, r: int) -> str:
        """Portable-mode (row r) bucket index as ANSI SQL."""
        assert self.portable
        a, b = _PORTABLE_AB[r]
        return (
            f"CAST((({a} * CAST({col} AS BIGINT) + {b} + {self.seed})"
            f" % {2**31 - 1}) % {self.width} AS INT)"
        )

    def empty(self) -> State:
        return {
            "table": np.zeros((self.depth, self.width), dtype=np.int64),
            "n": np.zeros(1, dtype=np.int64),
        }

    def update(self, state: State, values: np.ndarray) -> State:
        return self.update_counts(state, values, None)

    def update_counts(
        self, state: State, values: np.ndarray, counts: np.ndarray | None
    ) -> State:
        """Add each value ``counts`` times (once when None); float64 bincount
        weights are exact integers below 2^53."""
        if len(values) == 0:
            return state
        table = state["table"]
        for r in range(self.depth):
            idx = self._row_idx(values, r)
            hits = np.bincount(idx, weights=counts, minlength=self.width)
            table[r] += hits.astype(np.int64, copy=False)
        state["n"][0] += len(values) if counts is None else int(counts.sum())
        return state

    def merge(self, a: State, b: State) -> State:
        return {"table": a["table"] + b["table"], "n": a["n"] + b["n"]}

    def query(self, state: State, items: np.ndarray) -> np.ndarray:
        """Point-frequency estimates for a batch of items (vectorized)."""
        items = np.asarray(items, dtype=np.int64)
        est = np.full(len(items), np.iinfo(np.int64).max, dtype=np.int64)
        for r in range(self.depth):
            idx = self._row_idx(items, r)
            est = np.minimum(est, state["table"][r, idx])
        return est

    def estimate(self, state: State) -> list[float]:
        """Total stream length (exact) — histogram queries use query()."""
        return [float(state["n"][0])]

    def error_bound(self) -> tuple[float, float]:
        """(eps, delta): overcount <= eps*N w.p. >= 1-delta."""
        return math.e / self.width, math.exp(-self.depth)
