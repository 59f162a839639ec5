"""HyperLogLog++ as a mergeable register-vector kernel.

Semantics match the reference's HyperLogLogPlusPlus
(ref: src/estimators/hyper_log_log.py:115-246):

- 64-bit hash; top ``p`` bits pick the bucket, the remaining ``64-p`` bits
  give rho = (#leading zeros within that window) + 1 (ref: :137-175);
- register merge is elementwise max (ref: :232);
- estimate: alpha_m * m^2 / sum(2^-M), linear counting ``m*ln(m/V)`` when
  some registers are zero AND the linear estimate is at or below the HLL++
  paper threshold for p (ref: :177-215, threshold table :41-57);
- the reference's "simplified sparse mode" (exact set below 6m distinct,
  ref: :127-128,159-164) is replaced by an optional exact-distinct
  cross-check in the caller; registers are always maintained, which is what
  the reference does too (it updates registers even in sparse mode).

Everything is vectorized numpy; the per-batch hot path is one hash, two
shifts, an exact bit-length, and ``np.maximum.at``.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.hashing import (
    bit_length_u64,
    hash64,
)
from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)

# HLL++ linear-counting thresholds, from the HLL++ paper (Heule et al. 2013),
# same table the reference embeds (ref: hyper_log_log.py:41-57).
THRESHOLD = {
    4: 10, 5: 20, 6: 40, 7: 80, 8: 220, 9: 400, 10: 900, 11: 1800,
    12: 3100, 13: 6500, 14: 11500, 15: 20000, 16: 50000, 17: 120000,
    18: 350000,
}


def _alpha(m: int) -> float:
    # ref: hyper_log_log.py:93-103
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def register_estimate(registers: np.ndarray, p: int) -> float:
    """HLL++ distinct-count estimate from ``2^p`` registers (ref:
    hyper_log_log.py:177-215): linear counting ``m*ln(m/V)`` when V > 0
    registers are zero and it is at or below the threshold for p (``5m/2``
    for a p outside the HLL++ table), else alpha_m * m^2 / sum(2^-M)."""
    m = 1 << p
    regs = registers.astype(np.float64)
    v = int(np.count_nonzero(regs == 0))
    if v != 0:
        lc = m * np.log(m / v)
        if lc <= THRESHOLD.get(p, 5 * m // 2):
            return float(lc)
    return float(_alpha(m) * m**2 / np.sum(np.exp2(-regs)))


class HllKernel(SketchKernel):
    """HLL++ build/merge/estimate kernel.

    Options beyond the production defaults:

    - ``hash_kind="farmhash"``: hash ``str(id)`` through the pure-Python
      FarmHash64-with-seed — the reference's exact hash path
      (ref: hash_function.py:53-56). Per-item Python, for register-exact
      parity tests only; the production path is vectorized splitmix64.
    - ``sparse_mode=True``: keep the exact distinct set alongside the
      registers and answer exactly below 6m distinct, matching the
      reference's simplified sparse mode (ref: hyper_log_log.py:127-164,
      "at the cost of using extra memory"). The sparse set rides in the
      state (<= 6m int64s ~ 0.8 MB at p=14) and merges associatively;
      default OFF — dense + linear counting covers most of the accuracy.
    """

    takes_counts = True

    def __init__(self, p: int = 14, seed: int = 0, hash_kind: str = "splitmix",
                 sparse_mode: bool = False):
        if not (4 <= p <= 18):
            raise ValueError(f"p must be in [4, 18], got {p}")
        self.p = p
        self.m = 1 << p
        self.seed = seed
        self.window = 64 - p  # bits available for rho
        self.hash_kind = hash_kind
        self.sparse_mode = sparse_mode
        self.sparse_threshold = 6 * self.m  # ref: hyper_log_log.py:161

    def spec(self) -> dict[str, Any]:
        spec: dict[str, Any] = {"type": "hll++", "p": self.p, "seed": self.seed}
        if self.hash_kind != "splitmix":
            spec["hash_kind"] = self.hash_kind
        if self.sparse_mode:
            spec["sparse_mode"] = True
        return spec

    def _hash(self, values: np.ndarray) -> np.ndarray:
        if self.hash_kind == "farmhash":
            from cardinality_estimation_evaluation_framework_spark import farmhash64
            return np.array(
                [farmhash64.hash64_with_seed(str(int(v)), self.seed) for v in values],
                dtype=np.uint64,
            )
        return hash64(values, self.seed)

    def empty(self) -> State:
        state = {"registers": np.zeros(self.m, dtype=np.int8)}
        if self.sparse_mode:
            # sparse[-1] is the active flag; ids precede it, kept unique+sorted
            state["sparse"] = np.array([1], dtype=np.int64)
        return state

    @staticmethod
    def _sparse_ids(state: State) -> np.ndarray | None:
        """Distinct ids while sparse mode is active, else None."""
        sp = state.get("sparse")
        if sp is None or sp[-1] != 1:
            return None
        return sp[:-1]

    def _pack_sparse(self, ids: np.ndarray | None) -> np.ndarray:
        if ids is None or len(ids) > self.sparse_threshold:
            return np.array([0], dtype=np.int64)  # deactivated
        return np.concatenate((ids.astype(np.int64), [1]))

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        h = self._hash(values)
        bucket = (h >> np.uint64(self.window)).astype(np.int64)
        w = h & np.uint64((1 << self.window) - 1)
        rho = (self.window - bit_length_u64(w) + 1).astype(np.int8)
        np.maximum.at(state["registers"], bucket, rho)
        if self.sparse_mode:
            ids = self._sparse_ids(state)
            if ids is not None:
                ids = np.union1d(ids, np.asarray(values, dtype=np.int64))
            state["sparse"] = self._pack_sparse(ids)
        return state

    def update_counts(
        self, state: State, values: np.ndarray, counts: np.ndarray
    ) -> State:
        # register max and the sparse union are idempotent: repeats add nothing
        return self.update(state, values)

    def merge(self, a: State, b: State) -> State:
        # ref: hyper_log_log.py:232 — register-wise max
        out = {"registers": np.maximum(a["registers"], b["registers"])}
        if self.sparse_mode:
            ia, ib = self._sparse_ids(a), self._sparse_ids(b)
            merged = np.union1d(ia, ib) if (ia is not None and ib is not None) else None
            out["sparse"] = self._pack_sparse(merged)
        return out

    def estimate(self, state: State) -> list[float]:
        ids = self._sparse_ids(state) if self.sparse_mode else None
        if ids is not None:
            # exact below threshold (ref: hyper_log_log.py:194-195)
            return [float(len(ids))]
        return [register_estimate(state["registers"], self.p)]

    def std_error(self) -> float:
        """Theoretical relative std error 1.04/sqrt(m) (ref: hyper_log_log.py:37-38)."""
        return 1.04 / np.sqrt(self.m)


class PortableHllKernel(SketchKernel):
    """HLL over the SQL-portable 31-bit hash ``(a*x+b) mod (2^31-1)``.

    Exists for the DuckDB correctness gate: the exact register table this
    kernel produces is reproducible with plain ANSI SQL (hash, pmod,
    bit-length via ``length(bin(w))``) in both Spark SQL and DuckDB, so the
    whole mapInPandas + tree-merge machinery can be verified value-for-value
    against an independent engine. Production uses :class:`HllKernel`.

    bucket = h mod m; w = h div m (window = 31 - p bits);
    rho = window - bitlen(w) + 1, or window + 1 when w == 0.
    """

    def __init__(self, p: int = 10, a: int = 1103515245, b: int = 12345):
        self.p = p
        self.m = 1 << p
        self.a = a
        self.b = b
        self.window = 31 - p

    def spec(self) -> dict[str, Any]:
        return {"type": "hll-portable", "p": self.p, "a": self.a, "b": self.b}

    def empty(self) -> State:
        return {"registers": np.zeros(self.m, dtype=np.int8)}

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        h = (self.a * values.astype(np.int64) + self.b) % (2**31 - 1)
        bucket = h % self.m
        w = (h // self.m).astype(np.uint64)
        rho = (self.window - bit_length_u64(w) + 1).astype(np.int8)
        np.maximum.at(state["registers"], bucket, rho)
        return state

    def merge(self, a: State, b: State) -> State:
        return {"registers": np.maximum(a["registers"], b["registers"])}

    def estimate(self, state: State) -> list[float]:
        return [register_estimate(state["registers"], self.p)]

    def register_sql(self, tid_col: str = "tid") -> str:
        """ANSI-SQL reproduction of the register table (Spark & DuckDB):
        SELECT bucket, max(rho) AS rho ... GROUP BY bucket."""
        h = f"(({self.a} * CAST({tid_col} AS BIGINT) + {self.b}) % {2**31 - 1})"
        # floor-div by m without `//`/`div` (dialects differ): h < 2^31 so
        # (h - h%m)/m is exact in double on both engines.
        w = f"(CAST(({h} - ({h} % {self.m})) / {self.m} AS BIGINT))"
        return (
            f"CAST({h} % {self.m} AS INT) AS bucket, "
            f"CASE WHEN {w} = 0 THEN {self.window + 1} "
            f"ELSE {self.window} - length(bin({w})) + 1 END AS rho"
        )
