"""Generalized register-sketch machinery: index distributions + value functions.

Re-expresses the reference's AnySketch concept (ref: any_sketch.py:287-409) as
vectorized numpy: a distribution maps a 64-bit hash to a register index via a
precomputed inverse-CDF (``searchsorted`` per batch, ref get_index methods at
any_sketch.py:144-283), and a value function folds hits into registers with a
single ufunc (.at) call per batch — never per-row Python.
"""

from __future__ import annotations

import functools
from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.hashing import (
    MAX_HASH_VALUE,
)

# ---------------------------------------------------------------------------
# Distributions (register index from hash). Each returns register_probs used
# by the any/geo first-moment estimators (ref: any_sketch.py register_probs).
# ---------------------------------------------------------------------------


class UniformDist:
    """index = h mod m (ref: any_sketch.py:144-145)."""

    kind = "uniform"

    def __init__(self, m: int):
        self.m = m

    def params(self) -> dict[str, Any]:
        return {"m": self.m}

    def register_probs(self) -> np.ndarray:
        return np.full(self.m, 1.0 / self.m)

    def indexes(self, h: np.ndarray) -> np.ndarray:
        return (h % np.uint64(self.m)).astype(np.int64)


class _BoundedDist:
    """Shared inverse-CDF sampling: searchsorted on cumulative bounds
    (ref: any_sketch.py:195-196,236-238,281-283)."""

    def __init__(self, probs: np.ndarray):
        self._probs = probs / probs.sum()
        self._bounds = np.cumsum(self._probs)
        self._bounds /= self._bounds[-1]
        self.m = len(probs)

    def __reduce__(self):
        # rebuilt from its parameters: a pickled kernel (a Spark UDF's
        # closure) carries a few numbers, not 2 x m float64
        return functools.partial(make_distribution, self.kind, **self.params()), ()

    def register_probs(self) -> np.ndarray:
        return self._probs

    def indexes(self, h: np.ndarray) -> np.ndarray:
        u = h.astype(np.float64) / MAX_HASH_VALUE
        return np.minimum(
            np.searchsorted(self._bounds, u), self.m - 1
        ).astype(np.int64)


class GeometricDist(_BoundedDist):
    """Truncated geometric register probabilities (ref: any_sketch.py:160-196).

    pmf(k) = p(1-p)^{k-1}, normalized; bounds from the normalized CDF.
    Computed directly (scipy-free).
    """

    kind = "geometric"

    def __init__(self, m: int, probability: float):
        k = np.arange(1, m + 1, dtype=np.float64)
        pmf = probability * np.power(1 - probability, k - 1)
        # reference builds bounds from cdf/cdf[-1] and probs from pmf/sum —
        # identical after normalization since cdf = cumsum(pmf)
        super().__init__(pmf)
        self.probability = probability

    def params(self) -> dict[str, Any]:
        return {"m": self.m, "probability": self.probability}


class LogBucketDist(_BoundedDist):
    """probs ∝ -log((i+1)/(m+1)) (ref: any_sketch.py:225-234)."""

    kind = "log"

    def __init__(self, m: int):
        probs = -np.log((np.arange(m, dtype=np.float64) + 1) / (m + 1))
        super().__init__(probs)

    def params(self) -> dict[str, Any]:
        return {"m": self.m}


class ExponentialDist(_BoundedDist):
    """probs ∝ exp(-decay*(i+1)/(m+1)) — the Liquid-Legions register
    distribution (ref: any_sketch.py:269-279)."""

    kind = "exponential"

    def __init__(self, m: int, decay_rate: float):
        probs = np.exp(
            -decay_rate * (np.arange(m, dtype=np.float64) + 1) / (m + 1)
        )
        super().__init__(probs)
        self.decay_rate = decay_rate

    def params(self) -> dict[str, Any]:
        return {"m": self.m, "decay_rate": self.decay_rate}


DISTRIBUTIONS = {
    "uniform": UniformDist,
    "geometric": GeometricDist,
    "log": LogBucketDist,
    "exponential": ExponentialDist,
}


def make_distribution(kind: str, **params):
    if kind == "uniform":
        return UniformDist(params["m"])
    if kind == "geometric":
        return GeometricDist(params["m"], params["probability"])
    if kind == "log":
        return LogBucketDist(params["m"])
    if kind == "exponential":
        return ExponentialDist(params["m"], params["decay_rate"])
    raise ValueError(f"unknown distribution {kind}")


# ---------------------------------------------------------------------------
# Vectorized value-function folds (ref: any_sketch.py:36-105)
# ---------------------------------------------------------------------------

UNIQUE_EMPTY = 0
UNIQUE_COLLIDED = -1


def fold_or(registers: np.ndarray, idx: np.ndarray) -> None:
    """BitwiseOrFunction on 0/1 registers: set hit registers to 1."""
    registers[idx] = 1


def fold_sum(registers: np.ndarray, idx: np.ndarray) -> None:
    """SumFunction: add 1 per hit (counting variants)."""
    np.add.at(registers, idx, 1)


def fold_unique_key(registers: np.ndarray, idx: np.ndarray, keys: np.ndarray) -> None:
    """UniqueKeyFunction lattice, batch-vectorized.

    Per register: empty + k → k; k + k → k; k + k' → COLLIDED; COLLIDED
    absorbs (ref: any_sketch.py:50-91). Keys must be positive (the reference
    inserts id+1, ref: any_sketch.py:93-105).

    Vectorization: group hits by register via lexsort; a register collides if
    it receives >1 distinct key in this batch, else takes the single key;
    then merge against the existing register with the same lattice rule.
    """
    if len(idx) == 0:
        return
    order = np.lexsort((keys, idx))
    si, sk = idx[order], keys[order]
    new_reg = np.flatnonzero(np.concatenate(([True], si[1:] != si[:-1])))
    reg_ids = si[new_reg]
    # first key per register in this batch
    first_key = sk[new_reg]
    # a register collides within the batch iff any adjacent pair inside its
    # segment carries two distinct keys
    diff = np.concatenate(([False], (sk[1:] != sk[:-1]) & (si[1:] == si[:-1])))
    collided_in_batch = np.add.reduceat(diff.astype(np.int64), new_reg) > 0
    batch_val = np.where(collided_in_batch, UNIQUE_COLLIDED, first_key)
    cur = registers[reg_ids]
    merged = np.where(
        cur == UNIQUE_EMPTY,
        batch_val,
        np.where(
            (cur == UNIQUE_COLLIDED) | (batch_val == UNIQUE_COLLIDED),
            UNIQUE_COLLIDED,
            np.where(cur == batch_val, cur, UNIQUE_COLLIDED),
        ),
    )
    registers[reg_ids] = merged


def merge_unique_key(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Elementwise lattice merge of two unique-key register vectors
    (ref: liquid_legions.py:25-41 uses the same lattice)."""
    return np.where(
        a == UNIQUE_EMPTY,
        b,
        np.where(
            b == UNIQUE_EMPTY,
            a,
            np.where(a == b, a, UNIQUE_COLLIDED),
        ),
    )
