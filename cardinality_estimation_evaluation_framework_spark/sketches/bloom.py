"""Bloom filter / Any-Distribution Bloom Filter (ADBF) family.

One generic kernel parameterized by (distribution, value function, num_hashes)
covers the reference's whole family (ref: bloom_filters.py:56-261):

- classic BloomFilter: uniform distribution x k hashes, OR registers
- UniformBloomFilter (k=1), LogarithmicBloomFilter, ExponentialBloomFilter
  (a.k.a. Liquid Legions distribution), GeometricBloomFilter
- UniformCountingBloomFilter: SumFunction registers

State is a float64 register vector so that locally-DP-noised / denoised
sketches (expected-value floats, ref: bloom_filters.py:604-631) flow through
the same union: ``u = 1 - (1-a)(1-b)`` elementwise, which reduces to OR on
crisp 0/1 registers (ref: bloom_filters.py:281-288,373-380).

Estimators (driver-side, ref: bloom_filters.py:290-464):
- UnionEstimator (classic BF): m/k * ln(1/(1 - x/m))
- FirstMomentEstimator methods uniform/log/exp/geo/any
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.functions.special import (
    expi,
    invert_monotonic,
)
from cardinality_estimation_evaluation_framework_spark.hashing import hash64
from cardinality_estimation_evaluation_framework_spark.sketches import any_sketch
from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


class BloomKernel(SketchKernel):
    """ADBF build/merge kernel.

    value_fn: "or" (bit registers) or "sum" (counting registers).
    """

    takes_counts = True

    def __init__(
        self,
        dist_kind: str = "uniform",
        m: int = 2**16,
        num_hashes: int = 1,
        seed: int = 0,
        value_fn: str = "or",
        hash_kind: str = "splitmix",
        **dist_params: Any,
    ):
        if dist_kind != "uniform" and num_hashes != 1:
            raise ValueError("ADBF supports one hash (ref: bloom_filters.py:120)")
        self.dist_kind = dist_kind
        self.m = m
        self.num_hashes = num_hashes
        self.seed = seed
        self.value_fn = value_fn
        self.hash_kind = hash_kind
        self.dist_params = dist_params
        self.dist = any_sketch.make_distribution(dist_kind, m=m, **dist_params)
        if hash_kind == "farmhash":
            # the reference's sub-seed derivation: one randint(sys.maxsize)
            # per hash function from a RandomState(seed)
            # (ref: any_sketch.py:343-348)
            import sys

            rs = np.random.RandomState(seed)
            self._farmhash_seeds = [
                int(rs.randint(sys.maxsize)) for _ in range(num_hashes)
            ]

    def spec(self) -> dict[str, Any]:
        spec = {
            "type": "adbf",
            "dist": self.dist_kind,
            "m": self.m,
            "num_hashes": self.num_hashes,
            "seed": self.seed,
            "value_fn": self.value_fn,
            **{k: v for k, v in sorted(self.dist_params.items())},
        }
        if self.hash_kind != "splitmix":
            spec["hash_kind"] = self.hash_kind
        return spec

    def empty(self) -> State:
        return {"registers": np.zeros(self.m, dtype=np.float64)}

    def update(self, state: State, values: np.ndarray) -> State:
        return self.update_counts(state, values, None)

    def update_counts(
        self, state: State, values: np.ndarray, counts: np.ndarray | None
    ) -> State:
        """Set (``or``: idempotent, so counts are ignored) or add to
        (``sum``) each value's registers, ``counts`` times per value when
        given (bit-identical to repeated adds on integer registers, which
        every built state holds)."""
        if len(values) == 0:
            return state
        regs = state["registers"]
        for i in range(self.num_hashes):
            if self.hash_kind == "farmhash":
                # reference hash path (str(id) + seeded farmhash64) —
                # per-item Python, parity tests only
                from cardinality_estimation_evaluation_framework_spark import (
                    farmhash64,
                )

                h = np.array(
                    [
                        farmhash64.hash64_with_seed(
                            str(int(v)), self._farmhash_seeds[i]
                        )
                        for v in values
                    ],
                    dtype=np.uint64,
                )
            else:
                h = hash64(values, seed=self.seed * 1_000_003 + i)
            idx = self.dist.indexes(h)
            if self.value_fn == "or":
                any_sketch.fold_or(regs, idx)
            elif counts is None:
                any_sketch.fold_sum(regs, idx)
            else:
                regs += np.bincount(idx, weights=counts, minlength=self.m)
        return state

    def merge(self, a: State, b: State) -> State:
        x, y = a["registers"], b["registers"]
        if self.value_fn == "sum":
            return {"registers": x + y}
        # expectation-correct union, = OR on 0/1 (ref: bloom_filters.py:281-288)
        return {"registers": 1.0 - (1.0 - x) * (1.0 - y)}

    def estimate(self, state: State) -> list[float]:
        return [first_moment_estimate(self, state, method=self.default_method())]

    def default_method(self) -> str:
        return {
            "uniform": "uniform",
            "log": "log",
            "exponential": "exp",
            "geometric": "geo",
        }[self.dist_kind]


def classic_union_estimate(kernel: BloomKernel, state: State) -> float:
    """Classic k-hash Bloom cardinality (ref: bloom_filters.py:290-303)."""
    x = float(np.sum(state["registers"]))
    k, m = float(kernel.num_hashes), float(kernel.m)
    if x >= m:
        raise ValueError("BloomFilter is full; increase m or use exp/log ADBF")
    return float(int(math.fabs(m / k * math.log(1 - x / m))))


def first_moment_estimate(
    kernel: BloomKernel,
    state: State,
    method: str,
    noiser=None,
    weights: np.ndarray | None = None,
) -> float:
    """FirstMomentEstimator dispatch (ref: bloom_filters.py:466-484)."""
    noiser = noiser or (lambda v: v)
    regs = state["registers"]
    m = len(regs)
    if method == "uniform":
        # ref: bloom_filters.py:382-389
        x = noiser(float(np.sum(regs)))
        if x >= m or x < 0:
            return float("nan")
        return -m * math.log(1 - x / m)
    if method == "log":
        # ref: bloom_filters.py:391-396
        x_raw = noiser(float(np.sum(regs)))
        if not math.isfinite(x_raw):
            return float("nan")
        x = int(x_raw)
        return x / (1 - x / m)
    if method == "exp":
        # ref: bloom_filters.py:398-424 — invert expected-bits curve
        a = kernel.dist_params["decay_rate"]
        exp_a = math.exp(a)

        def expected_num_bits(reach: float) -> float:
            if reach <= 0:
                return 0.0
            return 1 - (
                -expi(-a * reach / (exp_a - 1))
                + expi(-a * exp_a * reach / (exp_a - 1))
            ) / a

        x_raw = noiser(float(np.sum(regs)))
        if not math.isfinite(x_raw):
            return float("nan")
        x = int(x_raw)
        p = min(max(x / m, 0.0), 1.0)
        result = invert_monotonic(expected_num_bits, epsilon=1e-7)(p) * m
        assert result >= 0
        return result
    if method == "geo":
        # ref: bloom_filters.py:447-464
        probs = kernel.dist.register_probs()
        n_sum = noiser(float(np.sum(regs)))
        n = n_sum / m
        if n >= 1:
            return 0.0

        def first_moment(u: float) -> float:
            return float(np.sum(1 - np.power(1 - probs, u)) - n_sum)

        lower = math.log(1 - n) / math.log(1 - float(np.mean(probs)))
        if first_moment(lower) > 0:
            return lower
        return invert_monotonic(first_moment, lower)(0)
    if method == "any":
        # ref: bloom_filters.py:426-445
        probs = kernel.dist.register_probs()
        w = np.ones(m) if weights is None else np.asarray(weights, dtype=float)
        assert len(w) == m

        def first_moment(u: float) -> float:
            return float(np.dot(w, 1 - np.power(1 - probs, u) - regs))

        lower = math.log(1 - float(np.average(regs, weights=w))) / math.log(
            1 - float(np.mean(probs))
        )
        return invert_monotonic(first_moment, lower)(0)
    raise ValueError(f"unknown method {method}")


def union_states(kernel: BloomKernel, states: list[State]) -> State:
    """Fold union over already-denoised states (ref: bloom_filters.py:373-380)."""
    acc = states[0]
    for st in states[1:]:
        acc = kernel.merge(acc, st)
    return acc
