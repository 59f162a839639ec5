"""SuiteKernel: build several sketches in ONE pass over the data.

At 10^12 tokens the scan dominates cost, so a real pipeline never runs one
job per sketch — it folds every needed sketch state in a single
partial+tree-merge pass (the batch is already in cache; each extra kernel
adds only vectorized compute). The suite is itself a SketchKernel: its
state is the union of child states (namespaced), merge is child-wise, so
the whole aggregation harness, checkpointing, and streaming work unchanged.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)

# 0x9E3779B97F4A7C15 (Fibonacci hashing) as a signed int64
_MIX = np.int64(-0x61C8864680B583EB)
_SHARE = np.uint64(1 << 58)  # mixed values below it: 1/64 of them


def _mostly_repeats(values: np.ndarray) -> bool:
    """Whether np.unique pays for itself on this batch: at most 3/4 of its
    values are distinct. Judged on the ~1/64 of the values whose mixed bits
    fall below ``_SHARE``: a share drawn by value, so every copy of a value
    falls on the same side and the share keeps the batch's distinct
    fraction (a share drawn by position reads a batch of pairs as
    all-distinct). Costs ~2 ns a value; np.unique ~17-40 and the HLL +
    count-min + ADBF updates ~180-220, so it breaks even near 85%
    distinct (SCALE.md §4)."""
    share = values[(values * _MIX).view(np.uint64) < _SHARE]
    return len(share) > 0 and 4 * len(np.unique(share)) <= 3 * len(share)


class SuiteKernel(SketchKernel):
    def __init__(self, kernels: dict[str, SketchKernel]):
        if not kernels:
            raise ValueError("empty suite")
        for name in kernels:
            if "::" in name:
                raise ValueError(f"suite child names cannot contain '::': {name!r}")
        self.kernels = dict(kernels)
        self._counted = [k.takes_counts for k in self.kernels.values()]

    def spec(self) -> dict[str, Any]:
        return {
            "type": "suite",
            "children": {name: k.spec() for name, k in sorted(self.kernels.items())},
        }

    def empty(self) -> State:
        out: State = {}
        for name, k in self.kernels.items():
            for key, arr in k.empty().items():
                out[f"{name}::{key}"] = arr
        return out

    def _child_state(self, state: State, name: str) -> State:
        prefix = f"{name}::"
        return {k[len(prefix):]: v for k, v in state.items() if k.startswith(prefix)}

    def _store(self, state: State, name: str, child: State) -> None:
        for key, arr in child.items():
            state[f"{name}::{key}"] = arr

    def update(self, state: State, values: np.ndarray) -> State:
        # distinct-then-update when the batch repeats enough values to pay
        # for np.unique; the children without update_counts (KLL, t-digest:
        # their state depends on the order of values) keep the batch as it came
        dedup = any(self._counted) and _mostly_repeats(values)
        if dedup:
            uniq, counts = np.unique(values, return_counts=True)
        for (name, k), counted in zip(self.kernels.items(), self._counted):
            child = self._child_state(state, name)
            if dedup and counted:
                child = k.update_counts(child, uniq, counts)
            else:
                child = k.update(child, values)
            self._store(state, name, child)
        return state

    def merge(self, a: State, b: State) -> State:
        out: State = {}
        for name, k in self.kernels.items():
            merged = k.merge(self._child_state(a, name), self._child_state(b, name))
            for key, arr in merged.items():
                out[f"{name}::{key}"] = arr
        return out

    def estimate(self, state: State) -> list[float]:
        """First estimate value per child, in sorted child order."""
        return [
            float(self.kernels[name].estimate(self._child_state(state, name))[0])
            for name in sorted(self.kernels)
        ]

    def child(self, state: State, name: str) -> State:
        """Extract one child's state for its own estimators/queries."""
        return self._child_state(state, name)
