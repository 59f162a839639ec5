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


class SuiteKernel(SketchKernel):
    def __init__(self, kernels: dict[str, SketchKernel]):
        if not kernels:
            raise ValueError("empty suite")
        for name in kernels:
            if "::" in name:
                raise ValueError(f"suite child names cannot contain '::': {name!r}")
        self.kernels = dict(kernels)

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
        for name, k in self.kernels.items():
            child = self._child_state(state, name)
            self._store(state, name, k.update(child, values))
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
