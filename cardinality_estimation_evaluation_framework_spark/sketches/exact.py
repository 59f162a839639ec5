"""Exact multiset + Lossless/LessOne estimators — the truth oracle.

An id->count dict as parallel arrays, mergeable; used by the Simulator as
the per-run truth exactly like the reference keeps a running ExactMultiSet
(ref: simulator.py:182-196). ``h[k] = #ids with freq >= k`` matches
LosslessEstimator output (ref: exact_set.py:69-98).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


class ExactMultiSetKernel(SketchKernel):
    """id -> frequency map as sorted parallel arrays (ref: exact_set.py:44-58)."""

    def __init__(self, seed: int = 0):
        self.seed = seed  # unused; kept for uniform factory signature

    def spec(self) -> dict[str, Any]:
        return {"type": "exact_multiset"}

    def empty(self) -> State:
        return {
            "ids": np.zeros(0, dtype=np.int64),
            "counts": np.zeros(0, dtype=np.int64),
        }

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        ids, counts = np.unique(values.astype(np.int64), return_counts=True)
        return self.merge(state, {"ids": ids, "counts": counts})

    def merge(self, a: State, b: State) -> State:
        ids = np.concatenate((a["ids"], b["ids"]))
        counts = np.concatenate((a["counts"], b["counts"]))
        if len(ids) == 0:
            return {"ids": ids, "counts": counts}
        uniq, inv = np.unique(ids, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(summed, inv, counts)
        return {"ids": uniq, "counts": summed}

    def frequency_histogram(self, state: State, max_freq: int | None = None) -> np.ndarray:
        """h[k-1] = #ids with freq >= k (cumulative, ref: exact_set.py:69-98).

        With max_freq, frequencies cap at max_freq (k+ bucket)."""
        counts = state["counts"]
        if len(counts) == 0:
            return np.zeros(0, dtype=np.int64)
        c = np.minimum(counts, max_freq) if max_freq else counts
        hist = np.bincount(c)[1:]  # index k-1 = #ids with freq exactly k
        return np.cumsum(hist[::-1])[::-1]

    def estimate(self, state: State) -> list[float]:
        return [float(len(state["ids"]))]


def lossless_estimate(states: list[State], max_freq: int | None = None) -> list[float]:
    """Union ExactMultiSets then cumulative histogram (ref: exact_set.py:69-98)."""
    k = ExactMultiSetKernel()
    acc = states[0]
    for s in states[1:]:
        acc = k.merge(acc, s)
    return [float(x) for x in k.frequency_histogram(acc, max_freq)]


def less_one_estimate(states: list[State], max_freq: int | None = None) -> list[float]:
    """Lossless minus one per level — harness error-detection fixture
    (ref: exact_set.py:101-113)."""
    return [x - 1 for x in lossless_estimate(states, max_freq)]
