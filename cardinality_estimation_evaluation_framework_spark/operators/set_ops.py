"""Set algebra in sketch space: union / intersection / difference.

These operate on merged sketch STATES (tiny vectors) on the driver — the
distributed layer builds one sketch per operand set; the set algebra itself
is elementwise numpy (ref files: bloom_filter_sketch_operators.py,
vector_of_counts_sketch_operator.py, stratified_sketch.py:26-68).
"""

from __future__ import annotations

import numpy as np

from cardinality_estimation_evaluation_framework_spark.sketches.base import State
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
    first_moment_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    PairwiseEstimator as VocPairwise,
)


# --------------------------------------------------------------------------
# ADBF sketch operators (ref: bloom_filter_sketch_operators.py:25-226)
# --------------------------------------------------------------------------

class AdbfSetOperator:
    """Base: union + shared 2-way Venn estimation (ref: :25-77)."""

    def __init__(self, kernel: BloomKernel, method: str | None = None, threshold: float = 1e-6):
        self.kernel = kernel
        self.method = method or kernel.default_method()
        self.threshold = threshold

    def _estimate(self, state: State) -> float:
        return first_moment_estimate(self.kernel, state, method=self.method)

    def union(self, this: State | None, that: State | None) -> State | None:
        if this is None:
            return None if that is None else {"registers": that["registers"].copy()}
        if that is None:
            return {"registers": this["registers"].copy()}
        return self.kernel.merge(this, that)

    def _venn(self, this: State, that: State):
        ca = self._estimate(this)
        cb = self._estimate(that)
        cu = self._estimate(self.union(this, that))
        inter = max(ca + cb - cu, 0.0)
        return ca, cb, inter

    @staticmethod
    def _predict(register_probs: np.ndarray, cardinality: float) -> np.ndarray:
        # P(register hit) = 1 - (1 - p_reg)^card (ref: :61-64).
        # Noised/denoised inputs can drive the Venn arithmetic into a
        # degenerate regime (intersection estimate > operand estimate →
        # negative cardinality here); clamp to a valid probability instead
        # of overflowing to inf/NaN. Clean-path values are untouched.
        with np.errstate(over="ignore", invalid="ignore"):
            r = 1 - np.power(1 - register_probs, cardinality)
        return np.clip(np.nan_to_num(r, nan=0.0, posinf=1.0, neginf=0.0), 0.0, 1.0)

    def intersection(self, this, that):  # pragma: no cover - abstract
        raise NotImplementedError

    def difference(self, this, that):  # pragma: no cover - abstract
        raise NotImplementedError


class BayesianAdbfOperator(AdbfSetOperator):
    """Bayesian register-posterior ∩/∖ (ref: :80-158)."""

    def intersection(self, this: State | None, that: State | None) -> State | None:
        if this is None or that is None:
            return None
        a, b = this["registers"], that["registers"]
        ca, cb, inter = self._venn(this, that)
        probs = self.kernel.dist.register_probs()
        hc11 = self._predict(probs, inter)
        hc10 = self._predict(probs, ca - inter)
        hc01 = self._predict(probs, cb - inter)
        y = hc11 / np.maximum(self.threshold, hc10 * hc01 * (1 - hc11) + hc11)
        return {"registers": a * b * y}

    def difference(self, this: State | None, that: State | None) -> State | None:
        if this is None:
            return None
        if that is None:
            return {"registers": this["registers"].copy()}
        a, b = this["registers"], that["registers"]
        ca, cb, inter = self._venn(this, that)
        probs = self.kernel.dist.register_probs()
        hc11 = self._predict(probs, inter)
        hc10 = self._predict(probs, ca - inter)
        hc01 = self._predict(probs, cb - inter)
        denom = np.maximum(self.threshold, hc10 * hc01 * (1 - hc11) + hc11)
        numer = hc10 * hc01 * hc11 + hc10 * (1 - hc01) * hc11 + hc10 * hc01 * (1 - hc11)
        y = numer / denom
        return {"registers": a * (1 - b) + a * b * y}


class ExpectationAdbfOperator(AdbfSetOperator):
    """Expectation-method ∩/∖ with renormalized register probs (ref: :161-226)."""

    def intersection(self, this: State | None, that: State | None) -> State | None:
        if this is None or that is None:
            return None
        a, b = this["registers"], that["registers"]
        _, _, inter = self._venn(this, that)
        probs = self.kernel.dist.register_probs()
        x = max(float(np.sum(probs * a * b)), self.threshold, float(np.min(probs)))
        y = self._predict(np.minimum(1, probs / x), inter)
        return {"registers": a * b * y}

    def difference(self, this: State | None, that: State | None) -> State | None:
        if this is None:
            return None
        a, b = this["registers"], that["registers"]
        ca, _, inter = self._venn(this, that)
        probs = self.kernel.dist.register_probs()
        x = max(float(np.sum(probs * a)), self.threshold, float(np.min(probs)))
        s = ca - inter - float(np.dot(a, 1 - b))
        s = max(0.0, min(ca - inter, s))
        y = self._predict(np.minimum(1, probs / x), s)
        return {"registers": a * (1 - b) + a * b * y}


# --------------------------------------------------------------------------
# VectorOfCounts operator (ref: vector_of_counts_sketch_operator.py:21-99)
# --------------------------------------------------------------------------

class VocSetOperator:
    """union assumes DISJOINT sets (add); difference assumes containment
    (subtract); intersection = a + b - pairwise-merge(a,b)."""

    def __init__(self, clip: bool = False, epsilon: float = float(np.log(3)), clip_threshold: float = 3):
        self._pairwise = VocPairwise(clip=clip, epsilon=epsilon, clip_threshold=clip_threshold)

    def union(self, this: State | None, that: State | None) -> State | None:
        if this is None:
            return None if that is None else {"stats": that["stats"].copy()}
        if that is None:
            return {"stats": this["stats"].copy()}
        return {"stats": this["stats"] + that["stats"]}

    def intersection(self, this: State | None, that: State | None) -> State | None:
        if this is None or that is None:
            return None
        merged = self._pairwise.merge(this, that)
        return {"stats": this["stats"] + that["stats"] - merged["stats"]}

    def difference(self, this: State | None, that: State | None) -> State | None:
        if this is None:
            return None
        if that is None:
            return {"stats": this["stats"].copy()}
        return {"stats": this["stats"] - that["stats"]}
