"""LiquidLegions: exponential-bucket counting sketch + estimators.

Reference semantics (ref: src/estimators/liquid_legions.py):

- bucket(f) = floor(m * (1 - ln(e^a + u(1-e^a))/a)), u = f/2^32 — the
  truncated-exponential inverse CDF (ref: :64-67,75-81)
- per bucket: hit count + same-key aggregator over 32-bit fingerprints
  (unique fp / collided, ref: :25-41,86-92)
- cardinality: invert the expected-activated-registers curve
  ``1 - (-Ei(-at/(e^a-1)) + Ei(-a e^a t/(e^a-1)))/a`` at the observed
  register count (ref: :102-147)
- Estimator.estimate_from_all: denoise the ones-count vector-of-counts via
  the inverse bit-flip transition matrix (ref: :205-267)
- VennEstimator: per-register 2^k combination histogram x inverse transition
  matrix → Venn component cardinalities; k <= 2 matches the reference
  (ref: :270-370), k >= 3 implements the generalization the reference
  leaves NotImplemented (Möbius solve; see VennEstimator docstring)
- Sampler/SequentialEstimator: seeded Monte-Carlo posterior register
  sampling; ORDER-DEPENDENT — driver-side only (ref: :373-593)

State here is dense (counts int64[m], unique int64[m] with 0=empty,
-1=collided, else fingerprint+1) instead of the reference's sparse dicts:
dense vectors are the natural Arrow/numpy transport and m is bounded
(typically <= 1e5). Fingerprints are stored +1 so 0 can mean empty.
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


class LiquidLegionsKernel(SketchKernel):
    def __init__(self, a: float = 10.0, m: int = 10_000, seed: int = 0,
                 hash_kind: str = "splitmix"):
        assert a > 0, f"decay rate a must be positive, got {a}"
        self.a = a
        self.m = m
        self.seed = seed
        # "farmhash32" = the reference's exact fingerprint path
        # (farmhash.hash32withseed(str(id), seed), ref: liquid_legions.py:94)
        # — per-item Python, parity tests only
        self.hash_kind = hash_kind

    def spec(self) -> dict[str, Any]:
        spec = {"type": "liquid_legions", "a": self.a, "m": self.m, "seed": self.seed}
        if self.hash_kind != "splitmix":
            spec["hash_kind"] = self.hash_kind
        return spec

    def empty(self) -> State:
        return {
            "counts": np.zeros(self.m, dtype=np.int64),
            "unique": np.zeros(self.m, dtype=np.int64),
            "noise": np.zeros(1, dtype=np.float64),
        }

    def _fingerprints(self, values: np.ndarray) -> np.ndarray:
        """32-bit fingerprints (production: splitmix64 low bits; parity mode:
        the reference's exact farmhash.hash32withseed path,
        ref: liquid_legions.py:94)."""
        if self.hash_kind == "farmhash32":
            from cardinality_estimation_evaluation_framework_spark import farmhash64
            return np.array(
                [farmhash64.hash32_with_seed(str(int(v)), self.seed) for v in values],
                dtype=np.int64,
            )
        return (hash64(values, self.seed) & np.uint64(2**32 - 1)).astype(np.int64)

    def buckets_for_fingerprints(self, f: np.ndarray) -> np.ndarray:
        """Vectorized inverse-CDF bucketing (ref: liquid_legions.py:64-67,83)."""
        u = f.astype(np.float64) / 2**32
        a = self.a
        x = 1 - np.log(np.exp(a) + u * (1 - np.exp(a))) / a
        return np.minimum((x * self.m).astype(np.int64), self.m - 1)

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        f = self._fingerprints(values)
        b = self.buckets_for_fingerprints(f)
        any_sketch.fold_sum(state["counts"], b)
        any_sketch.fold_unique_key(state["unique"], b, f + 1)
        return state

    def merge(self, a: State, b: State) -> State:
        assert a["noise"][0] == b["noise"][0], "cannot merge differently-noised sketches"
        return {
            "counts": a["counts"] + b["counts"],
            "unique": any_sketch.merge_unique_key(a["unique"], b["unique"]),
            "noise": a["noise"].copy(),
        }

    # ---- estimation ---------------------------------------------------------
    def legions_expectation(self, t: float) -> float:
        """Expected filled fraction at relative cardinality t
        (ref: liquid_legions.py:102-111)."""
        if t == 0:
            return 0.0
        a = self.a
        return 1 - (
            -expi(-a * t / (math.exp(a) - 1)) + expi(-a * math.exp(a) * t / (math.exp(a) - 1))
        ) / a

    def cardinality_for_count(self, count: float) -> float:
        """ref: liquid_legions.py:131-141."""
        p = min(max(count / self.m, 0.0), self.m - 1)
        result = invert_monotonic(self.legions_expectation, epsilon=1e-7)(p) * self.m
        assert result >= 0
        return result

    def estimate(self, state: State) -> list[float]:
        return [self.cardinality_for_count(int(np.count_nonzero(state["counts"])))]

    def frequency_histogram(self, state: State) -> dict[int, float]:
        """Frequency histogram from unique (non-collided) registers
        (ref: liquid_legions.py:167-183)."""
        pure = (state["unique"] > 0) & (state["counts"] > 0)
        sample = state["counts"][pure]
        if len(sample) == 0:
            return {}
        vals, cnts = np.unique(sample, return_counts=True)
        total = cnts.sum()
        return {int(v): float(c) / total for v, c in zip(vals, cnts)}

    def hit_probability(self, index: np.ndarray, cardinality) -> np.ndarray:
        """P(register hit) (ref: liquid_legions.py:185-191)."""
        a = self.a
        pdf = a * np.exp(-a * (index / self.m)) / (1 - np.exp(-a))
        card = np.asarray(cardinality, dtype=np.float64)
        return 1 - np.exp(-pdf[..., None] / self.m * card)

    # ---- DP noise -----------------------------------------------------------
    def add_dp_noise(self, state: State, p: float, rng: np.random.RandomState) -> State:
        """Flip each register's occupancy bit w.p. p, once only
        (ref: liquid_legions.py:113-125)."""
        assert state["noise"][0] == 0, "noise can only be added once"
        flip = rng.uniform(0, 1, self.m) < p
        occ = state["counts"] > 0
        counts = state["counts"].copy()
        counts[flip] = np.where(occ[flip], 0, 1)
        return {"counts": counts, "unique": state["unique"].copy(), "noise": np.array([p])}


def flip_transition_matrix(num_sketches: int, p: float) -> np.ndarray:
    """P[t, s] = P(s ones -> t ones) under independent bit flips w.p. p
    (ref: cascading_legions.py:208-248, shared by liquid legions)."""
    q = 1 - p
    mat = np.zeros((num_sketches + 1, num_sketches + 1))
    for s in range(num_sketches + 1):
        for t in range(num_sketches + 1):
            total = 0.0
            for i in range(num_sketches // 2 + 1):
                flip_zeros = max(0, t - s) + i
                flip_ones = max(0, s - t) + i
                flips = flip_ones + flip_zeros
                calms = num_sketches - flips
                if flip_ones > s or flip_zeros > num_sketches - s:
                    continue
                choices = math.comb(s, flip_ones) * math.comb(num_sketches - s, flip_zeros)
                total += choices * p**flips * q**calms
            mat[t, s] = total
    return mat


def estimate_from_all(kernel: LiquidLegionsKernel, states: list[State], p: float) -> float:
    """Noise-corrected union cardinality (ref: liquid_legions.py:225-267)."""
    ones = np.stack([(s["counts"] > 0).astype(np.int64) for s in states])
    x = ones.sum(axis=0)  # per-register count of sketches with a 1
    v = np.bincount(x, minlength=len(states) + 1).astype(np.float64)
    c = np.linalg.inv(flip_transition_matrix(len(states), p))
    f = v.sum() - c[0, :].dot(v)
    f = max(0.0, min(kernel.m - 1, f))
    return kernel.cardinality_for_count(f)


class VennEstimator:
    """Venn component cardinalities for k sketches.

    k <= 2 follows the reference formulas exactly (ref:
    liquid_legions.py:270-370, including its union clamp). k >= 3
    generalizes what the reference leaves as ``NotImplementedError``
    ("can be generalized using recursion"): for every nonempty subset S of
    sketches the union cardinality u_S is estimated from the denoised
    combination counts, then the region cardinalities x_T solve the linear
    system u_S = sum_{T: T∩S != ∅} x_T (a Möbius inversion over the subset
    lattice), with subset-monotonicity enforced on u and negative regions
    clamped to 0 — the same role the reference's k=2 clamp plays. Cost of
    the VENN estimate is O(4^k) (the subset matrix) — fine for handfuls of
    sketches. (Sampler's prior DP is O(4^k m) too; it caps itself at
    k=6.)"""

    MAX_K = 8  # 2^k x 2^k transition + (2^k-1)^2 subset solve: k=8 is a
    # 256x256 / 255x255 system (instant); beyond that the O(4^k) matrices
    # and the estimate's variance both blow up — fail fast with a clear
    # error instead of grinding (accuracy is pinned in tests up to k=5).

    def __init__(self, kernel: LiquidLegionsKernel, states: list[State]):
        assert len(states) >= 1, "need at least one sketch"
        if len(states) > self.MAX_K:
            raise ValueError(
                f"VennEstimator supports k <= {self.MAX_K} sketches (got "
                f"{len(states)}): the subset-lattice solve is O(4^k) and "
                "region variance grows with k; fold larger collections "
                "with sequential_estimate instead")
        self.kernel = kernel
        self.states = states
        self.ps = [float(s["noise"][0]) for s in states]

    def observations(self) -> np.ndarray:
        obs = np.zeros(self.kernel.m, dtype=np.int64)
        for i, s in enumerate(self.states):
            obs += (2**i) * (s["counts"] > 0)
        return obs

    def transition_matrix(self) -> np.ndarray:
        k = len(self.states)
        size = 2**k
        mat = np.zeros((size, size))
        for row in range(size):
            for col in range(size):
                prob = 1.0
                s, t = col, row
                for p in self.ps:
                    prob *= (1 - p) if (s % 2) == (t % 2) else p
                    s //= 2
                    t //= 2
                mat[row, col] = prob
        return mat

    def estimate_combinations(self) -> np.ndarray:
        v = np.bincount(self.observations(), minlength=2 ** len(self.states)).astype(float)
        return np.linalg.inv(self.transition_matrix()).dot(v)

    def __call__(self) -> np.ndarray:
        f = self.estimate_combinations()
        card = self.kernel.cardinality_for_count
        if len(self.states) == 1:
            return np.array([0.0, card(f[1])])
        if len(self.states) == 2:
            a = card(f[1] + f[3])
            b = card(f[2] + f[3])
            a_or_b = card(f[1] + f[2] + f[3])
            a_or_b = max(min(a + b, a_or_b), a, b)
            return np.array([0.0, a_or_b - b, a_or_b - a, a + b - a_or_b])
        return self._general(f)

    def _general(self, f: np.ndarray) -> np.ndarray:
        """Möbius-solve region cardinalities for arbitrary k (reference
        leaves k >= 3 NotImplemented). For k = 2 this reproduces the
        reference's pre-clamp formulas exactly (pinned in tests)."""
        k = len(self.states)
        n = 2**k
        card = self.kernel.cardinality_for_count
        u = np.zeros(n)
        for s in range(1, n):
            u[s] = card(sum(f[j] for j in range(1, n) if j & s))
        # subset-monotonicity: union over a superset can't be smaller
        # (plays the role of the reference's k=2 a_or_b clamp)
        for s in range(1, n):
            for bit in range(k):
                if s >> bit & 1:
                    sub = s & ~(1 << bit)
                    if sub:
                        u[s] = max(u[s], u[sub])
        mat = np.array(
            [[1.0 if (t & s) else 0.0 for t in range(1, n)] for s in range(1, n)]
        )
        x = np.linalg.solve(mat, u[1:])
        return np.concatenate([[0.0], np.maximum(x, 0.0)])


class Sampler:
    """Seeded Monte-Carlo posterior register sampling (ref: liquid_legions.py:373-557).

    Randomness comes from an explicit RandomState so distributed callers can
    derive deterministic per-(run, step) seeds.
    """

    MAX_K = 6  # the prior DP costs (2^k-1) * 2^k * m (k=6: ~4000 m-length
    # passes, ~seconds) and the (m, 2^k) prior matrix stays small; beyond
    # that the combination posterior gets too diffuse to sample usefully.
    # (Brute subset enumeration — the pre-round-4 implementation — capped
    # at k=3 because it is O(2^(2^k)).)

    def __init__(self, kernel: LiquidLegionsKernel, states: list[State], rng: np.random.RandomState):
        assert 1 <= len(states) <= self.MAX_K, (
            f"Sampler supports k <= {self.MAX_K} sketches; fold larger "
            "collections pairwise via sequential_estimate")
        self.kernel = kernel
        self.states = states
        self.rng = rng
        self.venn = VennEstimator(kernel, states)
        self.venn_cardinalities = self.venn()
        self.flip_p = np.array([float(s["noise"][0]) for s in states])

    def _venn_priors(self) -> np.ndarray:
        """Matrix [register, combination] of priors (ref: :478-500; the k=1
        and k=2 closed forms are the reference's — the general path below
        reproduces them exactly and extends to k >= 3, which the reference
        leaves NotImplemented)."""
        idx = np.arange(self.kernel.m)
        v = self.kernel.hit_probability(idx, self.venn_cardinalities)
        if len(self.states) == 1:
            p1 = v[:, 1]
            return np.stack([1 - p1, p1], axis=1)
        if len(self.states) == 2:
            p1, p2, p3 = v[:, 1], v[:, 2], v[:, 3]
            return np.stack(
                [
                    (1 - p1) * (1 - p2) * (1 - p3),
                    p1 * (1 - p2) * (1 - p3),
                    (1 - p1) * p2 * (1 - p3),
                    p1 * p2 * (1 - p3) + p3,
                ],
                axis=1,
            )
        return self._venn_priors_general(v)

    def _venn_priors_general(self, v: np.ndarray) -> np.ndarray:
        """P(observed combination c) = distribution of the OR of
        independent region indicators: region T (mask = its index) hits
        with prob v_T and contributes its mask to the observed
        combination. Computed as a DP over regions — fold one region at a
        time into an (m, 2^k) state distribution:

            dist[c | T] += dist[c] * v_T ;  dist[c] *= (1 - v_T)

        This is algebraically the subset-sum expansion (sum over region
        subsets R with OR(R) = c of prod v_T prod (1 - v_T)) but costs
        (2^k - 1) * 2^k * m instead of 2^(2^k - 1) * m — which is what
        caps brute enumeration at k=3 (k=4 is 32768 full-m passes; the
        DP is 240). The k=2 closed form above (e.g. the
        ``p1 p2 (1-p3) + p3`` cell) is the special case — pinned equal in
        tests, as is DP == brute enumeration at k=3. Regions hit
        independently given the Venn cardinalities, exactly the
        reference's model."""
        k = len(self.states)
        n_regions = 2**k - 1
        vr = np.clip(v[:, 1:], 0.0, 1.0)  # clamped region hit probs
        dist = np.zeros((self.kernel.m, 2**k))
        dist[:, 0] = 1.0
        for t in range(1, n_regions + 1):
            p = vr[:, t - 1][:, None]
            hit = dist * p  # mass whose combination gains region t's mask
            dist = dist * (1.0 - p)
            for c in range(2**k):
                dist[:, c | t] += hit[:, c]
        return dist

    def posteriors(self) -> np.ndarray:
        priors = self._venn_priors()
        trans = self.venn.transition_matrix()  # [observed, true]
        obs = self.venn.observations()
        likelihood = trans[obs, :]  # row per register
        prop = priors * likelihood
        return prop / prop.sum(axis=1, keepdims=True)

    def sample(self) -> list[State]:
        """Registers sampled from the posterior (ref: :516-535)."""
        post = self.posteriors()
        u = self.rng.uniform(size=self.kernel.m)
        combo = (u[:, None] > np.cumsum(post, axis=1)).sum(axis=1)
        out = []
        for i in range(len(self.states)):
            bit = (combo >> i) & 1
            st = self.kernel.empty()
            st["counts"] = bit.astype(np.int64)
            out.append(st)
        return out

    def sample_diff(self) -> State:
        """Sampled sketch of A - B (ref: :537-557)."""
        assert len(self.states) == 2
        if self.flip_p.any():
            pure = Sampler(self.kernel, self.sample(), self.rng)
        else:
            pure = self
        a_occ = pure.states[0]["counts"] > 0
        b_occ = pure.states[1]["counts"] > 0
        idx = np.arange(self.kernel.m)
        v = self.kernel.hit_probability(idx, pure.venn_cardinalities)
        p1, p2, p3 = v[:, 1], v[:, 2], v[:, 3]
        numer = p1 * p2 * p3 + p1 * (1 - p2) * p3 + p1 * p2 * (1 - p3)
        denom = numer + (1 - p1) * p2 * p3 + (1 - p1) * (1 - p2) * p3
        with np.errstate(invalid="ignore", divide="ignore"):
            p = np.where(denom > 0, numer / denom, 0.0)
        p = np.where(~a_occ, 0.0, np.where(~b_occ, 1.0, p))
        bits = (self.rng.uniform(size=self.kernel.m) < p).astype(np.int64)
        st = self.kernel.empty()
        st["counts"] = bits
        return st


def sequential_estimate(
    kernel: LiquidLegionsKernel, states: list[State], seed: int = 0
) -> float:
    """Iterated posterior sampling + merge (ref: liquid_legions.py:560-593).
    Order-dependent by design: driver-side fold in caller-supplied order."""
    rng = np.random.RandomState(seed)
    if len(states) == 1:
        [result] = Sampler(kernel, states, rng).sample()
    else:
        first, second = Sampler(kernel, states[:2], rng).sample()
        result = kernel.merge(first, second)
        for st in states[2:]:
            _, clean = Sampler(kernel, [result, st], rng).sample()
            result = kernel.merge(result, clean)
    return kernel.estimate(result)[0]
