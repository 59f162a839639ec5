"""FreqLogLog++ — HLL buckets extended with (fingerprint, frequency).

Semantics match the reference's FreqLogLogPlusPlus
(ref: src/estimators/freq_log_log.py:115-317): each bucket tracks
[rho, fingerprint(=hash mod 2^32), frequency of the fingerprint holder].

Insert (ref: :168-196): an item replaces the bucket wholesale when its
(rho, fingerprint) is lexicographically larger (freq resets to 1); an item
whose fingerprint matches increments frequency.

Merge: this kernel merges buckets by the SAME lexicographic (rho,
fingerprint) rule, summing frequencies on exact ties. The reference's
pairwise merge (ref: :268-303) keeps `other`'s bucket on rho-ties with
differing fingerprints — an order-dependent asymmetry that contradicts its
own insert path. The lexicographic rule used here is the unique
associative+commutative merge that reproduces the reference's SINGLE-PROCESS
insert result for any partitioning of the same stream (the bucket winner is
the max item by (rho, fp) and its frequency is that item's total
multiplicity), which is the property a distributed build must preserve.

Estimate (ref: :198-266): HLL++ cardinality x k+-normalized distribution of
bucket frequencies, max_freq levels, reversed cumulative.
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
from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    register_estimate,
)


class FllKernel(SketchKernel):
    """``hash_kind="farmhash"`` hashes ``str(id)`` through pure-Python
    FarmHash64-with-seed — the reference's exact hash path — enabling
    register-exact parity tests (per-item Python, test-only; production is
    vectorized splitmix64).

    ``sparse_mode=True`` mirrors the reference's simplified sparse mode
    (ref: freq_log_log.py:134-139,171-177: exact (id -> multiplicity) dict
    below 6m distinct, at the cost of extra memory): the state carries an
    exact (ids, counts) table that merges associatively and deactivates
    past the threshold; estimates below the threshold are the EXACT k+
    histogram, identical to the reference's sparse answers."""

    def __init__(self, p: int = 14, seed: int = 0, max_freq: int = 15,
                 hash_kind: str = "splitmix", sparse_mode: bool = False):
        if not (4 <= p <= 18):
            raise ValueError(f"p must be in [4, 18], got {p}")
        self.p = p
        self.m = 1 << p
        self.seed = seed
        self.max_freq = max_freq
        self.window = 64 - p
        self.hash_kind = hash_kind
        self.sparse_mode = sparse_mode
        self.sparse_threshold = 6 * self.m  # ref: freq_log_log.py:175

    def spec(self) -> dict[str, Any]:
        spec: dict[str, Any] = {
            "type": "fll++",
            "p": self.p,
            "seed": self.seed,
            "max_freq": self.max_freq,
        }
        if self.hash_kind != "splitmix":
            spec["hash_kind"] = self.hash_kind
        if self.sparse_mode:
            spec["sparse_mode"] = True
        return spec

    def empty(self) -> State:
        state = {
            "rho": np.zeros(self.m, dtype=np.int8),
            "fp": np.zeros(self.m, dtype=np.int64),
            "freq": np.zeros(self.m, dtype=np.int64),
        }
        if self.sparse_mode:
            # parallel (ids, counts) arrays; active flag rides in s_active
            state["s_ids"] = np.zeros(0, dtype=np.int64)
            state["s_counts"] = np.zeros(0, dtype=np.int64)
            state["s_active"] = np.array([1], dtype=np.int64)
        return state

    @staticmethod
    def _sparse_table(state: State):
        """(ids, counts) while sparse mode is active, else None."""
        act = state.get("s_active")
        if act is None or act[0] != 1:
            return None
        return state["s_ids"], state["s_counts"]

    def _merge_sparse(self, out: State, tables) -> State:
        """Union multiset tables; deactivate past the threshold."""
        live = [t for t in tables if t is not None]
        if len(live) != len(tables):
            out["s_ids"] = np.zeros(0, dtype=np.int64)
            out["s_counts"] = np.zeros(0, dtype=np.int64)
            out["s_active"] = np.array([0], dtype=np.int64)
            return out
        ids = np.concatenate([t[0] for t in live])
        counts = np.concatenate([t[1] for t in live])
        uniq, inv = np.unique(ids, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(summed, inv, counts)
        if len(uniq) > self.sparse_threshold:
            uniq = np.zeros(0, dtype=np.int64)
            summed = np.zeros(0, dtype=np.int64)
            active = 0
        else:
            active = 1
        out["s_ids"] = uniq
        out["s_counts"] = summed
        out["s_active"] = np.array([active], dtype=np.int64)
        return out

    def _hash_parts(self, values: np.ndarray):
        if self.hash_kind == "farmhash":
            from cardinality_estimation_evaluation_framework_spark import farmhash64
            h = np.array(
                [farmhash64.hash64_with_seed(str(int(v)), self.seed) for v in values],
                dtype=np.uint64,
            )
        else:
            h = hash64(values, self.seed)
        bucket = (h >> np.uint64(self.window)).astype(np.int64)
        w = h & np.uint64((1 << self.window) - 1)
        rho = (self.window - bit_length_u64(w) + 1).astype(np.int64)
        fp = (h & np.uint64(2**32 - 1)).astype(np.int64)
        return bucket, rho, fp

    def update(self, state: State, values: np.ndarray) -> State:
        if len(values) == 0:
            return state
        bucket, rho, fp = self._hash_parts(values)
        # per-bucket winner = lexicographic max (rho, fp); its batch frequency
        # = multiplicity of that (rho, fp) in the batch
        order = np.lexsort((fp, rho, bucket))
        b, r, f = bucket[order], rho[order], fp[order]
        # run starts of identical (bucket, rho, fp) triples
        new_run = np.concatenate(
            ([True], (b[1:] != b[:-1]) | (r[1:] != r[:-1]) | (f[1:] != f[:-1]))
        )
        run_starts = np.flatnonzero(new_run)
        run_counts = np.diff(np.concatenate((run_starts, [len(b)])))
        # last run per bucket is the lexicographic max for that bucket
        rb = b[run_starts]
        last_run_of_bucket = np.concatenate((rb[1:] != rb[:-1], [True]))
        win = run_starts[last_run_of_bucket]
        win_counts = run_counts[last_run_of_bucket]
        wb, wr, wf = b[win], r[win], f[win]
        # merge winners into the existing registers (same lattice as merge())
        cur_r, cur_f = state["rho"][wb], state["fp"][wb]
        batch_gt = (wr > cur_r) | ((wr == cur_r) & (wf > cur_f))
        batch_eq = (wr == cur_r) & (wf == cur_f)
        state["rho"][wb] = np.where(batch_gt, wr, cur_r)
        state["fp"][wb] = np.where(batch_gt, wf, cur_f)
        state["freq"][wb] = np.where(
            batch_gt,
            win_counts,
            np.where(batch_eq, state["freq"][wb] + win_counts, state["freq"][wb]),
        )
        if self.sparse_mode:
            table = self._sparse_table(state)
            if table is not None:
                vals, counts = np.unique(
                    np.asarray(values, dtype=np.int64), return_counts=True)
                self._merge_sparse(state, [table, (vals, counts)])
        return state

    def merge(self, a: State, b: State) -> State:
        a_gt = (a["rho"] > b["rho"]) | ((a["rho"] == b["rho"]) & (a["fp"] > b["fp"]))
        eq = (a["rho"] == b["rho"]) & (a["fp"] == b["fp"])
        out = {
            "rho": np.where(a_gt, a["rho"], b["rho"]),
            "fp": np.where(a_gt, a["fp"], b["fp"]),
            "freq": np.where(eq, a["freq"] + b["freq"], np.where(a_gt, a["freq"], b["freq"])),
        }
        if self.sparse_mode:
            self._merge_sparse(out, [self._sparse_table(a), self._sparse_table(b)])
        return out

    def estimate(self, state: State) -> list[float]:
        """k+ reach for k = 1..max_freq (ref: freq_log_log.py:198-266).

        With sparse mode active the answer is the EXACT k+ histogram of the
        tracked multiset (ref sparse path: freq_log_log.py:219-227)."""
        if self.sparse_mode:
            table = self._sparse_table(state)
            if table is not None:
                _, counts = table
                capped = np.minimum(counts, self.max_freq)
                return [float((capped >= k).sum())
                        for k in range(1, self.max_freq + 1)]
        cardinality = register_estimate(state["rho"], self.p)
        freqs = np.minimum(state["freq"], self.max_freq)
        frequencies = np.bincount(
            freqs[freqs > 0].astype(np.int64), minlength=self.max_freq + 1
        )[1:]
        total = frequencies.sum()
        if total == 0:
            return [0.0] * self.max_freq
        freq_dist = frequencies / total
        # k+ distribution: level 1 = everything, level k = tail sum
        kplus = np.concatenate(([1.0], np.cumsum(freq_dist[::-1])[::-1][1:]))
        return [float(cardinality * x) for x in kplus]
