import numpy as np

from cardinality_estimation_evaluation_framework_spark.hashing import (
    bit_length_u64,
    derive_seeds,
    hash64,
    splitmix64,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import PortableHllKernel


def test_bit_length_exact():
    vals = np.array(
        [0, 1, 2, 3, 4, 2**31, 2**52, 2**53 - 1, 2**53, 2**53 + 1, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    expect = np.array([int(v).bit_length() for v in vals.tolist()])
    assert (bit_length_u64(vals) == expect).all()


def test_splitmix64_deterministic_and_seeded():
    x = np.arange(1000, dtype=np.uint64)
    a, b = splitmix64(x, 1), splitmix64(x, 1)
    assert (a == b).all()
    assert (splitmix64(x, 1) != splitmix64(x, 2)).mean() > 0.99


def test_hash64_uniformity():
    h = hash64(np.arange(100_000), seed=7)
    # crude uniformity: bucketed chi-square should be sane
    counts = np.bincount((h % np.uint64(64)).astype(int), minlength=64)
    assert counts.min() > 100_000 / 64 * 0.8


def test_portable_hash_matches_python():
    """PortableHllKernel's inline (a*x + b) mod (2^31-1) hash, which its
    register SQL repeats for the DuckDB oracle, equals Python's exact int
    arithmetic: each value lands in register h % m."""
    x = np.array([0, 1, 17, 2**31 - 2], dtype=np.int64)
    a, b = 1103515245, 12345
    expect = [(a * int(v) + b) % (2**31 - 1) for v in x]
    k = PortableHllKernel(p=4, a=a, b=b)
    for v, h in zip(x, expect):
        regs = k.update(k.empty(), np.array([v]))["registers"]
        assert np.flatnonzero(regs).tolist() == [h % k.m]


def test_derive_seeds_stable():
    assert (derive_seeds(42, 5) == derive_seeds(42, 5)).all()
    assert (derive_seeds(42, 5) != derive_seeds(43, 5)).any()
