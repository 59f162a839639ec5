import numpy as np
import pytest

from cardinality_estimation_evaluation_framework_spark.sketches.base import IncompatibleSketchError
from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    HllKernel,
    PortableHllKernel,
)


@pytest.mark.parametrize("n", [10, 1_000, 100_000, 1_000_000])
def test_hll_accuracy_bounds(n):
    # mirrors the reference's tolerance test (ref: hyper_log_log_test.py:139-158)
    k = HllKernel(p=14, seed=1)
    st = k.empty()
    k.update(st, np.arange(n, dtype=np.int64))
    est = k.estimate(st)[0]
    assert abs(est - n) / n < 0.05


def test_hll_merge_equals_single_pass():
    k = HllKernel(p=12, seed=3)
    ids = np.arange(50_000, dtype=np.int64)
    whole = k.update(k.empty(), ids)
    parts = [k.update(k.empty(), chunk) for chunk in np.array_split(ids, 7)]
    merged = parts[0]
    for p_ in parts[1:]:
        merged = k.merge(merged, p_)
    assert (whole["registers"] == merged["registers"]).all()


def test_hll_merge_commutative_associative():
    k = HllKernel(p=8, seed=0)
    rng = np.random.RandomState(0)
    a = k.update(k.empty(), rng.randint(0, 10_000, 5000))
    b = k.update(k.empty(), rng.randint(0, 10_000, 5000))
    c = k.update(k.empty(), rng.randint(0, 10_000, 5000))
    ab_c = k.merge(k.merge(a, b), c)
    a_bc = k.merge(a, k.merge(b, c))
    c_ba = k.merge(c, k.merge(b, a))
    assert (ab_c["registers"] == a_bc["registers"]).all()
    assert (ab_c["registers"] == c_ba["registers"]).all()


def test_hll_linear_counting_small():
    k = HllKernel(p=14, seed=5)
    st = k.update(k.empty(), np.arange(50, dtype=np.int64))
    est = k.estimate(st)[0]
    assert abs(est - 50) < 3  # linear counting regime is near-exact


def test_pack_unpack_roundtrip():
    k = HllKernel(p=10, seed=2)
    st = k.update(k.empty(), np.arange(1000, dtype=np.int64))
    st2 = k.unpack(k.pack(st))
    assert (st["registers"] == st2["registers"]).all()


def test_incompatible_states_raise():
    k1, k2 = HllKernel(p=10, seed=2), HllKernel(p=11, seed=2)
    with pytest.raises(IncompatibleSketchError):
        k1.unpack(k2.pack(k2.empty()))


def test_portable_hll_matches_sql_formula():
    k = PortableHllKernel(p=6)
    tids = np.arange(500, dtype=np.int64)
    st = k.update(k.empty(), tids)
    # independent python recomputation of the SQL formula
    regs = np.zeros(k.m, dtype=int)
    for t in tids.tolist():
        h = (k.a * t + k.b) % (2**31 - 1)
        bucket, w = h % k.m, h // k.m
        rho = (k.window + 1) if w == 0 else k.window - w.bit_length() + 1
        regs[bucket] = max(regs[bucket], rho)
    assert (st["registers"] == regs).all()
