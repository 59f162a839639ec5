import math
import pickle

import numpy as np
import pytest

from cardinality_estimation_evaluation_framework_spark.functions.special import expi, invert_monotonic
from cardinality_estimation_evaluation_framework_spark.sketches.any_sketch import make_distribution
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
    classic_union_estimate,
    first_moment_estimate,
    union_states,
)


def test_expi_negative_values():
    # golden values from published tables (A&S): Ei(-1) = -0.21938393...
    assert abs(expi(-1.0) - (-0.21938393439552062)) < 1e-12
    assert abs(expi(-0.5) - (-0.5597735947761607)) < 1e-10
    assert abs(expi(-10.0) - (-4.156968929685325e-06)) < 1e-15


def test_invert_monotonic():
    inv = invert_monotonic(lambda x: x * x, epsilon=1e-9)
    assert abs(inv(49.0) - 7.0) < 1e-3


@pytest.mark.parametrize("dist,params,method", [
    ("uniform", {}, "uniform"),
    ("log", {}, "log"),
    ("exponential", {"decay_rate": 10.0}, "exp"),
    ("geometric", {"probability": 0.08}, "geo"),
])
def test_adbf_estimate_accuracy(dist, params, method):
    n = 20_000
    k = BloomKernel(dist_kind=dist, m=100_000, seed=3, **params)
    st = k.update(k.empty(), np.arange(n, dtype=np.int64))
    est = first_moment_estimate(k, st, method=method)
    assert abs(est - n) / n < 0.05, f"{dist}: {est}"


def test_adbf_any_method():
    n = 10_000
    k = BloomKernel(dist_kind="exponential", m=50_000, seed=1, decay_rate=10.0)
    st = k.update(k.empty(), np.arange(n, dtype=np.int64))
    est = first_moment_estimate(k, st, method="any")
    assert abs(est - n) / n < 0.05


def test_classic_bloom_estimate():
    n = 5_000
    k = BloomKernel(dist_kind="uniform", m=200_000, num_hashes=4, seed=2)
    st = k.update(k.empty(), np.arange(n, dtype=np.int64))
    est = classic_union_estimate(k, st)
    assert abs(est - n) / n < 0.05


def test_union_is_or_on_crisp_bits():
    k = BloomKernel(dist_kind="uniform", m=1000, seed=5)
    a = k.update(k.empty(), np.arange(0, 300, dtype=np.int64))
    b = k.update(k.empty(), np.arange(200, 500, dtype=np.int64))
    u = union_states(k, [a, b])
    both = k.update(k.empty(), np.arange(0, 500, dtype=np.int64))
    assert np.allclose(u["registers"], both["registers"])


def test_counting_bloom_merge_adds():
    k = BloomKernel(dist_kind="uniform", m=64, seed=1, value_fn="sum")
    a = k.update(k.empty(), np.arange(100, dtype=np.int64))
    b = k.update(k.empty(), np.arange(100, dtype=np.int64))
    m = k.merge(a, b)
    assert m["registers"].sum() == 200


def test_bloom_full_raises():
    k = BloomKernel(dist_kind="uniform", m=16, seed=0)
    st = k.update(k.empty(), np.arange(10_000, dtype=np.int64))
    with pytest.raises(ValueError):
        classic_union_estimate(k, st)


def test_estimate_nan_when_uniform_full():
    k = BloomKernel(dist_kind="uniform", m=16, seed=0)
    st = k.update(k.empty(), np.arange(10_000, dtype=np.int64))
    assert math.isnan(first_moment_estimate(k, st, method="uniform"))


@pytest.mark.parametrize("kind, params", [
    ("geometric", {"m": 1024, "probability": 0.0015}),
    ("log", {"m": 4096}),
    ("exponential", {"m": 65536, "decay_rate": 10.0}),
])
def test_distribution_pickles_by_parameters(kind, params):
    # a pickled distribution is rebuilt from its parameters, bit-identical
    dist = make_distribution(kind, **params)
    blob = pickle.dumps(dist)
    back = pickle.loads(blob)
    assert type(back) is type(dist) and back.params() == dist.params()
    assert back._probs.tobytes() == dist._probs.tobytes()
    assert back._bounds.tobytes() == dist._bounds.tobytes()
    assert len(blob) < 1024
