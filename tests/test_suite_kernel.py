import numpy as np
import pytest
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.suite import SuiteKernel


def _suite():
    return SuiteKernel(
        {
            "hll": HllKernel(p=12, seed=1),
            "cm": CountMinKernel(width=512, depth=3, seed=2),
            "bloom": BloomKernel(dist_kind="exponential", m=10_000, seed=3, decay_rate=10.0),
        }
    )


def test_suite_matches_individual_kernels():
    ids = np.random.RandomState(0).randint(0, 50_000, 100_000).astype(np.int64)
    suite = _suite()
    st = suite.update(suite.empty(), ids)
    for name, kernel in suite.kernels.items():
        solo = kernel.update(kernel.empty(), ids)
        child = suite.child(st, name)
        for key in solo:
            assert (np.asarray(solo[key]) == np.asarray(child[key])).all(), (name, key)


def test_suite_merge_partition_invariant():
    ids = np.random.RandomState(1).randint(0, 20_000, 60_000).astype(np.int64)
    suite = _suite()
    whole = suite.update(suite.empty(), ids)
    parts = [suite.update(suite.empty(), c) for c in np.array_split(ids, 7)]
    acc = parts[0]
    for p in parts[1:]:
        acc = suite.merge(acc, p)
    for key in whole:
        assert (np.asarray(whole[key]) == np.asarray(acc[key])).all(), key


def test_suite_pack_roundtrip_and_spark(spark):
    suite = _suite()
    df = spark.range(30_000).select(F.col("id").alias("item"))
    st = agg.sketch(df, suite)
    st2 = suite.unpack(suite.pack(st))
    for key in st:
        assert (np.asarray(st[key]) == np.asarray(st2[key])).all()
    hll_est = suite.kernels["hll"].estimate(suite.child(st, "hll"))[0]
    assert abs(hll_est - 30_000) / 30_000 < 0.05


def test_suite_rejects_empty_and_namespaced_children():
    # ValueError, not assert: the guards must survive ``python -O``
    with pytest.raises(ValueError, match="empty suite"):
        SuiteKernel({})
    with pytest.raises(ValueError, match="::"):
        SuiteKernel({"a::b": HllKernel(p=10)})
