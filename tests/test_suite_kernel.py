import numpy as np
import pytest
from pyspark import cloudpickle
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


def test_suite_kernel_pickles_small():
    # a Spark UDF ships its kernel pickled; over 1 MiB PySpark turns the
    # command into a broadcast. The exponential ADBF's 2 x m float64 tables
    # are rebuilt on unpickling, so the suite stays small
    suite = SuiteKernel({
        "hll": HllKernel(p=14, seed=42),
        "cm": CountMinKernel(width=4096, depth=4, seed=1),
        "bloom": BloomKernel(dist_kind="exponential", m=65536, seed=2, decay_rate=10.0),
    })
    assert len(cloudpickle.dumps(suite)) < 64 * 1024


def test_suite_rejects_empty_and_namespaced_children():
    # ValueError, not assert: the guards must survive ``python -O``
    with pytest.raises(ValueError, match="empty suite"):
        SuiteKernel({})
    with pytest.raises(ValueError, match="::"):
        SuiteKernel({"a::b": HllKernel(p=10)})


_REPEATS = np.random.RandomState(6).zipf(1.3, 40_000).astype(np.int64) % 5_000
_DISTINCT = np.random.default_rng(7).choice(2**40, 40_000, replace=False).astype(np.int64)
# each of 20,000 values twice, shuffled: a share drawn by position would
# read it as all-distinct
_PAIRS = np.random.RandomState(8).permutation(np.repeat(_DISTINCT[:20_000], 2))


@pytest.mark.parametrize(
    "kernel",
    [
        HllKernel(p=12, seed=1),
        HllKernel(p=8, seed=1, sparse_mode=True),
        CountMinKernel(width=512, depth=3, seed=2),
        BloomKernel(dist_kind="exponential", m=10_000, seed=3, decay_rate=10.0),
        BloomKernel(m=4096, num_hashes=3, seed=4, value_fn="sum"),
    ],
    ids=["hll", "hll-sparse", "countmin", "bloom-or", "bloom-sum"],
)
def test_update_counts_equals_update_on_repeats(kernel):
    assert kernel.takes_counts
    uniq, counts = np.unique(_REPEATS, return_counts=True)
    assert counts.max() > 1
    whole = kernel.update(kernel.empty(), _REPEATS)
    counted = kernel.update_counts(kernel.empty(), uniq, counts)
    assert kernel.pack(counted) == kernel.pack(whole)


class _RecordingKll(KllKernel):
    """Records the batches the suite hands it."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.seen = []

    def update(self, state, values):
        self.seen.append(values.copy())
        return super().update(state, values)


class _RecordingCountMin(CountMinKernel):
    """Records whether each fold came with counts."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.with_counts = []

    def update_counts(self, state, values, counts):
        self.with_counts.append(counts is not None)
        return super().update_counts(state, values, counts)


@pytest.mark.parametrize(
    "values, dedup",
    [(_REPEATS, True), (_PAIRS, True), (_DISTINCT, False)],
    ids=["zipf", "pairs", "distinct"],
)
def test_suite_dedups_only_batches_with_repeats(values, dedup):
    # np.unique pays only when values repeat: the suite folds distinct values
    # into the children that take counts when its by-value share says so,
    # and every child's state is byte-identical to its own update either way.
    # KLL compaction depends on the order of values: it always gets the
    # batch as it came.
    suite = SuiteKernel({
        "hll": HllKernel(p=10, seed=5),
        "cm": _RecordingCountMin(width=512, depth=3, seed=2),
        "counting": BloomKernel(dist_kind="geometric", m=2048, value_fn="sum",
                                probability=0.0015),
        "kll": _RecordingKll(k=64, seed=7),
    })
    st = suite.update(suite.empty(), values)
    assert suite.kernels["cm"].with_counts == [dedup]
    kll = suite.kernels["kll"]
    assert len(kll.seen) == 1 and np.array_equal(kll.seen[0], values)
    for name, kernel in suite.kernels.items():
        solo = kernel.update(kernel.empty(), values)
        assert kernel.pack(suite.child(st, name)) == kernel.pack(solo), name
