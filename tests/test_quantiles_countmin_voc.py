import numpy as np
import pytest

from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
    ExactMultiSetKernel,
    lossless_estimate,
    less_one_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.tdigest import TDigestKernel
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    PairwiseEstimator,
    VocKernel,
    sequential_estimate,
)


# ---------------- count-min ----------------

def test_countmin_overcount_bound():
    rng = np.random.RandomState(0)
    stream = rng.zipf(1.5, 200_000)
    stream = stream[stream < 10_000].astype(np.int64)
    k = CountMinKernel(width=2048, depth=5, seed=1)
    st = k.update(k.empty(), stream)
    ids, true_counts = np.unique(stream, return_counts=True)
    est = k.query(st, ids)
    assert (est >= true_counts).all()  # never undercounts
    eps, delta = k.error_bound()
    n = len(stream)
    viol = float(np.mean(est - true_counts > eps * n))
    assert viol <= delta + 0.01


def test_countmin_merge_bit_identical():
    k = CountMinKernel(width=256, depth=4, seed=2)
    ids = np.random.RandomState(1).randint(0, 1000, 50_000).astype(np.int64)
    whole = k.update(k.empty(), ids)
    parts = [k.update(k.empty(), c) for c in np.array_split(ids, 9)]
    acc = parts[0]
    for p in parts[1:]:
        acc = k.merge(acc, p)
    assert (whole["table"] == acc["table"]).all()
    assert whole["n"][0] == acc["n"][0]


# ---------------- KLL ----------------

def test_kll_rank_error_bound():
    rng = np.random.RandomState(3)
    data = rng.lognormal(0, 2, 300_000)
    k = KllKernel(k=200, seed=1)
    st = k.update(k.empty(), data)
    qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    est = k.quantile(st, qs)
    sorted_data = np.sort(data)
    for q, e in zip(qs, est):
        true_rank = np.searchsorted(sorted_data, e) / len(data)
        assert abs(true_rank - q) <= k.eps(), (q, true_rank)


def test_kll_merge_preserves_bound():
    rng = np.random.RandomState(4)
    data = rng.normal(0, 1, 200_000)
    k = KllKernel(k=200, seed=2)
    parts = [k.update(k.empty(), c) for c in np.array_split(data, 16)]
    acc = parts[0]
    for p in parts[1:]:
        acc = k.merge(acc, p)
    assert acc["n"][0] == len(data)
    med = k.quantile(acc, 0.5)[0]
    true_rank = np.searchsorted(np.sort(data), med) / len(data)
    assert abs(true_rank - 0.5) <= k.eps()


def test_kll_pack_roundtrip():
    k = KllKernel(k=100, seed=0)
    st = k.update(k.empty(), np.arange(10_000, dtype=np.float64))
    st2 = k.unpack(k.pack(st))
    assert (st["values"] == st2["values"]).all()
    assert (st["offsets"] == st2["offsets"]).all()


# ---------------- t-digest ----------------

def test_tdigest_quantile_accuracy():
    rng = np.random.RandomState(5)
    data = rng.exponential(1.0, 200_000)
    k = TDigestKernel(delta=200)
    st = k.update(k.empty(), data)
    sorted_data = np.sort(data)
    for q in [0.001, 0.01, 0.5, 0.99, 0.999]:
        e = k.quantile(st, q)[0]
        true_rank = np.searchsorted(sorted_data, e) / len(data)
        # t-digest rank error shrinks near tails; 1% absolute is conservative
        assert abs(true_rank - q) < 0.01, (q, true_rank)


def test_tdigest_merge_accuracy():
    rng = np.random.RandomState(6)
    data = rng.normal(10, 3, 100_000)
    k = TDigestKernel(delta=200)
    parts = [k.update(k.empty(), c) for c in np.array_split(data, 8)]
    acc = parts[0]
    for p in parts[1:]:
        acc = k.merge(acc, p)
    med = k.quantile(acc, 0.5)[0]
    assert abs(med - np.median(data)) < 0.1
    assert abs(acc["weights"].sum() - len(data)) < 1e-6


# ---------------- VectorOfCounts ----------------

def test_voc_build_and_cardinality():
    k = VocKernel(num_buckets=4096, seed=7)
    ids = np.arange(30_000, dtype=np.int64)
    parts = [k.update(k.empty(), c) for c in np.array_split(ids, 5)]
    acc = parts[0]
    for p in parts[1:]:
        acc = k.merge(acc, p)
    assert k.estimate(acc)[0] == 30_000  # exact: disjoint slices, sum of counts


def test_voc_pairwise_union_independent_sets():
    k = VocKernel(num_buckets=4096, seed=8)
    a = k.update(k.empty(), np.arange(0, 20_000, dtype=np.int64))
    b = k.update(k.empty(), np.arange(10_000, 30_000, dtype=np.int64))
    est = PairwiseEstimator.union(a, b)
    assert abs(est - 30_000) / 30_000 < 0.05


def test_voc_sequential_matches_reference_fold_shape():
    k = VocKernel(num_buckets=4096, seed=9)
    sets = [
        np.arange(i * 5_000, i * 5_000 + 10_000, dtype=np.int64) for i in range(4)
    ]
    states = [k.update(k.empty(), s) for s in sets]
    est = sequential_estimate(states)
    true = len(np.unique(np.concatenate(sets)))
    # pairwise-chain error accumulates by design (the reference's own smoke
    # results show VoC estimable only to ~2 sequentially-correlated sets,
    # BASELINE.md row 3) — assert the documented looser envelope
    assert abs(est - true) / true < 0.12


# ---------------- exact ----------------

def test_exact_multiset_and_lossless():
    k = ExactMultiSetKernel()
    a = k.update(k.empty(), np.array([1, 1, 2, 3], dtype=np.int64))
    b = k.update(k.empty(), np.array([2, 3, 3, 4], dtype=np.int64))
    hist = lossless_estimate([a, b])
    # freqs: 1->2, 2->2, 3->3, 4->1 => h = [4 ids >=1, 3 >=2, 1 >=3]
    assert hist == [4.0, 3.0, 1.0]
    assert less_one_estimate([a, b]) == [3.0, 2.0, 0.0]


def test_exact_max_freq_cap():
    k = ExactMultiSetKernel()
    st = k.update(k.empty(), np.array([1] * 10 + [2], dtype=np.int64))
    hist = k.frequency_histogram(st, max_freq=3)
    assert hist.tolist() == [2, 1, 1]


def test_grouped_quantile_sketches(spark):
    """Per-key KLL/t-digest builds: grouped_sketch must carry DOUBLE values
    through (quantile kernels declare input_dtype float64 — a long cast
    would truncate silently) and grouped_quantiles must answer within the
    rank-error bound per key, checked against exact per-key ranks."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cardinality_estimation_evaluation_framework_spark.operators import (
        aggregate as agg,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.kll import (
        KllKernel,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.tdigest import (
        TDigestKernel,
    )

    n = 60_000
    df = spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        # per-group distinct scale + fractional part: truncation would be
        # caught by the 0.5-quantile landing on the wrong integer grid
        ((F.col("id") % 9973) / 7.0 + (F.col("id") % 3) * 10_000).alias("x"),
    )
    pdf = df.toPandas()
    qs = [0.1, 0.5, 0.9]

    for kernel, eps in ((KllKernel(k=200, seed=2), KllKernel(k=200).eps()),
                        (TDigestKernel(delta=200), 0.01)):
        sk = agg.grouped_sketch(df, kernel, ["grp"], "x")
        out = agg.grouped_quantiles(sk, kernel, ["grp"], qs).collect()
        assert len(out) == 9
        for r in out:
            grp_vals = np.sort(pdf[pdf["grp"] == r["grp"]]["x"].to_numpy())
            rank = np.searchsorted(grp_vals, r["value"]) / len(grp_vals)
            assert abs(rank - r["q"]) <= eps + 1e-9, (r, rank)
        # doubles survived the projection: a long cast would make every
        # answer integral (individual quantiles may land on integers)
        assert any(r["value"] != int(r["value"]) for r in out)

    # string-typed numeric columns cast to double for float64 kernels
    # (NOT hashed — hashing would silently sketch xxhash64 values)
    k = KllKernel(k=200, seed=2)
    df_str = df.select("grp", F.col("x").cast("string").alias("x"))
    out_d = {(r["grp"], r["q"]): r["value"] for r in
             agg.grouped_quantiles(agg.grouped_sketch(df, k, ["grp"], "x"),
                                   k, ["grp"], qs).collect()}
    out_s = {(r["grp"], r["q"]): r["value"] for r in
             agg.grouped_quantiles(agg.grouped_sketch(df_str, k, ["grp"], "x"),
                                   k, ["grp"], qs).collect()}
    for key in out_d:
        assert out_s[key] == pytest.approx(out_d[key], rel=1e-9), key


def test_quantile_kernels_drop_nulls(spark):
    """Null items must be DROPPED before a float64 kernel, not zero-filled:
    a zero-filled Arrow transfer would drag low quantiles toward 0. The
    ungrouped and grouped builds are checked against an all-positive
    distribution."""
    from pyspark.sql import functions as F

    from cardinality_estimation_evaluation_framework_spark.operators import (
        aggregate as agg,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.kll import (
        KllKernel,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        # half the rows null; non-null values uniform in [1000, 2000)
        F.when(F.col("id") % 2 == 0, F.col("id") % 1000 + 1000.0).alias("x"),
    )
    kernel = KllKernel(k=200, seed=5)

    state = agg.sketch(df, kernel, col="x")
    q10 = kernel.quantile(state, [0.1])[0]
    # with zero-fill, half the mass sits at 0.0 and q10 would be 0
    assert q10 >= 1000.0

    sk = agg.grouped_sketch(df, kernel, ["grp"], "x")
    rows = agg.grouped_quantiles(sk, kernel, ["grp"], [0.1]).collect()
    by_grp = {r["grp"]: r["value"] for r in rows}
    assert by_grp["0"] >= 1000.0
    # the all-null group emits no partial -> no row, matching SQL quantile
    assert "1" not in by_grp
