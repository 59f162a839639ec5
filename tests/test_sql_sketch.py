"""Pure-Catalyst HLL++ builds: register bit-parity with numpy, estimates vs
exact counts and the Python kernel, and grouped vs ungrouped builds."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import sql_sketch


@pytest.fixture(scope="module")
def items(spark):
    # 60k occurrences of 20k distinct ids with skewed multiplicity
    df = (
        spark.range(60_000)
        .select(F.pmod(F.xxhash64("id"), F.lit(20_000)).alias("item"))
        .cache()
    )
    df.count()
    return df


def test_hll_sql_registers_match_numpy_recomputation(spark, items):
    """The SQL register table equals a numpy recomputation from the SAME
    xxhash64 values — pins bucket/rho/groupBy-max bit-for-bit."""
    p, seed = 12, 3
    window = 64 - p
    hdf = items.select(F.xxhash64(F.lit(seed), "item").alias("h"))
    h = np.array([r["h"] for r in hdf.collect()], dtype=np.int64).view(np.uint64)
    bucket = (h >> np.uint64(window)).astype(np.int64)
    w = h & np.uint64((1 << window) - 1)
    bl = np.zeros(len(w), dtype=np.int64)
    nz = w > 0
    bl[nz] = np.frompyfunc(int.bit_length, 1, 1)(w[nz].astype(object)).astype(np.int64)
    rho = np.where(nz, window - bl + 1, window + 1)
    expected = np.zeros(1 << p, dtype=np.int64)
    np.maximum.at(expected, bucket, rho)

    got = np.zeros(1 << p, dtype=np.int64)
    for r in sql_sketch.hll_registers_sql(items, p=p, seed=seed).collect():
        got[r["bucket"]] = r["rho"]
    assert np.array_equal(expected, got)


def test_hll_sql_estimate_within_bound(spark, items):
    """p=10 puts n ~ 18.5*m in the raw-estimate regime (n in [threshold, 5m]
    is the known HLL++ bias zone that neither we nor the reference
    bias-correct — pinned as reference-faithful in test_reference_parity)."""
    true = items.distinct().count()
    est = sql_sketch.hll_estimate_sql(items, p=10, seed=0)
    assert abs(est - true) / true < 3 * 1.04 / np.sqrt(2**10)


def test_hll_sql_agrees_with_python_kernel_estimate(spark, items):
    """Two independent hash families (xxhash64 vs splitmix64) must agree
    within the combined HLL error envelope."""
    from cardinality_estimation_evaluation_framework_spark.operators import (
        aggregate as agg,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
        HllKernel,
    )

    sql_est = sql_sketch.hll_estimate_sql(items, p=14, seed=0)
    kernel = HllKernel(p=14, seed=0)
    py_est = kernel.estimate(agg.sketch(items, kernel, col="item"))[0]
    assert abs(sql_est - py_est) / py_est < 6 * 1.04 / np.sqrt(2**14)


def test_hll_by_key_sql_matches_ungrouped_and_truth(spark):
    """Per-key SQL registers equal per-key ungrouped builds, and the
    all-SQL per-key estimate equals the driver-side formula exactly."""
    df = (
        spark.range(80_000)
        .select(
            (F.col("id") % 4).cast("string").alias("source"),
            F.pmod(F.xxhash64("id"), F.lit(30_000)).alias("item"),
        )
        .cache()
    )
    df.count()
    p, seed = 11, 5
    grouped = sql_sketch.hll_registers_by_key_sql(df, ["source"], p=p, seed=seed)
    for src in ("0", "3"):
        sub = {(r["bucket"], r["rho"])
               for r in grouped.where(F.col("source") == src).select("bucket", "rho").collect()}
        solo = {(r["bucket"], r["rho"])
                for r in sql_sketch.hll_registers_sql(
                    df.where(F.col("source") == src), p=p, seed=seed).collect()}
        assert sub == solo, src
    ests = {r["source"]: r["estimate"]
            for r in sql_sketch.hll_estimates_by_key_sql(df, ["source"], p=p, seed=seed).collect()}
    for src in ("0", "1", "2", "3"):
        sub_df = df.where(F.col("source") == src)
        assert ests[src] == pytest.approx(
            sql_sketch.hll_estimate_sql(sub_df, p=p, seed=seed), rel=1e-9)
        true = sub_df.select("item").distinct().count()
        assert abs(ests[src] - true) / true < 3 * 1.04 / np.sqrt(2**p)
