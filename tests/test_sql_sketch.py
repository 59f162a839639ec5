"""Pure-Catalyst sketch builds: correctness vs exact counts, agreement with
the Python kernels' bounds, and plan shape (zero Python in the hot path)."""

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


def test_countmin_sql_is_exact_count_table(spark, items):
    """Count-min guarantees via the MATCHED SQL query path: point query >=
    true count (the lower bound is structural — a mismatched hash family
    would break it), and <= true + eps*N slack."""
    state = sql_sketch.countmin_state_sql(items, width=2048, depth=4, seed=1)
    true = {
        r["item"]: r["cnt"]
        for r in items.groupBy("item").agg(F.count("*").alias("cnt")).limit(50).collect()
    }
    n = int(state["n"][0])
    assert n == items.count()  # n recovered from row sums, no extra scan
    eps = np.e / 2048
    ests = sql_sketch.countmin_query_sql(
        spark, state, list(true.keys()), width=2048, depth=4, seed=1)
    for est, cnt in zip(ests, true.values()):
        assert est >= cnt
        assert est <= cnt + eps * n * 3


def test_exp_adbf_sql_estimate_within_bound(spark, items):
    est = sql_sketch.exp_adbf_estimate_sql(items, m=65536, decay_rate=10.0, seed=0)
    true = items.distinct().count()
    assert abs(est - true) / true < 0.05


def test_exp_adbf_closed_form_matches_searchsorted(spark):
    """The closed-form geometric inverse CDF lands in the same register as
    the numpy searchsorted for >=99.9% of hashes (float boundary ulps only),
    and the register-count distribution is statistically indistinguishable."""
    from cardinality_estimation_evaluation_framework_spark.sketches.any_sketch import (
        ExponentialDist,
    )

    m, a = 4096, 10.0
    dist = ExponentialDist(m, a)
    rng = np.random.RandomState(0)
    h = rng.randint(0, 2**63, size=200_000).astype(np.uint64) * np.uint64(2)
    expected = dist.indexes(h)
    q = float(np.exp(-a / (m + 1)))
    u = h.astype(np.float64) / 2**64
    idx = np.ceil(
        np.log1p((-u * (1.0 - q**m)).astype(np.float64)) / np.log(q)
    ) - 1
    got = np.clip(idx, 0, m - 1).astype(np.int64)
    assert (expected == got).mean() > 0.999


def test_suite_build_sql_one_shuffle_all_sketches(spark, items):
    suite = sql_sketch.suite_build_sql(
        items, p=10, cm_width=512, cm_depth=3, adbf_m=4096)
    rows = suite.collect()
    sketches = {r["sketch"] for r in rows}
    assert sketches == {"hll", "cm", "adbf"}
    # cm counts sum to depth * N
    cm_total = sum(r["val"] for r in rows if r["sketch"] == "cm")
    assert cm_total == 3 * items.count()
    # hll registers match the standalone builder
    hll_rows = {(r["bucket"], r["val"]) for r in rows if r["sketch"] == "hll"}
    standalone = {(r["bucket"], r["rho"])
                  for r in sql_sketch.hll_registers_sql(items, p=10, seed=0).collect()}
    assert hll_rows == standalone
    # plan: no Python evals, aggregation present
    plan = suite._sc._jvm.PythonSQLUtils.explainString(
        suite._jdf.queryExecution(), "formatted") if False else \
        suite._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan


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


def test_suite_states_from_sql(spark, items):
    """The collected suite states are estimate-ready and consistent with
    the standalone builders."""
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
        THRESHOLD, _alpha,
    )

    params = dict(p=10, cm_width=512, cm_depth=3, adbf_m=4096)
    rows = sql_sketch.suite_build_sql(items, **params)
    states = sql_sketch.suite_states_from_sql(rows, **params)
    true = items.distinct().count()
    n = items.count()
    # hll estimate from the collected registers tracks truth
    regs = states["hll"]["registers"].astype(np.float64)
    raw = _alpha(1024) * 1024**2 / float(np.sum(np.exp2(-regs)))
    assert abs(raw - true) / true < 0.15
    # cm: n recovered exactly, table row sums equal N
    assert int(states["cm"]["n"][0]) == n
    assert all(int(states["cm"]["table"][r].sum()) == n for r in range(3))
    # adbf occupancy within [1, m]
    occ = int(states["adbf"]["registers"].sum())
    assert 0 < occ <= 4096


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


def test_countmin_by_key_sql_matches_solo(spark):
    df = (
        spark.range(40_000)
        .select(
            (F.col("id") % 3).cast("string").alias("source"),
            F.pmod(F.xxhash64("id"), F.lit(5_000)).alias("item"),
        )
        .cache()
    )
    df.count()
    grouped = sql_sketch.countmin_table_by_key_sql(
        df, ["source"], width=512, depth=3, seed=2)
    for src in ("0", "2"):
        sub = {(r["r"], r["bucket"], r["cnt"])
               for r in grouped.where(F.col("source") == src)
               .select("r", "bucket", "cnt").collect()}
        solo = {(r["r"], r["bucket"], r["cnt"])
                for r in sql_sketch.countmin_table_sql(
                    df.where(F.col("source") == src),
                    width=512, depth=3, seed=2).collect()}
        assert sub == solo, src
    # per-key row sums equal per-key N for every depth row
    n_by_src = {r["source"]: r["n"] for r in
                df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    sums = (grouped.groupBy("source", "r").agg(F.sum("cnt").alias("s")).collect())
    for row in sums:
        assert row["s"] == n_by_src[row["source"]], row


def test_exp_adbf_by_key_sql_matches_solo(spark):
    df = (
        spark.range(20_000)
        .select(
            (F.col("id") % 2).cast("string").alias("source"),
            F.pmod(F.xxhash64("id"), F.lit(4_000)).alias("item"),
        )
        .cache()
    )
    df.count()
    grouped = sql_sketch.exp_adbf_registers_by_key_sql(
        df, ["source"], m=4096, decay_rate=10.0, seed=3)
    for src in ("0", "1"):
        sub = {r["bucket"] for r in
               grouped.where(F.col("source") == src).select("bucket").collect()}
        solo = {r["bucket"] for r in sql_sketch.exp_adbf_registers_sql(
            df.where(F.col("source") == src), m=4096, decay_rate=10.0,
            seed=3).collect()}
        assert sub == solo, src
