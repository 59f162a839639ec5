import numpy as np
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel


def test_sketch_matches_local_kernel(spark):
    n = 200_000
    df = spark.range(n).select(F.col("id").alias("item"))
    k = HllKernel(p=12, seed=9)
    state = agg.sketch(df, k)
    local = k.update(k.empty(), np.arange(n, dtype=np.int64))
    assert (state["registers"] == local["registers"]).all()


def test_partitioning_invariance(spark):
    # bit-identical registers across partitionings (north-rule associativity)
    df = spark.range(100_000).select(F.col("id").alias("item"))
    k = HllKernel(p=11, seed=4)
    s2 = agg.sketch(df.repartition(2), k)
    s32 = agg.sketch(df.repartition(32), k, fanout=4)
    assert (s2["registers"] == s32["registers"]).all()


def test_estimate_within_bound(spark):
    n = 500_000
    df = spark.range(n).select(F.col("id").alias("item"))
    k = HllKernel(p=14, seed=1)
    est = k.estimate(agg.sketch(df, k))[0]
    assert abs(est - n) / n < 0.05


def test_string_column_hashed_jvm_side(spark):
    df = spark.range(10_000).select(F.concat(F.lit("u"), F.col("id")).alias("item"))
    k = HllKernel(p=12, seed=2)
    est = k.estimate(agg.sketch(df, k, col="item"))[0]
    assert abs(est - 10_000) / 10_000 < 0.05


def test_grouped_sketch(spark):
    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("string").alias("src"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    sk = agg.grouped_sketch(df, k, ["src"], "item")
    est = agg.grouped_estimate(sk, k, ["src"], "estimate").collect()
    assert len(est) == 3
    for row in est:
        assert abs(row["estimate"] - 20_000) / 20_000 < 0.05


def test_grouped_sketch_null_key(spark):
    # NULL group keys must form their own group (the single-key factorize
    # fast path would otherwise code them -1 and fold their items into the
    # LAST key's sketch — or crash on an all-null batch)
    df = spark.range(30_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("src"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    est = agg.grouped_estimate(
        agg.grouped_sketch(df, k, ["src"], "item"), k, ["src"], "estimate"
    ).collect()
    by_key = {row["src"]: row["estimate"] for row in est}
    assert set(by_key) == {None, "1", "2"}
    for key, e in by_key.items():
        assert abs(e - 10_000) / 10_000 < 0.05, key
    # all-null keys: one group whose registers are bit-identical to a
    # local build over the same items (estimate accuracy is irrelevant
    # here; grouping correctness is the point)
    df_null = spark.range(5_000).select(
        F.lit(None).cast("string").alias("src"), F.col("id").alias("item")
    )
    rows = agg.grouped_sketch(df_null, k, ["src"], "item").collect()
    assert len(rows) == 1 and rows[0]["src"] is None
    local = k.update(k.empty(), np.arange(5_000, dtype=np.int64))
    got = k.unpack(bytes(rows[0]["sketch"]))
    assert (got["registers"] == local["registers"]).all()


def test_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("item"))
    k = HllKernel(p=10, seed=0)
    state = agg.sketch(df, k)
    assert k.estimate(state)[0] == 0.0


def test_grouped_sketch_two_null_keys(spark):
    # each key column is coded on its own, so every (NULL | value) x
    # (NULL | value) combination is its own group with its own rows
    df = spark.range(24_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("src"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 4).alias("lang"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    sk = agg.grouped_sketch(df, k, ["src", "lang"], "item")
    rows = {(r["src"], r["lang"]): r["rows"] for r in sk.collect()}
    assert set(rows) == {(s, lang) for s in (None, "1", "2") for lang in (None, 1, 2, 3)}
    assert set(rows.values()) == {2_000}
    for r in agg.grouped_estimate(sk, k, ["src", "lang"], "estimate").collect():
        assert abs(r["estimate"] - 2_000) / 2_000 < 0.05, r


def test_null_items_are_dropped(spark):
    # a NULL id is no id: not item 0, and not xxhash64(NULL) for strings
    from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
        CountMinKernel,
    )

    df = spark.range(1_000).select(
        F.lit("s").alias("src"),
        F.when(F.col("id") >= 100, F.col("id")).alias("item"),
        F.when(F.col("id") >= 100, F.concat(F.lit("u"), F.col("id"))).alias("name"),
    )
    cm = CountMinKernel(width=4096, depth=4, seed=1)
    zero = np.array([0], dtype=np.int64)
    assert cm.query(agg.sketch(df, cm), zero)[0] == 0
    (row,) = agg.grouped_sketch(df, cm, ["src"], "item").collect()
    assert row["rows"] == 900
    assert cm.query(cm.unpack(bytes(row["sketch"])), zero)[0] == 0

    k = HllKernel(p=12, seed=2)
    with_nulls = agg.sketch(df, k, col="name")
    without = agg.sketch(df.where(F.col("name").isNotNull()), k, col="name")
    assert (with_nulls["registers"] == without["registers"]).all()


def test_spread_partitions_does_not_probe_a_given_count():
    class Frame:
        def repartition(self, n):
            return ("repartitioned", n)

        @property
        def rdd(self):
            raise AssertionError("probed the partition count")

    assert agg.spread_partitions(Frame(), 3) == (("repartitioned", 3), 3)
