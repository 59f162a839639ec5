import math

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


def test_nan_key_is_its_own_group(spark):
    # a NaN key groups apart from the NULL key, as groupBy().count() does,
    # through stage 1, the merge and the estimate
    from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
        ExactMultiSetKernel,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [(nan, 1), (None, 2), (1.0, 3), (nan, 4)], "k double, v long")
    k = ExactMultiSetKernel()
    est = agg.grouped_estimate(agg.grouped_sketch(df, k, ["k"], "v"), k, ["k"])

    def by_key(rows, col):
        return {("nan" if r["k"] != r["k"] else r["k"]): r[col] for r in rows}

    expected = {"nan": 2, None: 1, 1.0: 1}
    assert by_key(df.groupBy("k").count().collect(), "count") == expected
    assert by_key(est.collect(), "estimate") == expected
    # one input partition, one row per Arrow batch: both NaN rows still
    # land in one stage-1 state
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch_rows = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        partials = agg.sketch_partials(df, k, "v", input_partitions=1, key_cols=["k"])
        assert by_key(partials.collect(), "rows") == expected
    finally:
        spark.conf.set(conf, batch_rows)


def test_zero_key_is_labelled_positive_zero(spark):
    # -0.0 and 0.0 are one group labelled 0.0, as groupBy labels it, in
    # every stage-1 partial and so in the merge, whichever spelling a
    # partition sees first
    from cardinality_estimation_evaluation_framework_spark.sketches.exact import (
        ExactMultiSetKernel,
    )

    df = spark.createDataFrame(
        [(-0.0, 1), (0.0, 2), (0.0, 3), (-0.0, 4)], "k double, v long").coalesce(1)
    k = ExactMultiSetKernel()
    for parts in (1, 2):
        partials = agg.sketch_partials(df, k, "v", input_partitions=parts, key_cols=["k"])
        merged = partials.groupBy("k").applyInArrow(
            agg._merge_fn(k, ["k"]), schema=partials.schema)
        est = agg.grouped_estimate(merged, k, ["k"]).collect()
        assert [(r["k"], r["estimate"]) for r in est] == [(0.0, 4)]
        assert math.copysign(1.0, est[0]["k"]) == 1.0


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


def test_spread_partitions_coalesces_a_small_input_without_a_job(spark):
    # 80 KB in 2 x cores splits: one task per core, merged by a narrow
    # coalesce, decided from the plan's size estimate without a Spark job
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(10_000, numPartitions=2 * cores)
    sc = spark.sparkContext
    sc.setJobGroup("spread-small", "spread-small")
    try:
        out, n = agg.spread_partitions(df)
        jobs = sc.statusTracker().getJobIdsForGroup("spread-small")
        out.count()  # the tracker does see this group's jobs
        ran = sc.statusTracker().getJobIdsForGroup("spread-small")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [] and ran, (jobs, ran)
    assert n == cores
    assert out.rdd.getNumPartitions() == cores
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_spread_partitions_keeps_splits_its_size_calls_for(spark):
    # with 1 KB splits the same 80 KB calls for 79 tasks: its 2 x cores stay
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(10_000, numPartitions=2 * cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        out, n = agg.spread_partitions(df)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert out is df and n == 2 * cores


def test_sketch_tokens_over_coalesced_splits_matches_numpy(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
        BloomKernel,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
        CountMinKernel,
    )
    from cardinality_estimation_evaluation_framework_spark.sketches.suite import (
        SuiteKernel,
    )

    cores = spark.sparkContext.defaultParallelism
    tokens = (np.random.RandomState(5).zipf(1.2, (2_000, 25)) % 50_000).astype(np.int32)
    offsets = np.arange(0, tokens.size + 1, tokens.shape[1], dtype=np.int32)
    path = str(tmp_path / "tokens.parquet")
    pq.write_table(pa.table(
        {"tokens": pa.ListArray.from_arrays(offsets, pa.array(tokens.ravel()))}
    ), path)
    # a file scan has a size estimate; a frame made from a Python list has none
    df = spark.read.parquet(path).repartition(2 * cores)
    k = SuiteKernel({
        "hll": HllKernel(p=12, seed=3),
        "cm": CountMinKernel(width=1024, depth=3, seed=1),
        "bloom": BloomKernel(dist_kind="exponential", m=4096, seed=2, decay_rate=10.0),
    })
    partials = agg.sketch_array_partials(df, k)
    assert partials._ceef_nparts == cores == partials.count()
    local = k.update(k.empty(), tokens.ravel().astype(np.int64))
    assert k.pack(agg.sketch_tokens(df, k)) == k.pack(local)
