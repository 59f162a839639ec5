import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel


def _docs(spark, n_docs=5_000):
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(2**31 - 1)).cast("int"),
    )
    return spark.range(n_docs, numPartitions=8).select(toks.alias("tokens"))


def _flat_of(arr):
    vals, owner = agg.flat(pa.RecordBatch.from_arrays([arr], ["v"]), "v")
    return vals.tolist(), owner.tolist()


def test_flat_reads_offsets_and_validity():
    longs = pa.list_(pa.int64())
    # a sliced batch: its offsets start past 0
    batch = pa.RecordBatch.from_arrays(
        [pa.array([[1, 2], [3], [4, 5, 6], [7]], longs)], ["v"]
    ).slice(1, 2)
    vals, owner = agg.flat(batch, "v")
    assert (vals.tolist(), owner.tolist()) == ([3, 4, 5, 6], [0, 1, 1, 1])
    # a NULL cell whose offsets still span two child slots
    spanned = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 5], pa.int32()), pa.array([1, 2, 3, 4, 5], pa.int64()),
        mask=pa.array([False, True, False]),
    )
    assert spanned.to_pylist() == [[1, 2], None, [5]]
    assert _flat_of(spanned) == ([1, 2, 5], [0, 0, 2])
    # a NULL element and an empty list
    assert _flat_of(pa.array([[1, None, 3], [], [9]], longs)) == ([1, 3, 9], [0, 0, 2])
    # ids above 2^53 stay exact beside a NULL element
    big = [2**62 + 1, 2**62 + 3]
    vals, owner = agg.flat(
        pa.RecordBatch.from_arrays([pa.array([[big[0], None], [big[1]]], longs)], ["v"]), "v"
    )
    assert vals.dtype == np.int64 and vals.tolist() == big and owner.tolist() == [0, 1]
    # large_list (64-bit offsets) reads alike
    large = pa.array([[1], None, [2, 3]], pa.large_list(pa.int32()))
    assert _flat_of(large) == ([1, 2, 3], [0, 2, 2])
    # an empty batch
    assert _flat_of(pa.array([], longs)) == ([], [])


def test_array_path_matches_explode_path(spark):
    docs = _docs(spark)
    k = HllKernel(p=12, seed=3)
    via_explode = agg.sketch(agg.explode_tokens(docs), k)
    via_arrays = agg.sketch_tokens(docs, k)
    assert (via_explode["registers"] == via_arrays["registers"]).all()


def test_array_path_handles_nulls_and_empties(spark):
    # a NULL cell, an empty array and a NULL element are all skipped: the
    # NULL element must not turn into an id of its own
    df = spark.createDataFrame(
        [([1, 2, 3],), (None,), ([],), ([4],), ([None, 5],)],
        "tokens array<int>",
    )
    k = HllKernel(p=10, seed=1)
    st = agg.sketch_tokens(df, k)
    exact = k.update(k.empty(), np.array([1, 2, 3, 4, 5], dtype=np.int64))
    assert (st["registers"] == exact["registers"]).all()


def test_array_null_elements_keep_64_bit_ids(spark):
    # bigint and string elements drop NULLs in the JVM: a float64 batch
    # would round ids above 2^53, and xxhash64(NULL) is the seed, not NULL
    big = [2**62 + 1, 2**62 + 3]
    longs = spark.createDataFrame([([big[0], None],), ([big[1]],)], "tokens array<bigint>")
    k = HllKernel(p=10, seed=1)
    exact = k.update(k.empty(), np.array(big, dtype=np.int64))
    assert (agg.sketch(longs, k, col="tokens")["registers"] == exact["registers"]).all()

    # keyed: the same ids under one key; a key whose only item is a NULL
    # element emits no partial
    keyed = spark.createDataFrame(
        [("a", [big[0], None]), ("a", [big[1]]), ("b", [None])],
        "k string, tokens array<bigint>",
    )
    (row,) = agg.grouped_sketch(keyed, k, ["k"], "tokens").collect()
    assert (row["k"], row["rows"]) == ("a", 2)
    assert (k.unpack(bytes(row["sketch"]))["registers"] == exact["registers"]).all()

    strs = spark.createDataFrame([(["a", None],), (["b"],), (None,)], "tokens array<string>")
    scalar = spark.createDataFrame([("a",), ("b",)], "tokens string")
    assert (
        agg.sketch(strs, k, col="tokens")["registers"]
        == agg.sketch(scalar, k, col="tokens")["registers"]
    ).all()


KERNELS = {
    "hll": lambda: HllKernel(p=10, seed=3),
    "countmin": lambda: CountMinKernel(width=256, depth=3, seed=1),
    "bloom": lambda: BloomKernel(dist_kind="exponential", m=1024, seed=2, decay_rate=10.0),
    "kll": lambda: KllKernel(k=64, seed=5),
}


@pytest.mark.parametrize("name", sorted(KERNELS) + ["kll+nan"])
def test_array_scalar_and_keyed_states_are_byte_identical(spark, name):
    """One builder: an array column, the same values exploded to a scalar
    column, and either form under one constant key give the same packed
    state in every stage-1 partition (NULL cells, NULL elements and empty
    arrays included), and the same merged state. ``kll+nan`` feeds doubles
    with NaN elements: NaN is a value on both paths, NULL is not."""
    kernel = KERNELS[name.split("+")[0]]()
    parts = spark.sparkContext.defaultParallelism  # no spread: same partitions
    i_d = F.col("id")

    def value(i):
        v = F.pmod(F.xxhash64(i_d, i), F.lit(1000))
        if name.endswith("+nan"):
            return F.when((i_d + i) % 13 == 0, F.lit(float("nan"))).otherwise(v / 7.0)
        return v.cast("int")

    toks = F.transform(
        F.sequence(F.lit(0), i_d % 7),
        lambda i: F.when((i_d + i) % 11 == 0, F.lit(None)).otherwise(value(i)),
    )
    elem = "double" if name.endswith("+nan") else "int"
    docs = spark.range(400, numPartitions=parts).select(
        F.when(i_d % 37 == 0, F.lit(None))
        .when(i_d % 29 == 0, F.array().cast(f"array<{elem}>"))
        .otherwise(toks)
        .alias("v")
    )
    scalar = docs.select(F.explode("v").alias("v"))
    forms = {
        "array": (docs, []),
        "scalar": (scalar, []),
        "array+key": (docs.withColumn("k", F.lit("c")), ["k"]),
        "scalar+key": (scalar.withColumn("k", F.lit("c")), ["k"]),
    }
    got = {
        form: [
            (bytes(r["sketch"]), r["rows"])
            for r in agg.sketch_partials(frame, kernel, "v", key_cols=keys).collect()
        ]
        for form, (frame, keys) in forms.items()
    }
    assert got["array"] and sum(n for _, n in got["array"]) > 0
    for form in forms:
        assert got[form] == got["array"], form
    assert kernel.pack(agg.sketch(docs, kernel, col="v")) == kernel.pack(
        agg.sketch(scalar, kernel, col="v")
    )
