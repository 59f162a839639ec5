"""Partial + tree-merge sketch aggregation (the treeAggregate-style core).

The reference builds one sketch per set by streaming ids through ``add``
(ref: simulator.py:167-171) in a single process. At 10^12 tokens the Spark
equivalent is a two-phase aggregation that Catalyst cannot derive for Python
UDAFs, so it is built explicitly (SURVEY §4):

  stage 1 (map side)   : ONE builder, ``sketch_partials``, folds each input
                         partition's Arrow batches into one packed state per
                         group key (a map-side combine), emitting O(m)
                         bytes per (partition, key) instead of O(rows). The
                         value column is scalar or ``array<…>``; an array
                         crosses Arrow as one row per document and is
                         read by ``flat``, never exploded.
  stage 2 (reduce side): ONE merge, ``_merge_fn``: merge one key's states,
                         sum their ``rows``, keep the key. ``grouped_sketch``
                         runs it once per key; ``tree_merge`` runs it as an
                         executor-side tree with fanout F until few enough
                         partials remain to collect, then the driver folds
                         the rest. Depth = ceil(log_F P), driver traffic
                         O(F * m), never O(P * m).

A partial row is ``(key_cols... | gid, sketch, rows)``. With no keys ``gid``
is the stage-1 partition id, so the ungrouped build is the grouped build
without the key split.

The stage-1 contract lives in ``sketch_partials`` alone:
- dtypes: id kernels get int64, with strings and binaries hashed by JVM-side
  xxhash64 so Arrow moves 8 bytes per item; float64 kernels (KLL, t-digest)
  get doubles.
- NULLs: a NULL item is dropped on every path, as SQL ``COUNT(DISTINCT)``
  and quantile aggregates drop it. A scalar NULL is filtered in the JVM;
  an array's NULL cell or element crosses Arrow as a validity bit and
  ``flat`` drops it. Strings and binaries are hashed only when non-NULL,
  since ``xxhash64(NULL)`` is the seed, not NULL. A key whose items are all
  NULL emits no partial. NaN is a value, not a NULL, on both paths.
- partitioning: ``spread_partitions`` is the one place that decides it:
  ``input_partitions`` when given (no probe); else an input in fewer splits
  than ``defaultParallelism`` is spread round-robin to it, and one in more
  splits than ``max(defaultParallelism, ceil(size /
  spark.sql.files.maxPartitionBytes))`` (``size`` the optimizer's estimate,
  read from the plan without a job) is merged to that count by a narrow
  ``coalesce``. Each Python task pays a fixed worker set-up (~0.2-0.3 s,
  SCALE.md §4), so a small input runs one task per core, not one per split.

For the kernels whose merge is associative + commutative and
partition-invariant (HLL, Bloom/ADBF, count-min, VoC, FLL, Liquid Legions:
property-tested in tests/test_property_merge.py), any partitioning and any
tree shape produce bit-identical states, mirroring the reference's merge
contracts (ref: any_sketch.py:36-105, hyper_log_log.py:217-246). KLL and
t-digest compact by sampling: they reproduce a result exactly only for a
fixed partitioning (sketches/kll.py), so the rule above, which can change
an input's partition count, can change their states within their bounds.

Scale notes (100 TB posture):
- Raw rows are never shuffled for a global sketch: the only shuffle moves
  packed states (KB each). For grouped sketches the shuffle moves
  (#partitions x #groups) states, the minimum possible for a hash agg.
- Value skew is neutralized by the map-side combine (a partition with 10^9
  repeats of one key still emits one state). Input-placement skew is
  handled by the spread above; Spark AQE handles the rest.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)

_NAN = float("nan")  # the one NaN group key object (see sketch_partials.groups)


def spread_partitions(
    df: DataFrame, input_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """The one partitioning decision: ``(frame, partition count)``.

    An input in fewer splits than ``defaultParallelism`` (a local
    single-file read arrives in one) is spread round-robin to it so every
    core works. An input in more splits than its size calls for, that is
    ``max(defaultParallelism, ceil(size / spark.sql.files.maxPartitionBytes))``
    with ``size`` the optimizer's estimate, is merged to that count by a
    narrow ``coalesce``: no shuffle, and each Python task's fixed set-up is
    paid once per core rather than once per split. A 100 TB scan, whose
    estimate calls for at least as many tasks as it has splits, and an
    input of unknown size are left alone. The estimate is exact for a
    cached or scanned table; a column generated in the plan (``range`` plus
    a ``transform`` into arrays) is under-counted, so such an input runs
    one task per core whatever its real size. ``input_partitions`` forces
    the count without probing the input's own."""
    if input_partitions:
        return df.repartition(input_partitions), input_partitions
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < cores:
        return df.repartition(cores), cores
    # read from the plan, no job; an unknown size reads Long.MaxValue
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size < 2**63 - 1:
        split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        target = max(cores, -(-size // split))
        if n > target:
            return df.coalesce(target), target
    return df, n


def explode_tokens(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """tokens array<int32> → one int64 ``item`` per token (Catalyst explode,
    whole-stage codegen; no Python involved). An under-partitioned input is
    spread as DOC rows first, ~100x fewer bytes than a post-explode shuffle.

    Sketches do not need this: ``sketch(df, kernel, col="tokens")`` reads
    the arrays directly, one Arrow row per document."""
    docs, _ = spread_partitions(df)
    return docs.select(F.explode(F.col(tokens_col)).alias("_t")).select(
        F.col("_t").cast("long").alias("item")
    )


def salted_repartition(df: DataFrame, key_col: str, salt_buckets: int = 16,
                       partitions: int | None = None) -> DataFrame:
    """Explicit skew-salting: repartition on hash(key, salt) so one hot key's
    rows spread over ``salt_buckets`` tasks (north-rule requirement).

    For SKETCH aggregation this is rarely needed — the map-side combine in
    sketch_partials already collapses any per-partition key skew to one
    state — but exact aggregations (counts, joins) over a hot key need
    it, and it also spreads a pathological input placement before stage 1.
    The salt uses a deterministic hash of a per-row sequence, not rand(),
    so replays are stable.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    return (
        df.withColumn("_salt", salt)
        .repartition(n, F.col(key_col), F.col("_salt"))
        .drop("_salt")
    )


def salted_exact_counts(df: DataFrame, key_col: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase exact count for skewed keys: partial count per (key, salt)
    then final sum per key — the salted twin of ``groupBy(key).count()``.
    (Spark's hash agg already partial-aggregates; the explicit form also
    protects sort-based fallbacks and demonstrates the pattern.)"""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(F.count("*").alias("_c"))
    )
    return partial.groupBy(key_col).agg(F.sum("_c").cast("long").alias("count"))


def flat(batch: pa.RecordBatch, col: str) -> tuple[np.ndarray, np.ndarray]:
    """The non-NULL values of list column ``col`` and each value's batch row.

    Reads the list offsets, the child values and both validity bitmaps; it
    builds no per-document object. A NULL cell, whose offsets may still span
    child slots, and a NULL element contribute no value. ``list`` and
    ``large_list`` read alike, and so does a sliced batch, whose offsets do
    not start at 0. Values come out in row order, so ``owner`` is sorted."""
    arr = batch.column(col)
    offs = arr.offsets.to_numpy()
    owner = np.repeat(np.arange(len(arr)), np.diff(offs))
    vals = arr.values.slice(offs[0], offs[-1] - offs[0])
    if arr.null_count or vals.null_count:
        keep = vals.is_valid().to_numpy(zero_copy_only=False)
        if arr.null_count:
            keep &= arr.is_valid().to_numpy(zero_copy_only=False)[owner]
        # filter before to_numpy: a NULL would turn int64 into float64
        vals, owner = vals.filter(pa.array(keep)), owner[keep]
    return vals.to_numpy(zero_copy_only=False), owner


def list_rows(block: np.ndarray) -> pa.ListArray:
    """A 2-D numpy block as an Arrow list column, one row per block row."""
    offsets = np.arange(0, block.size + 1, block.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, block.ravel())


def sketch_partials(
    df: DataFrame,
    kernel: SketchKernel,
    col: str = "item",
    input_partitions: int | None = None,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Stage 1, the only builder: one packed partial per (input partition,
    key) — per input partition when ``key_cols`` is empty.

    Output rows are ``(key_cols... | gid, sketch, rows)``; ``rows`` counts
    the non-NULL items folded into the state. ``col`` may be scalar or
    ``array<…>``; see the module docstring for the dtype, NULL and
    partitioning contract.
    """
    key_cols = list(key_cols)
    float_kernel = getattr(kernel, "input_dtype", "int64") == "float64"
    np_dtype = np.float64 if float_kernel else np.int64
    dtype = df.schema[col].dataType
    is_array = isinstance(dtype, ArrayType)
    elem = dtype.elementType if is_array else dtype
    text = isinstance(elem, (StringType, BinaryType))
    if float_kernel:
        conv = lambda x: x.cast("double")  # noqa: E731
    elif text:
        # xxhash64(NULL) is the seed, not NULL: a NULL must stay NULL
        conv = lambda x: F.when(x.isNotNull(), F.xxhash64(x))  # noqa: E731
    else:
        conv = lambda x: x.cast("long")  # noqa: E731
    c = F.col(col)
    if not is_array:
        df = df.where(c.isNotNull())
        item = conv(c)
    elif text:
        item = F.transform(c, conv)
    else:
        # the token path: numeric arrays cross Arrow as they are
        item = c
    # the value keeps its name, so an array passed as is needs no Project
    proj, nparts = spread_partitions(
        df.select(*key_cols, item.alias(col)), input_partitions
    )
    out_schema = StructType(
        ([proj.schema[k] for k in key_cols] or [StructField("gid", LongType())])
        + [StructField("sketch", BinaryType()), StructField("rows", LongType())]
    )

    def groups(batch: pa.RecordBatch):
        """(key tuple, non-NULL values) per group present in the batch."""
        if is_array:
            vals, owner = flat(batch, col)  # owner: each value's batch row
        else:
            vals, owner = batch.column(col).to_numpy(zero_copy_only=False), None
        vals = vals.astype(np_dtype, copy=False)
        if not len(vals):
            return
        if not key_cols:
            yield (), vals
            return
        # each key column is coded alone (a NULL key is a dictionary entry
        # of its own) and the codes are combined pairwise, re-factorized so
        # they stay below the row count
        codes = None
        for k in key_cols:
            enc = pc.dictionary_encode(batch.column(k), null_encoding="encode")
            kc = enc.indices.to_numpy().astype(np.int64)
            codes = kc if codes is None else pd.factorize(codes * len(enc.dictionary) + kc)[0]
        if owner is not None:
            codes = codes[owner]
        order = np.argsort(codes, kind="stable")
        bounds = np.flatnonzero(np.diff(codes[order])) + 1
        rows = order if owner is None else owner[order]  # batch row per value
        keyvals = [batch.column(k) for k in key_cols]
        for s, e in zip(np.r_[0, bounds], np.r_[bounds, len(order)]):
            key = tuple(kv[int(rows[s])].as_py() for kv in keyvals)
            # NaN is a key of its own, apart from NULL, as in a SQL GROUP BY;
            # one NaN object lets a later batch's NaN find the same state
            # (NaN != NaN, so tuple and dict lookups match it by identity).
            # -0.0 and 0.0 are one key, labelled 0.0 as groupBy labels it
            yield tuple(_NAN if v != v else v + 0.0 if isinstance(v, float) else v
                        for v in key), vals[order[s:e]]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states: dict[tuple, list] = {}
        for batch in batches:
            key_types = [batch.schema.field(k).type for k in key_cols]
            for key, part in groups(batch):
                entry = states.get(key)
                if entry is None:
                    entry = states[key] = [kernel.empty(), 0]
                entry[0] = kernel.update(entry[0], part)
                entry[1] += len(part)
        if states:
            if key_cols:
                out = [pa.array([key[i] for key in states], type=t)
                       for i, t in enumerate(key_types)]
            else:
                ctx = TaskContext.get()
                out = [pa.array([ctx.partitionId() if ctx is not None else 0], pa.int64())]
            out.append(pa.array([kernel.pack(st) for st, _ in states.values()], pa.binary()))
            out.append(pa.array([n for _, n in states.values()], pa.int64()))
            yield pa.RecordBatch.from_arrays(out, names=out_schema.names)

    out = proj.mapInArrow(build, schema=out_schema)
    # the partial count is bounded by the stage-1 partition count, known
    # here; recording it saves tree_merge a driver-side RDD conversion of
    # the mapInArrow plan (measured ~0.5 s of pure planning per call)
    out._ceef_nparts = nparts  # type: ignore[attr-defined]
    return out


def sketch_array_partials(
    df: DataFrame, kernel: SketchKernel, tokens_col: str = "tokens"
) -> DataFrame:
    """``sketch_partials`` over an array column."""
    return sketch_partials(df, kernel, tokens_col)


def grouped_sketch_partials(
    df: DataFrame, kernel: SketchKernel, key_cols: list[str], col: str
) -> DataFrame:
    """``sketch_partials`` with group keys."""
    return sketch_partials(df, kernel, col, key_cols=key_cols)


def _merge_fn(kernel: SketchKernel, key_cols: list[str]):
    """The one merge: merge one key's packed states, sum their ``rows`` and
    keep the key columns as Arrow values, so a NaN key stays NaN and a NULL
    key stays NULL."""

    def merge(table: pa.Table) -> pa.Table:
        out = [table.column(k).slice(0, 1) for k in key_cols]
        out.append(pa.array(
            [kernel.merge_packed(table.column("sketch").to_pylist())], pa.binary()))
        out.append(pa.array([pc.sum(table.column("rows")).as_py()], pa.int64()))
        return pa.Table.from_arrays(out, names=[*key_cols, "sketch", "rows"])

    return merge


def tree_merge(
    partials: DataFrame,
    kernel: SketchKernel,
    fanout: int = 32,
    collect_threshold: int = 64,
) -> State:
    """Stage 2: executor-side tree reduction, then a short driver fold.

    The number of partials is bounded by the stage-1 partition count, which
    is known WITHOUT an action — so the whole tree is planned lazily and the
    input is scanned exactly once (a ``count()`` here would recompute the
    expensive stage 1 per level).
    """
    cur = partials
    n = getattr(partials, "_ceef_nparts", None)
    if n is None:
        n = partials.rdd.getNumPartitions()
    while n > collect_threshold:
        width = max(1, math.ceil(n / fanout))
        cur = (
            cur.withColumn("gid", F.pmod(F.col("gid"), F.lit(width)))
            .groupBy("gid")
            .applyInArrow(_merge_fn(kernel, ["gid"]), schema=partials.schema)
        )
        n = width
    # Arrow transfer for the final fetch: packed states are binary blobs
    # (KB-MB each) and the py4j row path moves them an order of magnitude
    # slower than Arrow batches (guide §6 "Arrow for driver transfers").
    raws = cur.select("sketch").toPandas()["sketch"].tolist()
    if not raws:
        return kernel.empty()
    spec_checked = kernel.merge_packed(raws)
    return kernel.unpack(spec_checked)


def sketch(
    df: DataFrame,
    kernel: SketchKernel,
    col: str = "item",
    input_partitions: int | None = None,
    fanout: int = 32,
) -> State:
    """Full pipeline: df[col], scalar or array → merged sketch state on the
    driver."""
    return tree_merge(
        sketch_partials(df, kernel, col, input_partitions), kernel, fanout
    )


def sketch_tokens(
    df: DataFrame,
    kernel: SketchKernel,
    tokens_col: str = "tokens",
    fanout: int = 32,
) -> State:
    """``sketch`` over a token-array column."""
    return sketch(df, kernel, tokens_col, fanout=fanout)


# --------------------------------------------------------------------------
# Grouped sketches: one sketch per key (e.g. per source / per campaign).
# --------------------------------------------------------------------------

def grouped_sketch(
    df: DataFrame, kernel: SketchKernel, key_cols: list[str], col: str = "item"
) -> DataFrame:
    """DataFrame of (key_cols..., sketch, rows), one merged state per key."""
    partials = sketch_partials(df, kernel, col, key_cols=key_cols)
    return partials.groupBy(*key_cols).applyInArrow(
        _merge_fn(kernel, list(key_cols)), schema=partials.schema
    )


def grouped_estimate(
    sketches_df: DataFrame,
    kernel: SketchKernel,
    key_cols: list[str],
    value_name: str = "estimate",
) -> DataFrame:
    """Apply kernel.estimate per key (first histogram level if list)."""
    fields = [sketches_df.schema[k] for k in key_cols]
    schema = StructType(fields + [StructField(value_name, DoubleType())])

    def est(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            vals = [
                float(kernel.estimate(kernel.unpack(raw))[0])
                for raw in batch.column("sketch").to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(k) for k in key_cols), pa.array(vals, pa.float64())],
                names=schema.names,
            )

    return sketches_df.mapInArrow(est, schema=schema)


def grouped_quantiles(
    sketches_df: DataFrame,
    kernel: SketchKernel,
    key_cols: list[str],
    qs: list[float],
    value_name: str = "value",
) -> DataFrame:
    """Per-key quantile answers from grouped KLL/t-digest states: one row
    per (key, q). The estimate step stays distributed (mapInArrow over
    the per-key sketch rows) — the training-pipeline 'per-source length
    distribution' query at any key cardinality."""
    fields = [sketches_df.schema[k] for k in key_cols]
    schema = StructType(
        fields
        + [StructField("q", DoubleType()), StructField(value_name, DoubleType())]
    )
    qs_arr = np.asarray([float(q) for q in qs], dtype=np.float64)

    def est(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            vals = [kernel.quantile(kernel.unpack(raw), qs_arr)
                    for raw in batch.column("sketch").to_pylist()]
            rows = pa.array(np.repeat(np.arange(batch.num_rows), len(qs_arr)))
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(k).take(rows) for k in key_cols),
                 pa.array(np.tile(qs_arr, batch.num_rows)),
                 pa.array(np.asarray(vals, dtype=np.float64).reshape(-1))],
                names=schema.names,
            )

    return sketches_df.mapInArrow(est, schema=schema)
