"""Pure-Catalyst (zero-Python) HLL++ builds — the scan-speed path.

The Arrow JVM->Python transfer is the throughput ceiling of the pandas
kernels (~6.5M rows/s machine-wide in this sandbox regardless of cores).
These builders express the ENTIRE HLL++ update in Spark SQL built-ins
(xxhash64 + bit ops + groupBy with map-side partial aggregation), so the
hot path stays inside whole-stage codegen and scales with the scan:
bucket = top-p bits of xxhash64, rho = leading zeros of the low window + 1,
``groupBy(bucket).max(rho)`` — partial max per partition, so the shuffle
carries at most m rows per partition.

``hll_estimate_sql`` collects the registers and applies
``hll.register_estimate``, the kernels' own formula;
``hll_estimates_by_key_sql`` spells the same formula as a groupBy
aggregate so per-key registers never reach the driver. Seeding:
``xxhash64(lit(seed), col)`` gives an independent hash family per seed
(xxhash64 is Spark's native 64-bit hash; estimator accuracy bounds are
distribution-level, so the Python kernels' splitmix64 and this path are
interchangeable statistically — pinned by tests against exact counts and
against each other's estimates).

Semantics note (rho): the bit length of the window is
``length(bin(w))``, exact at any width; see ``_bit_length`` for why a
``log2`` path is not.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    THRESHOLD,
    _alpha,
    register_estimate,
)


def _seeded_hash(col, seed: int):
    """Independent 64-bit hash family: xxhash64(seed, x)."""
    return F.xxhash64(F.lit(seed), col)


def _bit_length(col):
    """Exact bit length of a non-negative long column.

    ``length(bin(w))`` (Long.toBinaryString) is exact at any width. A
    float ``floor(log2(w)) + 1`` path is NOT: log2 rounds UP for w just
    below 2^k once k >= 48 (verified numerically: floor(log2(2^48-1)) = 48),
    which would emit rho = 0 for ~1e-14 of hashes — invisible in tests,
    plausible at 10^11 tokens. Exactness beats the ~string-alloc cost."""
    return F.length(F.bin(col))


def _hll_bucket_rho(h, p: int):
    """(bucket, rho) column pair from a 64-bit hash column — the single
    definition all HLL SQL builders share."""
    window = 64 - p
    bucket = F.shiftrightunsigned(h, window).cast("int")
    w = h.bitwiseAND(F.lit((1 << window) - 1))
    rho = (
        F.when(w == 0, F.lit(window + 1))
        .otherwise(F.lit(window) - _bit_length(w) + 1)
        .cast("int")
    )
    return bucket, rho


def hll_registers_sql(items: DataFrame, p: int = 14, seed: int = 0,
                      col: str = "item") -> DataFrame:
    """(bucket int, rho int) HLL++ register table, built entirely JVM-side.

    Plan shape: scan -> codegen project (hash/shift/mask) -> partial max ->
    exchange of <= m rows/partition -> final max. No Python anywhere.
    """
    return hll_registers_by_key_sql(items, [], p, seed, col)


def hll_estimate_sql(items: DataFrame, p: int = 14, seed: int = 0,
                     col: str = "item") -> float:
    """Distinct-count estimate from the SQL register build, by the
    kernels' formula (``hll.register_estimate``)."""
    regs = np.zeros(1 << p, dtype=np.int8)
    for r in hll_registers_sql(items, p, seed, col).collect():
        regs[r["bucket"]] = r["rho"]
    return register_estimate(regs, p)


def hll_registers_by_key_sql(items: DataFrame, keys: list[str], p: int = 14,
                             seed: int = 0, col: str = "item") -> DataFrame:
    """Per-key HLL register tables, entirely JVM-side:
    ``groupBy(*keys, bucket).max(rho)`` — the grouped twin of
    hll_registers_sql. Map-side combine bounds the shuffle at
    (#keys-per-partition x m) rows regardless of row count, so a partition
    with 10^9 rows of one hot key still emits <= m rows for it (the same
    skew-immunity argument as the Arrow grouped_sketch, at scan speed)."""
    h = _seeded_hash(F.col(col), seed)
    bucket, rho = _hll_bucket_rho(h, p)
    return (
        items.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimates_by_key_sql(items: DataFrame, keys: list[str], p: int = 14,
                             seed: int = 0, col: str = "item") -> DataFrame:
    """(keys..., estimate double): per-key distinct-count estimates computed
    FROM the register tables WITHOUT collecting them — the HLL++ formula
    (raw + linear-counting fallback) is itself a groupBy aggregate:

        raw = alpha*m^2 / (sum(2^-rho over present buckets) + (m - #present))
        v   = m - #present buckets
        lc  = m * ln(m / v)                      (when v > 0)
        est = lc if v>0 and lc <= threshold else raw

    so a BILLION keys never touch the driver."""
    m = 1 << p
    regs = hll_registers_by_key_sql(items, keys, p, seed, col)
    alpha = _alpha(m)
    present = F.count("*")
    sum_pow = F.sum(F.pow(F.lit(2.0), -F.col("rho").cast("double")))
    v = (F.lit(m) - present).cast("double")
    raw = F.lit(alpha * m * m) / (sum_pow + v)  # absent buckets contribute 2^0
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    est = F.when(
        (v > 0) & (lc <= F.lit(float(THRESHOLD[p]))), lc
    ).otherwise(raw)
    return regs.groupBy(*keys).agg(est.alias("estimate"))
