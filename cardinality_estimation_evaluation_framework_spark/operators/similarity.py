"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — JVM-side zip_with /
  aggregate arithmetic, one scan + window top-k (or threshold filter for
  deterministic output sets).
- seeded random hyperplanes (``_hyperplanes``), shared with the
  embedding near-dup LSH in ``dedup.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from cardinality_estimation_evaluation_framework_spark.hashing import splitmix64


def _cosine(vec_col, query: list[float]):
    # all math in double: float32*float32 would drift from a double oracle
    v = F.transform(vec_col, lambda x: x.cast("double"))
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    qlit = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(v, qlit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (nrm * F.lit(qn))


def brute_force_topk(emb: DataFrame, query: list[float], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine, deterministic ordering (cosine DESC, id ASC).

    Plan: score -> ``orderBy().limit(k)``, which Spark executes as
    TakeOrderedAndProject (per-partition top-k + tiny driver merge) — no
    unpartitioned global window, so the plan survives a billion-row
    embedding table. The rank column is attached AFTER the limit, over the
    k surviving rows only."""
    scored = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.round(_cosine(F.col(vec_col), query), 6).alias("cosine"),
    )
    top = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    # rank over the k survivors only. pmod(vec_id,1) is a constant-0
    # partition key Catalyst can't fold away (a bare lit(0) is pruned to an
    # empty spec, which logs the single-partition warning); one group over
    # k rows is exactly the intent here.
    w = Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "cosine", "rank"
    )


def brute_force_threshold(emb: DataFrame, query: list[float], threshold: float,
                          id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All vectors with cosine >= threshold (deterministic set — the
    oracle-friendly form)."""
    return (
        emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.round(_cosine(F.col(vec_col), query), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# random hyperplanes (embedding near-dup LSH in dedup.py)
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-gaussian hyperplanes from splitmix64 bits
    (Box-Muller over uniform mantissas)."""
    n = dim * n_planes
    u1 = splitmix64(np.arange(n, dtype=np.uint64), seed).astype(np.float64) / 2.0**64
    u2 = splitmix64(np.arange(n, dtype=np.uint64), seed + 1).astype(np.float64) / 2.0**64
    u1 = np.clip(u1, 1e-12, 1.0)
    g = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    return g.reshape(n_planes, dim)
