"""Resumable sketch builds: partial sketches checkpointed with per-unit
lineage + metrics.

The reference has no analogue (single-process); the north rule requires
batch checkpointing of partial sketches with per-partition lineage so a
10^12-token build survives preemption (SURVEY §2.i note, §4).

Design — the lineage unit is a DETERMINISTIC HASH BUCKET of the input, not
a Spark partition id: file-split partition ids change with layout/cluster
size, while ``pmod(xxhash64(key), n_buckets)`` is stable across reruns, so
a resume on a different cluster shape still skips exactly the completed
work. Buckets are processed in groups (one Spark job per group, one
map-side-combined pass per group); after each group the packed partials +
lineage rows land in parquet. Resume = read lineage, process only missing
buckets, merge all bucket partials (associative, so order is free).

Layout:
  {ckpt_dir}/{run_id}/partials/   (bucket int, sketch binary)
  {ckpt_dir}/{run_id}/lineage/    (bucket, rows, bytes, wall_ms, ts)
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


class CheckpointedSketchBuild:
    def __init__(
        self,
        df: DataFrame,
        kernel: SketchKernel,
        ckpt_dir: str,
        run_id: str,
        col: str = "item",
        key_col: str | None = None,
        n_buckets: int = 16,
        buckets_per_job: int = 4,
    ):
        self.df = df
        self.kernel = kernel
        self.col = col
        # bucket on the item itself unless a stable row key is given
        self.key_col = key_col or col
        self.n_buckets = n_buckets
        self.buckets_per_job = buckets_per_job
        self.run_id = run_id
        self.base = os.path.join(ckpt_dir, run_id)
        self.partials_path = os.path.join(self.base, "partials")
        self.lineage_path = os.path.join(self.base, "lineage")
        self.spark: SparkSession = df.sparkSession

    # -- lineage ---------------------------------------------------------------
    def completed_buckets(self) -> set[int]:
        try:
            rows = self.spark.read.parquet(self.lineage_path).select("bucket").collect()
            return {r["bucket"] for r in rows}
        except Exception:
            return set()

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)

    # -- build -----------------------------------------------------------------
    def _bucketed(self) -> DataFrame:
        b = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(self.n_buckets)).cast("int")
        return self.df.withColumn("_ckpt_bucket", b)

    def run(self, fail_after_buckets: int | None = None) -> "CheckpointedSketchBuild":
        """Process missing buckets; idempotent. ``fail_after_buckets``
        simulates preemption for resume tests."""
        done = self.completed_buckets()
        missing = [b for b in range(self.n_buckets) if b not in done]
        bucketed = self._bucketed()
        processed = 0
        for lo in range(0, len(missing), self.buckets_per_job):
            group = missing[lo : lo + self.buckets_per_job]
            if fail_after_buckets is not None and processed >= fail_after_buckets:
                return self
            t0 = time.time()
            subset = bucketed.where(F.col("_ckpt_bucket").isin([int(b) for b in group]))
            merged = agg.grouped_sketch(
                subset, self.kernel, ["_ckpt_bucket"], self.col
            )
            rows = merged.collect()  # <= buckets_per_job tiny rows
            wall_ms = int((time.time() - t0) * 1000)
            got = {int(r["_ckpt_bucket"]) for r in rows}
            out = [
                (int(r["_ckpt_bucket"]), bytes(r["sketch"]), int(r["rows"]))
                for r in rows
            ] + [(int(b), self.kernel.pack(self.kernel.empty()), 0) for b in group if b not in got]
            pdf = self.spark.createDataFrame(
                out, schema="bucket int, sketch binary, rows long"
            )
            pdf.write.mode("append").parquet(self.partials_path)
            lineage = self.spark.createDataFrame(
                [
                    (b, r, len(s), wall_ms, time.strftime("%Y-%m-%dT%H:%M:%S"))
                    for b, s, r in out
                ],
                schema="bucket int, rows long, bytes long, wall_ms long, ts string",
            )
            lineage.write.mode("append").parquet(self.lineage_path)
            processed += len(group)
        return self

    def is_complete(self) -> bool:
        return len(self.completed_buckets()) == self.n_buckets

    def result(self) -> State:
        assert self.is_complete(), (
            f"build incomplete: {len(self.completed_buckets())}/{self.n_buckets} buckets"
        )
        rows = self.spark.read.parquet(self.partials_path).collect()
        # dedupe buckets (a retried group may have written twice — identical
        # content, keep one per bucket)
        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(int(r["bucket"]), bytes(r["sketch"]))
        return self.kernel.unpack(self.kernel.merge_packed(list(by_bucket.values())))

