"""End-to-end training-data pipeline over the documents corpus:

    read -> exact dedup -> near-dup (minhash LSH) drop -> substring-span
         filter -> quality filter -> language filter -> one-scan sketch
         stats (reach + frequency + quantiles) -> per-source report

Every stage is the engine's scale path: hash-groupBy dedup, banded LSH
(never all-pairs), whole-stage-codegen text scoring, and a single-scan
multi-sketch stats pass whose only shuffle moves O(KB) partial states.

    python examples/training_data_pipeline.py [sf_dir]
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
from cardinality_estimation_evaluation_framework_spark.operators import (
    aggregate as agg,
    dedup,
    text,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
    CountMinKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.suite import SuiteKernel


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("pipeline-demo", cores=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source"
    )
    n0 = docs.count()

    # 1. exact dedup: keep one doc per md5 fingerprint
    docs = dedup.dedup_exact(docs)
    n1 = docs.count()

    # 2. near-dup removal: minhash LSH pairs -> connected components ->
    # keep ONE representative per dup cluster (pair-wise dropping would
    # mis-handle transitive chains: a~b, b~c with a!~c)
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.85)
    clusters = dedup.connected_components(pairs)
    docs = dedup.dedup_keep_representatives(docs, clusters)
    dedup.unpersist_intermediates(pairs)
    n2 = docs.count()

    # 2b. substring-span filter: drop survivors that are mostly built of
    # text shared verbatim with OTHER surviving docs (catches template /
    # boilerplate docs that minhash keeps because their full-doc Jaccard
    # stays under the threshold)
    docs = dedup.filter_dup_spans(docs, max_dup_frac=0.8, window=8)
    n2b = docs.count()

    # 2c. append-only refresh path (what a daily ingest runs instead of
    # 1+2): persist the signature / fingerprint indexes this run built,
    # and dedup ONLY the new docs against them next time —
    #   sigs  = dedup.minhash_signatures(docs, ...).write.parquet(ix)
    #   pairs = dedup.minhash_dedup_pairs_incremental(new_docs,
    #               spark.read.parquet(ix), ...)
    # (same contract for winnowing via winnow_near_dup_pairs_incremental;
    # for a continuous ingest stream, streaming_winnow_near_dup keeps the
    # fingerprint membership as fp-keyed streaming state instead.)

    # 3. quality + language filters (pure Catalyst, codegen)
    docs = text.with_quality_score(docs).where(F.col("quality_score") >= 0.3)
    docs = text.with_lang_id(docs).where(F.col("lang_pred") == "en")
    n3 = docs.count()

    # 3b. benchmark decontamination (Bloom scale path): drop docs whose
    # n-grams collide with a held-out eval set — here a planted subset
    from cardinality_estimation_evaluation_framework_spark.operators import (
        decontam,
    )

    bench = docs.where(F.col("doc_id").cast("long") % 97 == 0)
    kernel = decontam.bloom_kernel(m=1 << 20, k=4, seed=11)
    state = decontam.build_benchmark_bloom(bench, n=5, kernel=kernel)
    flags = decontam.flag_contaminated_bloom(docs, state, kernel, n=5)
    dirty = flags.where("contaminated").select("doc_id")
    docs = docs.join(dirty, "doc_id", "left_anti")
    n3b = docs.count()

    # 3c. PII scrub + mixture sampling (deterministic: same sample under
    # any partitioning)
    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    docs = mixing.scrub_pii(docs)
    docs = mixing.deterministic_sample(
        docs, {"src0": 1.0, "src1": 0.5}, seed=42, default_fraction=0.8)
    n3c = docs.count()

    # 4. one-scan sketch stats over the surviving tokens
    suite = SuiteKernel({
        "reach": HllKernel(p=12, seed=1),
        "freq": CountMinKernel(width=4096, depth=4, seed=2),
    })
    state = agg.sketch(tk.tokenize_hashed(docs), suite, col="tokens")
    reach = HllKernel(p=12, seed=1).estimate(suite.child(state, "reach"))[0]

    # 5. per-source length quantiles from ONE grouped KLL job
    k = KllKernel(k=200, seed=3)
    lens = docs.select("source", F.length("text").cast("double").alias("len"))
    qs = agg.grouped_quantiles(
        agg.grouped_sketch(lens, k, ["source"], "len"), k, ["source"],
        [0.5, 0.95])

    print(f"docs: {n0} -> exact-dedup {n1} -> near-dup {n2} -> span-filtered {n2b} -> filtered {n3} -> decontaminated {n3b} -> mixed {n3c}")
    print(f"distinct-token reach (HLL): {reach:,.0f}")
    print("per-source length quantiles (first 6 rows):")
    for r in sorted(qs.collect())[:6]:
        print(f"  {r['source']:>12} q={r['q']:.2f} len={r['value']:.0f}")


if __name__ == "__main__":
    main()
