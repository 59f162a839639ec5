"""Headline benchmark: one JSON line with per-query seconds.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

The flagship metric is sketch-build throughput (tokens/sec) over a
deterministic synthetic pre-tokenized table (BASELINE.json input_hint
shape) large enough that compute dominates fixed overhead; the testdata
queries cover the other operator families at sf scale.

``--scaling`` runs only the flagship (used by bench_scaling.py to measure
local[8] vs local[32] throughput for the N→4N efficiency evidence).
A small warmup job runs first: this sandbox shows large first-touch page
-fault stalls, and real clusters amortize worker spin-up the same way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
from cardinality_estimation_evaluation_framework_spark.operators import (
    aggregate as agg,
    dedup as dedup_ops,
    frequency_ops,
    similarity as sim_ops,
    sql_sketch,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
    CountMinKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.suite import SuiteKernel
from cardinality_estimation_evaluation_framework_spark.sketches.tdigest import (
    TDigestKernel,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_DOCS = int(os.environ.get("BENCH_SYNTH_DOCS", "300000"))
TOKENS_PER_DOC = 100
SYNTH_PARTS = 64  # input splits; sketch_partials merges a small input to one task per core


def flagship_kernel() -> SuiteKernel:
    """One-scan multi-sketch build: the shape of a real 100 TB stats pass."""
    return SuiteKernel(
        {
            "hll": HllKernel(p=14, seed=42),
            "cm": CountMinKernel(width=4096, depth=4, seed=1),
            "bloom": BloomKernel(dist_kind="exponential", m=65536, seed=2, decay_rate=10.0),
        }
    )


def synth_token_docs(spark, n_docs: int, parts: int):
    """Deterministic pre-tokenized table (tokens array<int>), generated
    entirely JVM-side (range + transform) — the input_hint shape."""
    docs = spark.range(n_docs, numPartitions=parts)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(2**31 - 1)).cast("int"),
    )
    return docs.select(toks.alias("tokens"))


def synth_token_items(spark, n_docs: int, parts: int):
    return agg.explode_tokens(synth_token_docs(spark, n_docs, parts))


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def timed_best2(fn):
    """Best of 2 back-to-back runs — this sandbox shows transient multi-
    second stalls unrelated to the engine; a single cold sample regularly
    reads 5-10x the steady-state cost. Returns (best, [s1, s2], out);
    both raw samples are reported in the JSON ("samples") so readers can
    see intra-run spread instead of trusting a single min."""
    s1, out = timed(fn)
    s2, out = timed(fn)
    return min(s1, s2), [round(s1, 3), round(s2, 3)], out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true", help="flagship only")
    args = ap.parse_args()

    spark = get_spark("ceef-bench", cores=CPUS)
    suite = flagship_kernel()
    # warmup: spin up python workers, JIT, allocator pools
    agg.sketch_tokens(synth_token_docs(spark, 5_000, SYNTH_PARTS), suite)

    n_tokens = SYNTH_DOCS * TOKENS_PER_DOC
    queries: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    # flagship: one-scan suite build (HLL + count-min + exp ADBF) over the
    # pre-tokenized table, token arrays consumed directly (no explode).
    # best of 2: the sandbox shows transient minute-scale stalls.
    docs_tbl = synth_token_docs(spark, SYNTH_DOCS, SYNTH_PARTS)
    # BENCH_BEST1=1 -> single rep per level (used by the scaling harness,
    # whose >=5 interleaved paired ROUNDS already provide the robustness
    # best-of-2 buys; halving per-round cost lets the 300M-token corpus fit)
    best1 = os.environ.get("BENCH_BEST1", "0") == "1"
    sec1, state = timed(lambda: agg.sketch_tokens(docs_tbl, suite))
    if best1:
        sec, reps_s = sec1, [round(sec1, 3)]
    else:
        sec2, state = timed(lambda: agg.sketch_tokens(docs_tbl, suite))
        sec, reps_s = min(sec1, sec2), [round(sec1, 3), round(sec2, 3)]
    queries["suite_build_synth"] = sec
    samples["suite_build_synth"] = reps_s
    tokens_per_sec = n_tokens / sec if sec > 0 else 0.0
    hll_est = HllKernel(p=14, seed=42).estimate(suite.child(state, "hll"))[0]

    # pure-Catalyst single-sketch HLL build (zero Python) — the scan-speed
    # path (operators/sql_sketch.py). A single-sketch SQL build beats the
    # Arrow kernel (no Python worker traffic); the multi-sketch suite runs
    # on the Arrow kernel, which was measured faster than a SQL
    # union-aggregation that fans every token into (1 + 1 + depth) rows.
    synth_items = synth_token_items(spark, SYNTH_DOCS, SYNTH_PARTS)
    sec1, _ = timed(lambda: sql_sketch.hll_registers_sql(
        synth_items, p=14, seed=42).count())
    if best1:
        sec_sql, reps_s = sec1, [round(sec1, 3)]
    else:
        sec2, _ = timed(lambda: sql_sketch.hll_registers_sql(
            synth_items, p=14, seed=42).count())
        sec_sql, reps_s = min(sec1, sec2), [round(sec1, 3), round(sec2, 3)]
    queries["hll_build_sql_synth"] = sec_sql
    samples["hll_build_sql_synth"] = reps_s
    tokens_per_sec_sql = n_tokens / sec_sql if sec_sql > 0 else 0.0
    # accuracy cross-check costs one extra full pass; the scaling harness
    # (BENCH_BEST1) skips it — the suite-state estimate above is free
    hll_sql_est = (
        hll_est if best1
        else sql_sketch.hll_estimate_sql(synth_items, p=14, seed=42)
    )

    payload = {
        "metric": "bench_total_sec",
        "unit": "sec",
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "synth_tokens": n_tokens,
        "tokens_per_sec_suite_build": round(tokens_per_sec),
        "tokens_per_sec_hll_sql": round(tokens_per_sec_sql),
        "hll_estimate": round(hll_est),
        "hll_estimate_sql": round(hll_sql_est),
        "samples": samples,
    }

    if not args.scaling:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        tok_items = agg.explode_tokens(tk.tokenize_hashed(docs)).cache()
        tok_items.count()

        sec, ss, _ = timed_best2(lambda: agg.sketch(tok_items, HllKernel(p=12, seed=7)))
        queries["hll_build_docs"] = sec
        samples["hll_build_docs"] = ss

        sec, ss, _ = timed_best2(
            lambda: sql_sketch.hll_registers_sql(tok_items, p=12, seed=7).count()
        )
        queries["hll_build_sql_docs"] = sec
        samples["hll_build_sql_docs"] = ss

        tok_src = tk.tokenize_hashed(docs).select(
            "source", F.explode("tokens").alias("t")
        ).select("source", F.col("t").cast("long").alias("item"))
        k12 = HllKernel(p=12, seed=7)
        sec, ss, _ = timed_best2(
            lambda: agg.grouped_estimate(
                agg.grouped_sketch(tok_src, k12, ["source"], "item"), k12, ["source"]
            ).collect()
        )
        queries["hll_by_source"] = sec
        samples["hll_by_source"] = ss

        sec, ss, _ = timed_best2(
            lambda: sql_sketch.hll_estimates_by_key_sql(
                tok_src, ["source"], p=12, seed=7).collect()
        )
        queries["hll_by_source_sql"] = sec
        samples["hll_by_source_sql"] = ss

        sec, ss, _ = timed_best2(
            lambda: agg.sketch_tokens(docs_tbl, CountMinKernel(width=4096, depth=4, seed=1))
        )
        queries["countmin_build_synth"] = sec
        samples["countmin_build_synth"] = ss

        sec, ss, _ = timed_best2(lambda: agg.sketch(li, KllKernel(k=200, seed=3), col="l_extendedprice"))
        queries["kll_lineitem"] = sec
        samples["kll_lineitem"] = ss

        sec, ss, _ = timed_best2(lambda: agg.sketch(li, TDigestKernel(delta=200), col="l_extendedprice"))
        queries["tdigest_lineitem"] = sec
        samples["tdigest_lineitem"] = ss

        sec, ss, _ = timed_best2(
            lambda: tok_src.groupBy("source").agg(F.countDistinct("item")).collect()
        )
        queries["exact_reach_by_source"] = sec
        samples["exact_reach_by_source"] = ss

        sec, ss, _ = timed_best2(
            lambda: tok_items.groupBy("item").count().groupBy("count").count().collect()
        )
        queries["token_freq_hist"] = sec
        samples["token_freq_hist"] = ss

        def run_minhash():
            # persist=True is the production posture (sig table reused by
            # its 3-4 consumers WITHIN the run); unpersisting after the
            # count keeps the second best-of-2 rep cold instead of
            # replaying the first rep's cache via plan canonicalization
            pairs = dedup_ops.minhash_dedup_pairs(
                docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
                threshold=0.8, num_hashes=64, bands=16,
            )
            n = pairs.count()
            dedup_ops.unpersist_intermediates(pairs, blocking=True)
            return n

        sec, ss, _ = timed_best2(run_minhash)
        queries["minhash_dedup_docs"] = sec
        samples["minhash_dedup_docs"] = ss

        sec, ss, _ = timed_best2(
            lambda: dedup_ops.simhash_signatures(
                docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
            ).count()
        )
        queries["simhash_sigs_docs"] = sec
        samples["simhash_sigs_docs"] = ss

        q = [float(x) for x in emb.select("embedding").first()[0]]
        sec, ss, _ = timed_best2(lambda: sim_ops.brute_force_topk(emb, q, k=10).collect())
        queries["cosine_topk"] = sec
        samples["cosine_topk"] = ss

        sec, ss, _ = timed_best2(
            lambda: frequency_ops.heavy_hitters_exact(
                tok_items.select(F.col("item")), k=20).collect()
        )
        queries["heavy_hitters_exact"] = sec
        samples["heavy_hitters_exact"] = ss

        def run_dedup_clusters():
            # pairs -> connected components -> cluster table: the full
            # near-dup CLUSTERING pipeline (eager: the CC loop runs its
            # joins/checkpoints inside the call)
            pairs = dedup_ops.minhash_dedup_pairs(
                docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"),
                threshold=0.8, num_hashes=64, bands=16,
            )
            n = dedup_ops.connected_components(pairs).count()
            dedup_ops.unpersist_intermediates(pairs, blocking=True)
            return n

        sec, ss, _ = timed_best2(run_dedup_clusters)
        queries["dedup_clusters_docs"] = sec
        samples["dedup_clusters_docs"] = ss

        def run_emb_lsh():
            pairs = dedup_ops.embedding_near_dup_pairs_lsh(emb, threshold=0.9)
            n = pairs.count()
            dedup_ops.unpersist_intermediates(pairs, blocking=True)
            return n

        sec, ss, _ = timed_best2(run_emb_lsh)
        queries["embedding_near_dup_lsh"] = sec
        samples["embedding_near_dup_lsh"] = ss

        def run_decontam_bloom():
            # distributed bloom build over the benchmark subset + packed
            # broadcast probe of the full corpus (the scale path)
            from cardinality_estimation_evaluation_framework_spark.operators import (
                decontam,
            )

            d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
            bench_docs = d.where(F.col("doc_id").cast("long") % 97 == 0)
            kernel = decontam.bloom_kernel(m=1 << 22, k=4, seed=3)
            state = decontam.build_benchmark_bloom(bench_docs, n=5, kernel=kernel)
            out = decontam.flag_contaminated_bloom(d, state, kernel, n=5)
            # .count() is NOT a valid terminal here: the gram-less
            # join-back makes the output `doc_ids LEFT JOIN agg` with a
            # distinct right key, so Catalyst's distinct-keys propagation
            # eliminates the join — and with it the ENTIRE Bloom probe —
            # from a count-only plan (verified via optimizedPlan; the
            # r5 A/B first recorded a bogus 10x "speedup" this way).
            # Summing n_hits forces the probe pipeline.
            return out.agg(
                F.sum("n_hits"), F.sum(F.col("contaminated").cast("long"))
            ).first()

        sec, ss, _ = timed_best2(run_decontam_bloom)
        queries["decontam_bloom_docs"] = sec
        samples["decontam_bloom_docs"] = ss

        def run_dup_spans():
            # exact substring-span dedup over the full docs table; the
            # aggregate terminal sums computed columns so no stage can be
            # pruned out of a count-only plan
            return (
                dedup_ops.dup_span_stats(docs, window=6)
                .agg(F.sum("dup_tokens"), F.sum("n_dup_windows"))
                .first()
            )

        sec, ss, _ = timed_best2(run_dup_spans)
        queries["dup_span_stats_docs"] = sec
        samples["dup_span_stats_docs"] = ss

        def run_source_overlap():
            # cross-source n-gram overlap matrix; sum the computed
            # columns so neither side of the self-join can be pruned
            return (
                dedup_ops.source_overlap_matrix(docs, n=3)
                .agg(F.sum("n_common"), F.sum("jaccard"))
                .first()
            )

        sec, ss, _ = timed_best2(run_source_overlap)
        queries["source_overlap_docs"] = sec
        samples["source_overlap_docs"] = ss

        def run_unigram_drift():
            # per-source KL/TVD drift audit; sum the computed columns so
            # the vocabulary join cannot be pruned from the plan
            from cardinality_estimation_evaluation_framework_spark.operators import (
                text as text_ops,
            )

            return (
                text_ops.unigram_drift(docs)
                .agg(F.sum("kl_to_corpus"), F.sum("tvd_to_corpus"),
                     F.sum("n_distinct"))
                .first()
            )

        sec, ss, _ = timed_best2(run_unigram_drift)
        queries["unigram_drift_docs"] = sec
        samples["unigram_drift_docs"] = ss

        sec, ss, _ = timed_best2(
            lambda: tok_items.agg(F.approx_count_distinct("item", 0.01)).collect()
        )
        queries["native_approx_distinct"] = sec
        samples["native_approx_distinct"] = ss

    payload["queries"] = {k_: round(v, 3) for k_, v in queries.items()}
    payload["value"] = round(sum(queries.values()), 3)
    # Cross-round comparisons should be read from the newest interleaved
    # paired A/B record (tools/bench_ab_rounds.py), not from raw per-round
    # totals: this sandbox's throughput drifts 2-3x between minutes and
    # only base/head pairs measured in the same window cancel that.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    try:
        abs_ = sorted(
            (f for f in os.listdir(bench_dir)
             if f.startswith("ab_") and f.endswith(".json")),
            key=lambda f: os.path.getmtime(os.path.join(bench_dir, f)),
        )
        if abs_:
            payload["ab_record"] = f"BENCH/{abs_[-1]}"
    except OSError:
        pass
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
