"""Benchmark decontamination: flag training documents whose word n-grams
overlap a held-out evaluation/benchmark set (the GPT-3 / Pile style
n-gram collision check).

Two paths, same output schema (doc_id, n_grams, n_hits, contaminated):

- ``ngram_overlap_exact``: distinct doc grams LEFT-JOIN the (broadcast)
  benchmark gram set. Exact; the verification/oracle path with a DuckDB
  twin (``ngram_overlap_exact_sql``). Fine whenever the benchmark set is
  broadcastable — which it is by definition (eval sets are tiny next to
  a 100 TB training corpus).
- ``flag_contaminated_bloom``: the SCALE path. A Bloom filter of the
  benchmark gram HASHES is built DISTRIBUTED (the engine's own
  BloomKernel through the partial+tree-merge harness), packed to m/8
  bytes, and broadcast; gram hashes reach the probe as one array<long>
  row per doc (xxhash64 straight over the n word columns — no gram
  string is ever concatenated), the per-doc distinct happens row-locally
  in the Arrow batch, and numpy bit ops probe the bitset — zero joins,
  zero gram shuffles, one (doc_id, counts) shuffle. Guarantees: NO false
  negatives (build and probe share the exact hash→index definition), and
  overcount bounded by the classic FP rate (1 - e^{-kn/m})^k — pinned in
  tests. Counts are over distinct gram hashes, identical to distinct
  grams absent intra-doc xxhash64 collisions (~n²/2^64 per doc).

Why not always exact: at 100 TB the corpus side has ~10^12 grams; the
broadcast join stays fine, but probing a 4 MB bitset in-batch avoids
materializing and shuffling per-gram join rows entirely — the whole
check rides the scan.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from cardinality_estimation_evaluation_framework_spark.hashing import hash64
from cardinality_estimation_evaluation_framework_spark.operators import (
    aggregate as agg,
)
from cardinality_estimation_evaluation_framework_spark.operators.aggregate import flat
from cardinality_estimation_evaluation_framework_spark.operators.dedup import (
    word_ngrams,
)
from cardinality_estimation_evaluation_framework_spark.operators.text import (
    duckdb_gram_cte,
    duckdb_tok_ctes,
    gram_hash_arrays,
)
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
)

OUT_SCHEMA = "doc_id string, n_grams long, n_hits long, contaminated boolean"


def bloom_kernel(m: int = 1 << 22, k: int = 4, seed: int = 0) -> BloomKernel:
    """The classic k-hash uniform Bloom filter as a BloomKernel — build
    AND probe must use this same kernel so indexes match bit-for-bit."""
    return BloomKernel(dist_kind="uniform", m=m, num_hashes=k, seed=seed)


def _gram_hash_arrays(docs: DataFrame, n: int, text_col: str,
                      id_col: str) -> DataFrame:
    """(doc_id, ghs array<long>): one row per document carrying the
    xxhash64 of every word n-gram, hashed straight over the n word columns
    of each window — no gram STRING is ever concatenated (xxhash64 chains
    its inputs seed-wise, so word boundaries stay significant), and no
    per-gram rows exist before the Python boundary (guide §2.3/§4: shuffle
    and transfer 8-byte keys, not text). Build and probe both read this
    definition, so Bloom membership of a shared gram is exact by
    construction (no false negatives). NOTE: this definition changed in r7
    (was xxhash64 of the concatenated gram string) — Bloom states packed
    by earlier versions must be rebuilt before probing with this one."""
    return gram_hash_arrays(
        docs, n,
        lambda wd, i: F.xxhash64(
            *[F.element_at(wd, i + (j + 1)) for j in range(n)]
        ),
        text_col, id_col,
    )


def build_benchmark_bloom(bench_docs: DataFrame, n: int = 8,
                          kernel: BloomKernel | None = None,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          input_partitions: int | None = None) -> dict:
    """Distributed Bloom build over the benchmark's gram hashes
    (mapInArrow partials + tree merge — the engine's standard harness).
    Returns the merged kernel state.

    No distinct runs first: a Bloom insert is idempotent, so repeated
    grams set the same bits, and the registers equal those of a build over
    the distinct hashes (a counting kernel's registers would count
    repeats, but the probe reads only ``registers > 0``). Partitioning note (measured): each partial carries
    the FULL m-register state (32 MB of float64 on the driver at m = 4M),
    so unlike the id-sketch builds this one must NOT spread a small input
    to every core. Default: ONE stage-1 partial, with no probe of the
    input's partition count; pass ``input_partitions`` for a genuinely huge
    benchmark set."""
    kernel = kernel or bloom_kernel()
    ghs = _gram_hash_arrays(bench_docs, n, text_col, id_col)
    return agg.sketch(ghs, kernel, col="ghs", input_partitions=input_partitions or 1)


def _pack_bits(state: dict, kernel: BloomKernel) -> np.ndarray:
    regs = state["registers"]
    return np.packbits(regs > 0, bitorder="little")


def flag_contaminated_bloom(docs: DataFrame, bloom_state: dict,
                            kernel: BloomKernel, n: int = 8,
                            min_hits: int = 1,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            include_gramless: bool = True) -> DataFrame:
    """(doc_id, n_grams, n_hits, contaminated) — n_hits counts the doc's
    DISTINCT grams whose k Bloom probes all hit; superset of the exact
    overlap (no false negatives), overcount bounded by the FP rate.

    ``include_gramless=True`` (default) keeps a row for docs with < n words
    (n_grams=0, contaminated=false); False drops them (the r3 behavior).

    Plan shape (guide §2.3/§2.4): gram hashes reach the probe as one
    ``array<long>`` row per document, the per-doc DISTINCT collapses to a
    row-local dedup inside the Arrow batch (the old shape shuffled every
    (doc_id, gram STRING) row through a global distinct first), and since
    every input doc emits exactly one probe row, no join-back is needed —
    the whole check rides the scan with a single (doc_id, counts) shuffle.
    Assumes doc_id uniquely identifies an input row (duplicate ids would
    sum their per-row counts instead of deduplicating grams across rows).
    """
    packed = _pack_bits(bloom_state, kernel)
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(packed)
    num_hashes, seed = kernel.num_hashes, kernel.seed
    dist = kernel.dist

    gh_docs = _gram_hash_arrays(docs, n, text_col, id_col)

    def probe(batches):
        bits = bc.value
        for batch in batches:
            gh, codes = flat(batch, "ghs")
            # row-local distinct (doc, gram-hash): sort, keep firsts
            order = np.lexsort((gh, codes))
            sc, sg = codes[order], gh[order]
            first = np.ones(len(sc), dtype=bool)
            first[1:] = (sc[1:] != sc[:-1]) | (sg[1:] != sg[:-1])
            codes_u, gh_u = sc[first], sg[first].view(np.uint64)
            member = np.ones(len(gh_u), dtype=bool)
            for i in range(num_hashes):
                idx = dist.indexes(
                    hash64(gh_u, seed=seed * 1_000_003 + i)
                ).astype(np.int64)
                hit = (bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
                member &= hit.astype(bool)
            ndocs = batch.num_rows
            n_grams = np.bincount(codes_u, minlength=ndocs)
            n_hits = np.bincount(codes_u, weights=member, minlength=ndocs)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(n_grams), pa.array(n_hits.astype(np.int64))],
                names=["doc_id", "n_grams", "n_hits"],
            )

    partial = gh_docs.mapInArrow(
        probe, schema="doc_id string, n_grams long, n_hits long"
    )
    agg_df = partial.groupBy("doc_id").agg(
        F.sum("n_grams").alias("n_grams"), F.sum("n_hits").alias("n_hits")
    )
    if not include_gramless:
        agg_df = agg_df.where(F.col("n_grams") > 0)
    return agg_df.withColumn("contaminated", F.col("n_hits") >= min_hits)


def _with_gramless_docs(docs: DataFrame, agg_df: DataFrame, min_hits: int,
                        id_col: str) -> DataFrame:
    """Docs with fewer than n words produce zero grams and would vanish
    from the per-gram aggregates (ADVICE r4); left-join the aggregates
    back onto the full doc-id set so every input doc gets a row
    (n_grams=0, n_hits=0, contaminated=false)."""
    ids = docs.select(F.col(id_col).cast("string").alias("doc_id")).distinct()
    return (
        ids.join(agg_df, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def ngram_overlap_exact(docs: DataFrame, bench_docs: DataFrame, n: int = 8,
                        min_hits: int = 1, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact variant: distinct doc grams left-joined against the
    BROADCAST benchmark gram set — the oracle/verification path.
    Every input doc appears in the output; gram-less (short) docs get
    n_grams=0, contaminated=false."""
    doc_grams = word_ngrams(docs, n, text_col, id_col, distinct=True)
    bench_grams = (
        word_ngrams(bench_docs, n, text_col, id_col, distinct=True)
        .select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    agg_df = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
    )
    return _with_gramless_docs(docs, agg_df, min_hits, id_col)


def ngram_overlap_exact_sql(n: int = 8, min_hits: int = 1,
                            source_sql: str = "SELECT * FROM documents",
                            bench_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB twin of :func:`ngram_overlap_exact`. Grams come from the
    shared linear token/gram CTEs, whose window runs per document row."""
    return f"""
WITH {duckdb_tok_ctes("d_", source_sql=source_sql)},
{duckdb_gram_cte(n, cte_name="d_grams", tok_cte="d_tok")},
{duckdb_tok_ctes("b_", source_sql=bench_sql)},
{duckdb_gram_cte(n, cte_name="b_grams", tok_cte="b_tok")},
doc_grams AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM d_grams),
bench_grams AS MATERIALIZED (SELECT DISTINCT gram FROM b_grams),
doc_ids AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id FROM ({source_sql})),
agg AS (
  SELECT d.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM doc_grams d LEFT JOIN bench_grams b ON d.gram = b.gram
  GROUP BY d.doc_id
)
SELECT i.doc_id,
       coalesce(a.n_grams, 0) AS n_grams,
       coalesce(a.n_hits, 0) AS n_hits,
       coalesce(a.n_hits, 0) >= {min_hits} AS contaminated
FROM doc_ids i LEFT JOIN agg a ON i.doc_id = a.doc_id
"""
