"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` pairs are the correctness gate: each Spark
pipeline is compared value-for-value against an independent DuckDB run at
sf=0.01. Sketch pipelines are verified through *portable-hash register
tables* (exact integer outputs reproducible in ANSI SQL), which proves the
whole mapInPandas partial + tree-merge machinery, not just the formulas.
Float estimates (HLL alpha formula etc.) are covered by pytest bounds
instead, since cross-engine float summation is not bit-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
    CountMinKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    PortableHllKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.tdigest import (
    TDigestKernel,
)
from cardinality_estimation_evaluation_framework_spark.operators import (
    decontam as decontam_ops,
    dedup as dedup_ops,
    mixing as mixing_ops,
    similarity as sim_ops,
    text as text_ops,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
)

_PORTABLE_HLL = dict(p=10, a=1103515245, b=12345)
_PORTABLE_VOC = dict(num_buckets=256, seed=99, portable=True)
_PORTABLE_CM = dict(width=512, depth=3, seed=0, portable=True)
_QUANTILE_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_reach_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token reach (ExactMultiSet analogue, ref: exact_set.py:44-58)."""
    toks = tk.tokens_exploded(_docs(spark, sf_dir))
    return toks.groupBy("source").agg(F.countDistinct("tok").alias("reach"))


def q_token_freq_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency histogram of token occurrence counts (LosslessEstimator input,
    ref: exact_set.py:69-98)."""
    toks = tk.tokens_exploded(_docs(spark, sf_dir))
    freq = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    return freq.groupBy("freq").agg(F.count("*").alias("n_toks"))


def q_kplus_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative k+ reach histogram, k=1..10 — the reference's estimator
    output format h[i] = #tokens with freq >= i+1 (ref: base.py:53-69)."""
    toks = tk.tokens_exploded(_docs(spark, sf_dir))
    freq = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    hist = freq.groupBy("freq").agg(F.count("*").alias("cnt"))
    ks = spark.range(1, 11).select(F.col("id").alias("k"))
    return (
        hist.join(ks, hist.freq >= ks.k)
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("kplus_reach"))
    )


def q_hll_register_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash HLL register table built by the DISTRIBUTED kernel
    (mapInPandas partials + tree merge), emitted as (bucket, rho) rows.

    The DuckDB oracle recomputes the registers in pure SQL, so equality here
    verifies hashing, bucketing, rho computation, partial aggregation and
    merge associativity end-to-end (ref semantics: hyper_log_log.py:157-246).
    """
    kernel = PortableHllKernel(**_PORTABLE_HLL)
    tids = tk.token_ids_exploded(_docs(spark, sf_dir)).select(
        F.col("tid").alias("item")
    )
    state = agg.sketch(tids, kernel)
    regs = state["registers"]
    rows = [
        Row(bucket=int(i), rho=int(r)) for i, r in enumerate(regs.tolist()) if r > 0
    ]
    return spark.createDataFrame(rows, schema="bucket int, rho int")


def q_hll_by_source_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source portable-HLL register tables via the GROUPED harness
    (map-side combine + per-key merge), emitted as (source, bucket, rho) —
    the DuckDB oracle recomputes per-source registers in SQL, verifying the
    grouped aggregation path value-for-value."""
    kernel = PortableHllKernel(**_PORTABLE_HLL)
    tids = tk.token_ids_exploded(_docs(spark, sf_dir)).select(
        "source", F.col("tid").alias("item")
    )
    rows_out = []
    for r in agg.grouped_sketch(tids, kernel, ["source"], "item").collect():
        regs = kernel.unpack(bytes(r["sketch"]))["registers"]
        for b, rho in enumerate(regs.tolist()):
            if rho > 0:
                rows_out.append(Row(source=r["source"], bucket=int(b), rho=int(rho)))
    return spark.createDataFrame(rows_out, schema="source string, bucket int, rho int")


def q_token_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 heavy-hitter tokens (cnt DESC, tok ASC tie-break) —
    the training-pipeline vocabulary-pruning staple
    (operators/frequency_ops.heavy_hitters_exact)."""
    from cardinality_estimation_evaluation_framework_spark.operators.frequency_ops import (
        heavy_hitters_exact,
    )

    toks = tk.tokens_exploded(_docs(spark, sf_dir)).select(
        F.col("tok").alias("item"))
    return heavy_hitters_exact(toks, k=20, col="item")


def q_doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer-style groupBy agg (ref: simulator.py:75-83 mean/std pattern)."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.avg("n_chars").alias("avg_chars"),
    )


def q_voc_register_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed VectorOfCounts build (portable hash) over distinct tokens,
    emitted as the (bucket, cnt) vector (ref: vector_of_counts.py:103-129)."""
    kernel = VocKernel(**_PORTABLE_VOC)
    tids = (
        tk.token_ids_exploded(_docs(spark, sf_dir))
        .select(F.col("tid").alias("item"))
        .distinct()
    )
    state = agg.sketch(tids, kernel)
    rows = [
        Row(bucket=int(i), cnt=int(c))
        for i, c in enumerate(state["stats"].tolist())
        if c > 0
    ]
    return spark.createDataFrame(rows, schema="bucket int, cnt int")


def q_countmin_register_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed count-min build (portable hashes) over ALL token
    occurrences (multiset), emitted as (row, bucket, cnt)."""
    kernel = CountMinKernel(**_PORTABLE_CM)
    tids = tk.token_ids_exploded(_docs(spark, sf_dir)).select(
        F.col("tid").alias("item")
    )
    state = agg.sketch(tids, kernel)
    rows = [
        Row(r=int(r), bucket=int(b), cnt=int(state["table"][r, b]))
        for r in range(kernel.depth)
        for b in range(kernel.width)
        if state["table"][r, b] > 0
    ]
    return spark.createDataFrame(rows, schema="r int, bucket int, cnt int")


def _quantile_rank_check(spark: SparkSession, sf_dir: str, kernel, eps: float) -> DataFrame:
    """Bound-checked quantile gate row: (q, n, within_eps).

    The sketch answers can't be reproduced by ANSI SQL (compaction is
    sampling-based), but the BOUND can be checked exactly: for each
    estimate v the exact rank bracket [count(x<v), count(x<=v)] / n is
    computed JVM-side in one aggregate pass, and within_eps asserts the
    published rank-error guarantee |rank(v) - q| <= eps. The DuckDB twin
    pins n (same table, really read) and the expected TRUE verdicts, so
    the gate FAILS if the sketch ever violates its bound — a real
    per-run check instead of rows-only."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    state = agg.sketch(li, kernel, col="l_extendedprice")
    vals = kernel.quantile(state, _QUANTILE_QS)
    c = F.col("l_extendedprice")
    aggs = [F.count("*").alias("n")]
    for i, v in enumerate(vals):
        aggs.append(F.sum((c < float(v)).cast("long")).alias(f"lt_{i}"))
        aggs.append(F.sum((c <= float(v)).cast("long")).alias(f"le_{i}"))
    r = li.agg(*aggs).first()
    n = int(r["n"])
    rows = []
    for i, q in enumerate(_QUANTILE_QS):
        lo, hi = r[f"lt_{i}"] / n, r[f"le_{i}"] / n
        ok = (hi >= q - eps) and (lo <= q + eps)
        rows.append(Row(q=float(q), n=n, within_eps=bool(ok)))
    return spark.createDataFrame(rows, schema="q double, n long, within_eps boolean")


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KLL sketch over lineitem.l_extendedprice, gate-checked
    against its rank-error bound eps ~ C/k (see _quantile_rank_check)."""
    k = KllKernel(k=200, seed=11)
    return _quantile_rank_check(spark, sf_dir, k, eps=k.eps())


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed t-digest over lineitem.l_extendedprice, gate-checked at
    the conservative 1% absolute rank-error bound pytest also uses."""
    return _quantile_rank_check(spark, sf_dir, TDigestKernel(delta=200), eps=0.01)


def q_kll_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED quantile sketches (one KLL per l_returnflag, built in one
    distributed job via grouped_sketch + grouped_quantiles), gate-checked
    like kll_quantiles: per (key, q) the estimate's exact rank bracket is
    computed JVM-side and within_eps pins the bound; DuckDB pins the
    per-key row counts."""
    k = KllKernel(k=200, seed=19)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = agg.grouped_sketch(li, k, ["l_returnflag"], "l_extendedprice")
    answers = agg.grouped_quantiles(sk, k, ["l_returnflag"], _QUANTILE_QS).collect()

    c = F.col("l_extendedprice")
    key = F.col("l_returnflag")
    aggs = []
    for i, r in enumerate(answers):
        sel = (key == r["l_returnflag"]).cast("long")
        aggs.append(F.sum(sel).alias(f"n_{i}"))
        aggs.append(F.sum(sel * (c < float(r["value"])).cast("long")).alias(f"lt_{i}"))
        aggs.append(F.sum(sel * (c <= float(r["value"])).cast("long")).alias(f"le_{i}"))
    row = li.agg(*aggs).first()
    eps = k.eps()
    out = []
    for i, r in enumerate(answers):
        n = int(row[f"n_{i}"])
        lo, hi = row[f"lt_{i}"] / n, row[f"le_{i}"] / n
        ok = (hi >= r["q"] - eps) and (lo <= r["q"] + eps)
        out.append(Row(l_returnflag=r["l_returnflag"], q=float(r["q"]),
                       n=n, within_eps=bool(ok)))
    return spark.createDataFrame(
        out, schema="l_returnflag string, q double, n long, within_eps boolean")


def q_text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + per-source aggregation (training-data pipeline op)."""
    docs = _docs(spark, sf_dir)
    scored = text_ops.with_quality_score(docs)
    return scored.groupBy("source").agg(
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.count("*").alias("n_docs"),
    )


def q_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language ID, counts per predicted language."""
    docs = _docs(spark, sf_dir)
    return text_ops.with_lang_id(docs).groupBy("lang_pred").agg(
        F.count("*").alias("n_docs")
    )


def q_token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting, totals per source."""
    docs = _docs(spark, sf_dir)
    counted = text_ops.with_token_counts(docs)
    return counted.groupBy("source").agg(
        F.sum("n_tok_ws").cast("long").alias("total_ws"),
        F.sum("n_tok_bpe").cast("long").alias("total_bpe"),
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups via normalized-text md5 (hash-groupBy)."""
    return dedup_ops.exact_duplicates(_docs(spark, sf_dir))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs on a deterministic doc
    subsample (the verification path; MinHash-LSH is the scale path)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 50 == 0)
    return dedup_ops.ngram_jaccard_pairs(docs, n=3, threshold=0.01)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (>= 0.99) on a deterministic
    subsample."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    return dedup_ops.embedding_near_dup_pairs(emb, threshold=0.4)


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH embedding near-dup pairs (the scale path:
    equi-join on (band, bucket) + exact cosine re-rank, hot-bucket capped).
    Precision is exact (survivors re-ranked with exact double cosine); at
    these band settings (16 bands x 3 planes, recall ~1-(1-0.63^3)^16) the
    candidate union covers every >=0.4 pair of this table, so the oracle is
    the same exact-pair SQL as embedding_near_dup — a hash-exact gate row
    for the LSH path. Production near-dup thresholds (>=0.95) use the
    deeper 8x8 banding (see dedup.embedding_near_dup_pairs_lsh defaults)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    return dedup_ops.embedding_near_dup_pairs_lsh(
        emb, threshold=0.4, bands=16, planes_per_band=3, seed=7
    )


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus with planted near-duplicates (the synthetic docs
    have no natural near-dups, so the dedup queries would be vacuous):
    every doc_id % 50 == 0 gets a copy with a one-word edit."""
    base = _docs(spark, sf_dir).where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    copies = base.select(
        F.concat(F.lit("dup_"), F.col("doc_id")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return base.union(copies)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over planted duplicates — the scale path
    run in PORTABLE hash mode (md5-u64 gram hash instead of xxhash64, same
    numpy splitmix64/min-scatter kernel), so the DuckDB twin
    (dedup.py minhash_dedup_pairs_sql) pins signatures, banding, capping
    and the agreement estimate value-exactly."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    return dedup_ops.minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=16, portable=True
    )


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (append-only corpora): the planted corpus
    is split old/new on numeric doc group % 100, signatures are built for
    the OLD half as the persisted index, and only the NEW docs run the
    gram kernel — pairs out must equal the full recompute restricted to
    pairs touching >= 1 new doc. The DuckDB twin re-derives the FULL
    pipeline and applies that restriction as a predicate, so the
    new-keyed join algebra is pinned value-exactly. Pairs within the old
    half (group % 100 != 0) must NOT appear."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    grp = F.regexp_replace("doc_id", "^dup_", "").cast("long")
    old_docs = docs.where(grp % 100 != 0)
    new_docs = docs.where(grp % 100 == 0)
    index = dedup_ops.minhash_signatures(
        old_docs, num_hashes=64, n=3, seed=0, portable=True
    )
    return dedup_ops.minhash_dedup_pairs_incremental(
        new_docs, index, threshold=0.5, num_hashes=64, bands=16,
        portable=True,
    )


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over planted duplicates, chunk-LSH bucketed —
    PORTABLE hash mode so the DuckDB twin (simhash_near_dup_pairs_sql) pins
    the bit-histogram kernel, pack, chunk LSH and hamming filter exactly."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    return dedup_ops.simhash_near_dup_pairs(docs, max_hamming=10, portable=True)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> (doc_id, rep) clusters —
    the step that turns pair lists into an actually deduplicated corpus.
    Spark: min-label propagation (dedup.connected_components); oracle:
    DuckDB recursive-CTE transitive closure over the SAME portable
    minhash pair pipeline."""
    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = dedup_ops.minhash_dedup_pairs(
        docs, threshold=0.5, num_hashes=64, bands=16, portable=True
    )
    return dedup_ops.connected_components(pairs)


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (exact path): per-doc n-gram overlap
    against a planted benchmark subset (doc_id % 97 == 0), broadcast
    join — value-exact DuckDB twin. The Bloom SCALE path is pinned
    superset-and-FP-bounded in pytest (test_decontam_exact_and_bloom)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    bench = docs.where(F.col("doc_id").cast("long") % 97 == 0)
    return decontam_ops.ngram_overlap_exact(docs, bench, n=5)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: keep each doc iff
    portable-md5-u01(seed|doc_id) < fraction(source) — reproducible under
    any partitioning; the DuckDB twin reproduces MEMBERSHIP exactly."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return mixing_ops.deterministic_sample(
        docs, _MIX_FRACTIONS, seed=5, default_fraction=0.2
    ).select("doc_id", "source")


def q_mixture_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: the 7 docs per source with the
    lowest portable-md5-u01(seed|doc_id) rank. WindowGroupLimit keeps the
    shuffle at O(partitions x k) per group; membership is value-exact vs
    the DuckDB QUALIFY twin."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return mixing_ops.deterministic_sample_k(docs, 7, seed=3)


def q_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence + total-variation distance vs the
    corpus distribution (training-mixture drift audit); absent-token TVD
    mass folded algebraically so one join pass suffices."""
    return text_ops.unigram_drift(_docs(spark, sf_dir))


def q_self_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean self-information (bits/token) under the corpus
    unigram LM — the perplexity-proxy quality signal; (doc, tok) counts
    pre-aggregated before the vocabulary join."""
    return text_ops.with_self_information(_docs(spark, sf_dir))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection: leftmost window-min over
    portable 53-bit gram hashes; one Catalyst expression chain per row,
    single distinct shuffle."""
    return text_ops.winnow_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def q_winnow_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs: docs sharing >= 2 distinct winnowing
    fingerprints, hot fingerprints capped before the self-join."""
    return dedup_ops.winnow_near_dup_pairs(
        _docs(spark, sf_dir), k=3, w=4, min_shared=2)


def q_winnow_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing near-dup (append-only corpora): the planted
    corpus is split old/new on numeric doc group % 100, the OLD half's
    distinct (doc_id, fp) table is the persisted index, and only the NEW
    docs run the fingerprint selection. Output must equal the full
    recompute restricted to pairs touching >= 1 new doc — the DuckDB
    twin re-derives the FULL pipeline and applies that restriction as a
    predicate, pinning the new-keyed join algebra value-exactly."""
    from cardinality_estimation_evaluation_framework_spark.operators import (
        text as text_ops_,
    )

    docs = _docs_with_planted_dups(spark, sf_dir)
    grp = F.regexp_replace("doc_id", "^dup_", "").cast("long")
    old_docs = docs.where(grp % 100 != 0)
    new_docs = docs.where(grp % 100 == 0)
    index = (
        text_ops_.winnow_fingerprints(old_docs, k=3, w=4)
        .select("doc_id", "fp")
        .distinct()
    )
    return dedup_ops.winnow_near_dup_pairs_incremental(
        new_docs, index, k=3, w=4, min_shared=2)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope (OLS on ln freq vs ln rank, deterministic
    ranks) — vocabulary-health audit; near -1 for natural text."""
    return text_ops.zipf_slope_by_source(_docs(spark, sf_dir))


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over docs with deterministically PLANTED pii (every
    doc_id % 31 == 0 gains an email+phone+ip suffix — the same suffix the
    twin plants): per-source redaction counts + scrubbed corpus md5."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source",
        F.when(
            F.col("doc_id") % 31 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 (555) 123-4567 at 10.0.0.1"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    scrubbed = mixing_ops.scrub_pii(docs, out_col="scrubbed")
    return scrubbed.groupBy("source").agg(
        F.sum("n_pii_email").cast("long").alias("emails"),
        F.sum("n_pii_phone").cast("long").alias("phones"),
        F.sum("n_pii_ipv4").cast("long").alias("ips"),
        F.count("*").alias("n_docs"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signals (duplicate-word fraction,
    top-bigram fraction) — quality-filter inputs, value-exact twin."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return text_ops.with_repetition_stats(docs).select(
        "doc_id", "word_rep_frac", "top_bigram_frac", "top_trigram_frac",
        "top_quadgram_frac", "dup_line_frac", "dup_para_frac"
    )


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022 suffix-window method):
    per-doc coverage by 6-word windows shared verbatim across >= 2 docs.
    Spark path fingerprints windows pre-shuffle and merges spans with a
    Catalyst fold; the DuckDB twin re-derives coverage by raw-gram
    grouping + exploded-position DISTINCT count."""
    return dedup_ops.dup_span_stats(_docs(spark, sf_dir), window=6, min_docs=2)


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix (train/eval leakage audit):
    distinct grams reduced to xxhash64 fingerprints pre-shuffle on the
    Spark side; the DuckDB twin groups raw gram text."""
    return dedup_ops.source_overlap_matrix(_docs(spark, sf_dir), n=3)


def q_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine retrieval above a threshold for a fixed query
    vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _query_vector(spark, sf_dir)
    return sim_ops.brute_force_threshold(emb, q, threshold=0.35)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (TakeOrderedAndProject plan — the round-3 fix for
    the former unpartitioned-global-window scale-killer), value-checked
    against a DuckDB row_number twin including the rank column."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _query_vector(spark, sf_dir)
    return sim_ops.brute_force_topk(emb, q, k=10)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch aggregation over the events table (the batch
    twin of the streaming path)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )


def q_lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped groupBy agg (analyzer-style mean/sum, ref:
    simulator.py:75-83 pattern); floats rounded for cross-engine equality."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregation + HAVING (analyzer-style join, ref: analyzer.py:223-238)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
        .where(F.col("n_orders") >= 10)
    )


def q_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag window: new session when gap > 30 min; count
    sessions per user (>= 5 sessions). Window + cumulative-sum pattern
    (ref window usage: analyzer.py:371-427)."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return (
        marked.groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"))
        .where(F.col("n_sessions") >= 5)
    )


def q_stratified_level_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-frequency-level reach — the leveling step of the stratified
    sketch build (ref: stratified_sketch.py:152-214) over orders-per-customer
    (a column with real frequency spread at test scale)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    freq = orders.groupBy("o_custkey").agg(F.count("*").alias("freq"))
    return (
        freq.select(
            F.when(F.col("freq") >= 8, F.lit("8+"))
            .otherwise(F.col("freq").cast("string"))
            .alias("level")
        )
        .groupBy("level")
        .agg(F.count("*").alias("n_ids"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed portable-HLL register table on sf0.001."""
    return q_hll_register_table(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "reach_by_source": q_reach_by_source,
        "token_freq_hist": q_token_freq_hist,
        "kplus_reach": q_kplus_reach,
        "hll_register_table": q_hll_register_table,
        "hll_by_source_registers": q_hll_by_source_registers,
        "token_top_k": q_token_top_k,
        "doc_stats_by_source": q_doc_stats_by_source,
        "voc_register_table": q_voc_register_table,
        "countmin_register_table": q_countmin_register_table,
        "kll_quantiles": q_kll_quantiles,
        "kll_by_returnflag": q_kll_by_returnflag,
        "tdigest_quantiles": q_tdigest_quantiles,
        "events_hourly": q_events_hourly,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "text_quality_by_source": q_text_quality_by_source,
        "lang_id_counts": q_lang_id_counts,
        "token_count_stats": q_token_count_stats,
        "exact_dup_groups": q_exact_dup_groups,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "minhash_dedup": q_minhash_dedup,
        "minhash_incremental": q_minhash_incremental,
        "simhash_near_dup": q_simhash_near_dup,
        "dedup_clusters": q_dedup_clusters,
        "decontam_overlap": q_decontam_overlap,
        "mixture_sample": q_mixture_sample,
        "mixture_sample_k": q_mixture_sample_k,
        "unigram_drift": q_unigram_drift,
        "self_information": q_self_information,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_near_dup": q_winnow_near_dup,
        "winnow_incremental": q_winnow_incremental,
        "zipf_slope": q_zipf_slope,
        "pii_scrub_stats": q_pii_scrub_stats,
        "repetition_stats": q_repetition_stats,
        "dup_span_stats": q_dup_span_stats,
        "source_overlap_matrix": q_source_overlap_matrix,
        "similarity_search": q_similarity_search,
        "cosine_topk": q_cosine_topk,
        "top_customers": q_top_customers,
        "user_session_stats": q_user_session_stats,
        "stratified_level_reach": q_stratified_level_reach,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL over the same parquet views)
# --------------------------------------------------------------------------

_MIX_FRACTIONS = {"src0": 0.5, "src1": 0.25, "src2": 0.9}

_PII_DOCS_SQL = (
    "SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,"
    " CASE WHEN doc_id % 31 = 0 THEN text || ' contact u' ||"
    " CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 123-4567"
    " at 10.0.0.1' ELSE text END AS text FROM documents"
)

_PLANTED_DOCS_SQL = (
    "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents"
    " WHERE doc_id % 50 = 0"
    " UNION ALL"
    " SELECT 'dup_' || CAST(doc_id AS VARCHAR) AS doc_id,"
    " text || ' extra' AS text FROM documents WHERE doc_id % 50 = 0"
)


def oracle_sql() -> dict[str, str]:
    toks = f"WITH {tk.TOKENS_CTE_DUCKDB}"
    vocab = f"WITH {tk.TOKENS_CTE_DUCKDB}, {tk.VOCAB_CTE_DUCKDB}"
    hll = PortableHllKernel(**_PORTABLE_HLL)
    voc = VocKernel(**_PORTABLE_VOC)
    cm = CountMinKernel(**_PORTABLE_CM)
    tc_sql = text_ops.token_counts_sql("text")
    return {
        "reach_by_source": (
            f"{toks} SELECT source, count(DISTINCT tok) AS reach "
            "FROM toks GROUP BY source"
        ),
        "token_freq_hist": (
            f"{toks} SELECT freq, count(*) AS n_toks FROM ("
            "  SELECT tok, count(*) AS freq FROM toks GROUP BY tok"
            ") GROUP BY freq"
        ),
        "kplus_reach": (
            f"{toks}, hist AS ("
            "  SELECT freq, count(*) AS cnt FROM ("
            "    SELECT tok, count(*) AS freq FROM toks GROUP BY tok"
            "  ) GROUP BY freq)"
            " SELECT gs.k, CAST(sum(hist.cnt) AS BIGINT) AS kplus_reach"
            " FROM generate_series(1, 10) gs(k) JOIN hist ON hist.freq >= gs.k"
            " GROUP BY gs.k"
        ),
        "hll_register_table": (
            f"{vocab} SELECT bucket, max(rho) AS rho FROM ("
            f"  SELECT {hll.register_sql('tid')} FROM vocab"
            ") GROUP BY bucket"
        ),
        "token_top_k": (
            f"{toks} SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS INT) AS rank "
            "FROM toks GROUP BY tok "
            "ORDER BY cnt DESC, item ASC LIMIT 20"
        ),
        "doc_stats_by_source": (
            "SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, "
            "avg(n_chars) AS avg_chars FROM documents GROUP BY source"
        ),
        "hll_by_source_registers": (
            f"{vocab}, st AS ("
            "  SELECT DISTINCT source, tid FROM toks JOIN vocab USING (tok))"
            f" SELECT source, bucket, max(rho) AS rho FROM ("
            f"   SELECT source, {hll.register_sql('tid')} FROM st"
            ") GROUP BY source, bucket"
        ),
        "voc_register_table": (
            f"{vocab} SELECT bucket, CAST(count(*) AS INT) AS cnt FROM ("
            f"  SELECT {voc.bucket_sql('tid')} AS bucket FROM vocab"
            ") GROUP BY bucket"
        ),
        "countmin_register_table": (
            f"{vocab}, occ AS ("
            "  SELECT vocab.tid FROM toks JOIN vocab USING (tok))"
            + " UNION ALL ".join(
                f" SELECT {r} AS r, bucket, CAST(count(*) AS INT) AS cnt FROM ("
                f"   SELECT {cm.row_bucket_sql('tid', r)} AS bucket FROM occ"
                f" ) GROUP BY bucket"
                for r in range(cm.depth)
            )
        ),
        # quantile sketches: the sketch VALUES are not SQL-expressible, but
        # the rank-error bound verdict is exact — Spark computes each
        # estimate's exact rank bracket and emits within_eps; DuckDB pins n
        # from the same table plus the expected all-TRUE verdicts, so a
        # bound violation is a gate FAILURE (upgraded from rows-only).
        "kll_quantiles": (
            "SELECT CAST(t.q AS DOUBLE) AS q,"
            " (SELECT count(*) FROM lineitem) AS n,"
            " TRUE AS within_eps"
            " FROM (VALUES " +
            ", ".join(f"({q})" for q in _QUANTILE_QS) +
            ") t(q)"
        ),
        "tdigest_quantiles": (
            "SELECT CAST(t.q AS DOUBLE) AS q,"
            " (SELECT count(*) FROM lineitem) AS n,"
            " TRUE AS within_eps"
            " FROM (VALUES " +
            ", ".join(f"({q})" for q in _QUANTILE_QS) +
            ") t(q)"
        ),
        "kll_by_returnflag": (
            "SELECT k.l_returnflag, CAST(t.q AS DOUBLE) AS q,"
            " k.n, TRUE AS within_eps"
            " FROM (SELECT l_returnflag, count(*) AS n FROM lineitem"
            "       GROUP BY l_returnflag) k"
            " CROSS JOIN (VALUES " +
            ", ".join(f"({q})" for q in _QUANTILE_QS) +
            ") t(q)"
        ),
        "events_hourly": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, "
            "event_type, count(*) AS n_events FROM events "
            "GROUP BY 1, 2"
        ),
        "lineitem_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 4) AS sum_qty, "
            "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "text_quality_by_source": (
            f"SELECT source, round(avg({text_ops.quality_score_sql('text')}), 6)"
            " AS avg_quality, count(*) AS n_docs FROM documents GROUP BY source"
        ),
        "lang_id_counts": (
            f"SELECT {text_ops.lang_id_sql('text')} AS lang_pred, count(*) AS n_docs"
            " FROM documents GROUP BY 1"
        ),
        "token_count_stats": (
            f"SELECT source, CAST(sum({tc_sql['n_tok_ws']}) AS BIGINT) AS total_ws,"
            f" CAST(sum({tc_sql['n_tok_bpe']}) AS BIGINT) AS total_bpe"
            " FROM documents GROUP BY source"
        ),
        "exact_dup_groups": (
            f"SELECT {text_ops.fingerprint_sql('text')} AS fingerprint,"
            " count(*) AS n_dups, min(CAST(doc_id AS VARCHAR)) AS keep_id"
            " FROM documents GROUP BY 1 HAVING count(*) > 1"
        ),
        "ngram_jaccard_pairs": dedup_ops.ngram_jaccard_pairs_sql(
            n=3, threshold=0.01,
            source_sql="SELECT * FROM documents WHERE doc_id % 50 = 0",
        ),
        # minhash/simhash: full pure-SQL re-derivations of the portable-hash
        # pipelines (md5-u64 + splitmix64 via HUGEINT wrap-64 arithmetic) —
        # value-exact twins of the numpy kernels, over the same planted-dup
        # corpus as the Spark queries (see _docs_with_planted_dups).
        "minhash_dedup": dedup_ops.minhash_dedup_pairs_sql(
            threshold=0.5, num_hashes=64, bands=16,
            source_sql=_PLANTED_DOCS_SQL,
        ),
        "minhash_incremental": dedup_ops.minhash_dedup_pairs_incremental_sql(
            new_docs_pred=(
                "CAST(regexp_replace({d}, '^dup_', '') AS BIGINT) % 100 = 0"
            ),
            threshold=0.5, num_hashes=64, bands=16,
            source_sql=_PLANTED_DOCS_SQL,
        ),
        "simhash_near_dup": dedup_ops.simhash_near_dup_pairs_sql(
            max_hamming=10, source_sql=_PLANTED_DOCS_SQL,
        ),
        "repetition_stats": text_ops.repetition_stats_sql(),
        "dup_span_stats": dedup_ops.dup_span_stats_sql(window=6, min_docs=2),
        "source_overlap_matrix": dedup_ops.source_overlap_matrix_sql(n=3),
        "pii_scrub_stats": (
            lambda ex: (
                f"SELECT source, CAST(sum({ex['n_pii_email']}) AS BIGINT) AS emails,"
                f" CAST(sum({ex['n_pii_phone']}) AS BIGINT) AS phones,"
                f" CAST(sum({ex['n_pii_ipv4']}) AS BIGINT) AS ips,"
                f" count(*) AS n_docs"
                f" FROM ({_PII_DOCS_SQL}) GROUP BY source"
            )
        )(mixing_ops.scrub_pii_sql("text")),
        "decontam_overlap": decontam_ops.ngram_overlap_exact_sql(
            n=5,
            source_sql="SELECT * FROM documents",
            bench_sql="SELECT * FROM documents WHERE CAST(doc_id AS BIGINT) % 97 = 0",
        ),
        "mixture_sample": mixing_ops.deterministic_sample_sql(
            _MIX_FRACTIONS, seed=5, default_fraction=0.2,
            source_sql="SELECT CAST(doc_id AS VARCHAR) AS doc_id, source FROM documents",
        ),
        "mixture_sample_k": (
            "SELECT doc_id, source FROM ("
            + mixing_ops.deterministic_sample_k_sql(
                7, seed=3,
                source_sql=(
                    "SELECT CAST(doc_id AS VARCHAR) AS doc_id, source"
                    " FROM documents"),
            )
            + ")"
        ),
        "unigram_drift": text_ops.unigram_drift_sql(),
        "self_information": text_ops.self_information_sql(),
        "winnow_fingerprints": text_ops.winnow_fingerprints_sql(k=3, w=4),
        "winnow_near_dup": dedup_ops.winnow_near_dup_pairs_sql(k=3, w=4, min_shared=2),
        "winnow_incremental": dedup_ops.winnow_near_dup_pairs_incremental_sql(
            new_docs_pred=(
                "CAST(regexp_replace({d}, '^dup_', '') AS BIGINT) % 100 = 0"
            ),
            k=3, w=4, min_shared=2,
            source_sql=_PLANTED_DOCS_SQL,
        ),
        "zipf_slope": text_ops.zipf_slope_sql(),
        "dedup_clusters": dedup_ops.connected_components_sql(
            dedup_ops.minhash_dedup_pairs_sql(
                threshold=0.5, num_hashes=64, bands=16,
                source_sql=_PLANTED_DOCS_SQL,
            )
        ),
        "embedding_near_dup": """
WITH ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id < 300
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dot
  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
""",
        "embedding_near_dup_lsh": """
WITH ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id < 300
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dot
  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
""",
        "similarity_search": """
WITH q AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id = 0
),
qn AS (SELECT sqrt(sum(x * x)) AS nrm FROM q),
ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
scored AS (
  SELECT ev.vec_id,
         sum(ev.x * q.x) / (sqrt(sum(ev.x * ev.x)) * (SELECT nrm FROM qn)) AS c
  FROM ev JOIN q ON ev.i = q.i
  GROUP BY ev.vec_id
)
SELECT vec_id, round(c, 6) AS cosine FROM scored WHERE round(c, 6) >= 0.35
""",
        "cosine_topk": """
WITH q AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id = 0
),
qn AS (SELECT sqrt(sum(x * x)) AS nrm FROM q),
ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
scored AS (
  SELECT ev.vec_id,
         round(sum(ev.x * q.x)
               / (sqrt(sum(ev.x * ev.x)) * (SELECT nrm FROM qn)), 6) AS cosine
  FROM ev JOIN q ON ev.i = q.i
  GROUP BY ev.vec_id
)
SELECT vec_id, cosine,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
        "top_customers": (
            "SELECT c_custkey, c_mktsegment, count(*) AS n_orders, "
            "round(sum(o_totalprice), 4) AS total_spend "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_custkey, c_mktsegment HAVING count(*) >= 10"
        ),
        "user_session_stats": """
WITH marked AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM marked GROUP BY user_id HAVING sum(new_session) >= 5
""",
        "stratified_level_reach": (
            "SELECT CASE WHEN freq >= 8 THEN '8+' ELSE CAST(freq AS VARCHAR) END AS level,"
            " count(*) AS n_ids FROM ("
            "   SELECT o_custkey, count(*) AS freq FROM orders GROUP BY o_custkey"
            ") GROUP BY 1"
        ),
    }
