"""Randomized differential gate: draw random operator configs AND random
small corpora, run the Spark operator and its DuckDB SQL twin on the
same input, and compare value-exactly.

The fixed-parameter oracle gate (tools/check_oracles.py) pins one config
per operator; the residual correctness risk is parameter-dependent edge
cases — odd rows_per_band splits, tiny register counts, n=1 grams,
empty/NULL/unicode texts, quoted group names. Every twin builder in the
package is parameterized, so this is a driver loop: each trial derives
its config and its corpus deterministically from (master_seed, trial).

Usage:
    python tools/fuzz_oracles.py [n_trials] [master_seed] [families]

Prints one line per trial (family, params digest, OK/MISMATCH) and a
summary; exit 1 on any mismatch. Writes FUZZ.json with the full record.
``families`` is a comma-separated subset of the FAMILIES names (e.g.
``connected_components,minhash_lsh,minhash_incremental``); the trials then
cycle through that subset only, and FUZZ.json is left as it is.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracles import normalize

from cardinality_estimation_evaluation_framework_spark.operators import (
    aggregate as agg,
    decontam as decontam_ops,
    dedup as dedup_ops,
    mixing as mixing_ops,
    text as text_ops,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.tdigest import (
    TDigestKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import (
    _PORTABLE_AB,
    CountMinKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.hll import (
    PortableHllKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
)

# vocabulary mixing language markers (so lang-ID is non-trivial), digits,
# and plain filler — both engines split words with text.words / words_sql
_WORDS = (
    "the and of to is der die und das el la los que le et les est "
    "alpha beta gamma delta data spark duck oracle fuzz gate word "
    "x1 y2 z3 42 7 999 corpus token"
).split()
_PUNCT = ["", "", ",", ".", "!", "?", ";", ":", "—", "…"]
_SPECIALS = [
    "",  # empty doc
    "one",  # single word (below most n-gram thresholds)
    "o'reilly café naïve 日本語 text",  # unicode + quote
    "aaa aaa aaa aaa aaa",  # maximal repetition
    "The THE the tHe",  # case folding
    "dup line\ndup line\nother\n\npara\n\npara",  # line/paragraph dups
    "  \n \n\n  ",  # whitespace-only lines
    # the two non-ASCII code points whose lowercase holds [a-z0-9]: U+0130
    # (JVM: i + U+0307) and U+212A KELVIN SIGN (k)
    "\u0130stanbul \u0130ZM\u0130R 300\u212a \u212aelvin",
]


def rand_text(rng: random.Random, max_words: int = 30) -> str | None:
    roll = rng.random()
    if roll < 0.06:
        return None
    if roll < 0.18:
        return rng.choice(_SPECIALS)
    n = rng.randint(1, max_words)
    sep = lambda: "\n" if rng.random() < 0.07 else " "  # occasional newlines
    out = ""
    for i in range(n):
        out += ("" if i == 0 else sep()) + rng.choice(_WORDS) + rng.choice(_PUNCT)
    return out


def rand_docs(rng: random.Random, spark, n_docs: int = 40,
              dup_frac: float = 0.3):
    """(spark_df, pandas_df) of a random doc corpus with planted exact and
    near duplicates (so pair-finding families produce non-empty outputs)."""
    rows = []
    for i in range(n_docs):
        rows.append((str(i), rand_text(rng), f"src{i % 3}"))
    n_dups = int(n_docs * dup_frac)
    for j in range(n_dups):
        base = rows[rng.randrange(len(rows))]
        txt = base[1]
        if txt and rng.random() < 0.5:  # near-dup: perturb one word
            words = txt.split()
            if words:
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            txt = " ".join(words)
        rows.append((str(n_docs + j), txt, f"src{j % 3}"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    sdf = spark.createDataFrame(rows, "doc_id string, text string, source string")
    return sdf, pdf


def compare(spark_df, con, sql: str) -> str | None:
    """None if value-exact, else a one-line diff description."""
    a = normalize(spark_df.toPandas())
    b = normalize(con.execute(sql).df())
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return f"cols {list(a.columns)} vs {list(b.columns)}; rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


# ---------------- families ----------------
# each: (rng, spark, con) -> (params_desc, mismatch_or_None)


def fam_hll(rng, spark, con):
    p = rng.randint(4, 14)
    a = rng.randrange(3, 2**31, 2)
    b = rng.randrange(0, 2**31)
    n = rng.choice([0, 1, 7, 200, 2000])
    vals = [rng.randrange(0, 2**31) for _ in range(n)]
    vals += vals[: n // 3]  # duplicates
    kernel = PortableHllKernel(p=p, a=a, b=b)
    items = spark.createDataFrame([(v,) for v in vals], "item long")
    state = agg.sketch(items, kernel)
    rows = [(int(i), int(r)) for i, r in enumerate(state["registers"].tolist()) if r > 0]
    sdf = spark.createDataFrame(rows, "bucket int, rho int")
    con.register("items", pd.DataFrame({"item": pd.Series(vals, dtype="int64")}))
    sql = (
        f"SELECT bucket, max(rho) AS rho FROM ("
        f"SELECT {kernel.register_sql('item')} FROM items) GROUP BY bucket"
    )
    return f"p={p} a={a} b={b} n={len(vals)}", compare(sdf, con, sql)


def fam_voc(rng, spark, con):
    m = rng.choice([1, 2, 13, 64, 257, 4096])
    seed = rng.randrange(0, 2**31)
    n = rng.choice([0, 1, 50, 1500])
    vals = sorted({rng.randrange(0, 2**31) for _ in range(n)})
    kernel = VocKernel(num_buckets=m, seed=seed, portable=True)
    items = spark.createDataFrame([(v,) for v in vals], "item long")
    state = agg.sketch(items, kernel)
    rows = [(int(i), int(c)) for i, c in enumerate(state["stats"].tolist()) if c > 0]
    sdf = spark.createDataFrame(rows, "bucket int, cnt int")
    con.register("items", pd.DataFrame({"item": pd.Series(vals, dtype="int64")}))
    sql = (
        f"SELECT bucket, CAST(count(*) AS INT) AS cnt FROM ("
        f"SELECT {kernel.bucket_sql('item')} AS bucket FROM items) GROUP BY bucket"
    )
    return f"m={m} seed={seed} n={len(vals)}", compare(sdf, con, sql)


def fam_countmin(rng, spark, con):
    width = rng.choice([2, 3, 17, 256, 1024])
    depth = rng.randint(1, len(_PORTABLE_AB))
    seed = rng.randrange(0, 2**20)
    n = rng.choice([0, 1, 300, 2500])
    vals = [rng.randrange(0, 2**31) for _ in range(n)]
    vals += vals[: n // 2]  # multiset: duplicates count
    kernel = CountMinKernel(width=width, depth=depth, seed=seed, portable=True)
    items = spark.createDataFrame([(v,) for v in vals], "item long")
    state = agg.sketch(items, kernel)
    rows = [
        (int(r), int(b), int(state["table"][r, b]))
        for r in range(depth) for b in range(width)
        if state["table"][r, b] > 0
    ]
    sdf = spark.createDataFrame(rows, "r int, bucket int, cnt int")
    con.register("items", pd.DataFrame({"item": pd.Series(vals, dtype="int64")}))
    sql = " UNION ALL ".join(
        f"SELECT {r} AS r, bucket, CAST(count(*) AS INT) AS cnt FROM ("
        f"SELECT {kernel.row_bucket_sql('item', r)} AS bucket FROM items"
        f") GROUP BY bucket"
        for r in range(depth)
    ) or "SELECT 0 AS r, 0 AS bucket, 0 AS cnt WHERE false"
    return f"w={width} d={depth} seed={seed} n={len(vals)}", compare(sdf, con, sql)


def fam_minhash(rng, spark, con):
    num_hashes = rng.randint(4, 48)
    bands = rng.randint(1, num_hashes)  # non-dividing splits on purpose
    threshold = round(rng.uniform(0.0, 0.9), 2)
    n = rng.randint(1, 4)
    seed = rng.randrange(0, 10**6)
    docs, pdf = rand_docs(rng, spark)
    got = dedup_ops.minhash_dedup_pairs(
        docs, threshold=threshold, num_hashes=num_hashes, bands=bands,
        n=n, seed=seed, persist=False, portable=True,
    )
    con.register("documents", pdf)
    sql = dedup_ops.minhash_dedup_pairs_sql(
        threshold=threshold, num_hashes=num_hashes, bands=bands, n=n, seed=seed,
    )
    desc = f"k={num_hashes} bands={bands} t={threshold} n={n} seed={seed}"
    return desc, compare(got, con, sql)


def fam_simhash(rng, spark, con):
    max_hamming = rng.randint(0, 12)
    seed = rng.randrange(0, 10**6)
    docs, pdf = rand_docs(rng, spark)
    got = dedup_ops.simhash_near_dup_pairs(
        docs, max_hamming=max_hamming, seed=seed, portable=True,
    )
    con.register("documents", pdf)
    sql = dedup_ops.simhash_near_dup_pairs_sql(max_hamming=max_hamming, seed=seed)
    return f"ham={max_hamming} seed={seed}", compare(got, con, sql)


def fam_jaccard(rng, spark, con):
    n = rng.randint(1, 4)
    threshold = round(rng.uniform(0.0, 0.8), 2)
    docs, pdf = rand_docs(rng, spark, n_docs=25)
    got = dedup_ops.ngram_jaccard_pairs(docs, n=n, threshold=threshold)
    con.register("documents", pdf)
    sql = dedup_ops.ngram_jaccard_pairs_sql(n=n, threshold=threshold)
    return f"n={n} t={threshold}", compare(got, con, sql)


def fam_decontam(rng, spark, con):
    n = rng.randint(2, 6)
    min_hits = rng.randint(1, 3)
    mod = rng.choice([3, 5, 7])
    docs, pdf = rand_docs(rng, spark)
    bench = docs.where(F.col("doc_id").cast("long") % mod == 0)
    got = decontam_ops.ngram_overlap_exact(docs, bench, n=n, min_hits=min_hits)
    con.register("documents", pdf)
    sql = decontam_ops.ngram_overlap_exact_sql(
        n=n, min_hits=min_hits,
        bench_sql=f"SELECT * FROM documents WHERE CAST(doc_id AS BIGINT) % {mod} = 0",
    )
    return f"n={n} min_hits={min_hits} mod={mod}", compare(got, con, sql)


def fam_sample(rng, spark, con):
    groups = rng.sample(
        ["src0", "src1", "src2", "o'reilly", 'qu"ote', "café", "with space"], 4
    )
    fractions = {g: round(rng.random(), 3) for g in groups}
    # ~1/3 of trials: pad past _CASE_CHAIN_MAX so the broadcast-join
    # fraction lookup is exercised against the same DuckDB CASE twin
    big = rng.random() < 0.35
    if big:
        fractions.update({
            f"pad{i}": round(rng.random(), 3) for i in range(80)
        })
    seed = rng.randrange(0, 10**6)
    default = rng.choice([0.0, 0.15, 1.0])
    docs, pdf = rand_docs(rng, spark)
    # rename a slice of sources to the exotic group names
    docs = docs.withColumn(
        "source",
        F.when(F.col("doc_id").cast("long") % 4 == 0, F.lit(groups[0]))
        .when(F.col("doc_id").cast("long") % 4 == 1, F.lit(groups[1]))
        .otherwise(F.col("source")),
    ).select("doc_id", "source")
    pdf = pdf.copy()
    ids = pdf["doc_id"].astype("int64")
    pdf["source"] = np.where(
        ids % 4 == 0, groups[0], np.where(ids % 4 == 1, groups[1], pdf["source"])
    )
    got = mixing_ops.deterministic_sample(
        docs, fractions, seed=seed, default_fraction=default)
    con.register("documents", pdf[["doc_id", "source"]])
    sql = mixing_ops.deterministic_sample_sql(
        fractions, seed=seed, default_fraction=default,
        source_sql="SELECT doc_id, source FROM documents",
    )
    return (f"groups={groups} n_frac={len(fractions)} seed={seed} "
            f"default={default}"), compare(got, con, sql)


def fam_sample_k(rng, spark, con):
    k = rng.choice([1, 2, 5, 9])
    seed = rng.randrange(0, 10**6)
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(4, 40))
    docs = docs.select("doc_id", "source")
    got = mixing_ops.deterministic_sample_k(docs, k, seed=seed)
    con.register("documents", pdf[["doc_id", "source"]])
    sql = ("SELECT doc_id, source FROM ("
           + mixing_ops.deterministic_sample_k_sql(
               k, seed=seed, source_sql="SELECT doc_id, source FROM documents")
           + ")")
    return f"k={k} seed={seed} docs={len(pdf)}", compare(got, con, sql)


def fam_unigram_drift(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(4, 40))
    got = text_ops.unigram_drift(docs)
    con.register("documents", pdf)
    return f"docs={len(pdf)}", compare(got, con, text_ops.unigram_drift_sql())


def fam_self_info(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(4, 40))
    got = text_ops.with_self_information(docs)
    con.register("documents", pdf)
    return f"docs={len(pdf)}", compare(got, con, text_ops.self_information_sql())


def fam_winnow(rng, spark, con):
    k = rng.randint(1, 4)
    w = rng.randint(1, 6)
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(4, 30))
    got = text_ops.winnow_fingerprints(docs, k=k, w=w)
    con.register("documents", pdf)
    sql = text_ops.winnow_fingerprints_sql(k=k, w=w)
    return f"k={k} w={w} docs={len(pdf)}", compare(got, con, sql)


def fam_winnow_pairs(rng, spark, con):
    k = rng.randint(1, 3)
    w = rng.randint(1, 5)
    ms = rng.randint(1, 3)
    cap = rng.choice([2, 5, 100000])
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(6, 30))
    got = dedup_ops.winnow_near_dup_pairs(
        docs, k=k, w=w, min_shared=ms, max_bucket_size=cap)
    con.register("documents", pdf)
    sql = dedup_ops.winnow_near_dup_pairs_sql(
        k=k, w=w, min_shared=ms, max_bucket_size=cap)
    return f"k={k} w={w} ms={ms} cap={cap} docs={len(pdf)}", compare(got, con, sql)


def fam_minhash_incremental(rng, spark, con):
    """Incremental minhash vs the full-pipeline twin restricted by the
    new-docs predicate. rand_docs ids are stringified ints, so the split
    is a random modulus over the numeric id — dup groups land on both
    sides of the split at random."""
    num_hashes = rng.randint(4, 32)
    bands = rng.randint(1, num_hashes)
    threshold = round(rng.uniform(0.0, 0.7), 2)
    n = rng.randint(1, 3)
    seed = rng.randrange(0, 10**6)
    mod = rng.randint(2, 4)
    docs, pdf = rand_docs(rng, spark)
    pred = f"CAST({{d}} AS BIGINT) % {mod} = 0"
    old_df = docs.where(F.col("doc_id").cast("long") % mod != 0)
    new_df = docs.where(F.col("doc_id").cast("long") % mod == 0)
    index = dedup_ops.minhash_signatures(
        old_df, num_hashes, n, seed, portable=True)
    got = dedup_ops.minhash_dedup_pairs_incremental(
        new_df, index, threshold=threshold, num_hashes=num_hashes,
        bands=bands, n=n, seed=seed, persist=False, portable=True)
    con.register("documents", pdf)
    sql = dedup_ops.minhash_dedup_pairs_incremental_sql(
        new_docs_pred=pred, threshold=threshold, num_hashes=num_hashes,
        bands=bands, n=n, seed=seed)
    desc = f"k={num_hashes} bands={bands} t={threshold} mod={mod}"
    return desc, compare(got, con, sql)


def fam_winnow_incremental(rng, spark, con):
    """Incremental winnow (MOSS) vs the full twin restricted by the
    new-docs predicate, including tight caps."""
    k = rng.randint(1, 3)
    w = rng.randint(1, 5)
    ms = rng.randint(1, 3)
    cap = rng.choice([2, 5, 100000])
    mod = rng.randint(2, 4)
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(8, 30))
    pred = f"CAST({{d}} AS BIGINT) % {mod} = 0"
    old_df = docs.where(F.col("doc_id").cast("long") % mod != 0)
    new_df = docs.where(F.col("doc_id").cast("long") % mod == 0)
    index = (text_ops.winnow_fingerprints(old_df, k=k, w=w)
             .select("doc_id", "fp").distinct())
    got = dedup_ops.winnow_near_dup_pairs_incremental(
        new_df, index, k=k, w=w, min_shared=ms, max_bucket_size=cap,
        persist=False)
    con.register("documents", pdf)
    sql = dedup_ops.winnow_near_dup_pairs_incremental_sql(
        new_docs_pred=pred, k=k, w=w, min_shared=ms, max_bucket_size=cap)
    desc = f"k={k} w={w} ms={ms} cap={cap} mod={mod}"
    return desc, compare(got, con, sql)


def fam_zipf(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(4, 40))
    got = text_ops.zipf_slope_by_source(docs)
    con.register("documents", pdf)
    return f"docs={len(pdf)}", compare(got, con, text_ops.zipf_slope_sql())


def fam_textstats(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=30)
    got = text_ops.with_token_counts(
        text_ops.with_quality_score(text_ops.with_lang_id(docs))
    ).select("doc_id", "lang_pred", "quality_score", "n_tok_ws", "n_tok_bpe")
    con.register("documents", pdf)
    tc = text_ops.token_counts_sql("text")
    sql = (
        f"SELECT doc_id, {text_ops.lang_id_sql('text')} AS lang_pred, "
        f"{text_ops.quality_score_sql('text')} AS quality_score, "
        f"coalesce({tc['n_tok_ws']}, 0) AS n_tok_ws, "
        f"coalesce({tc['n_tok_bpe']}, 0) AS n_tok_bpe "
        f"FROM documents"
    )
    # NULL text: Spark token counts are NULL too — align by coalescing both
    got = got.fillna(0, subset=["n_tok_ws", "n_tok_bpe"])
    return "corpus-only", compare(got, con, sql)


def fam_fingerprint(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=30)
    got = text_ops.with_fingerprint(docs).select("doc_id", "fingerprint")
    con.register("documents", pdf)
    sql = (
        f"SELECT doc_id, {text_ops.fingerprint_sql('text')} AS fingerprint "
        f"FROM documents"
    )
    return "corpus-only", compare(got, con, sql)


def fam_repetition(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=30)
    got = text_ops.with_repetition_stats(docs).select(
        "doc_id", "word_rep_frac", *text_ops.TOP_NGRAM_COLS.values(),
        "dup_line_frac", "dup_para_frac")
    con.register("documents", pdf)
    sql = text_ops.repetition_stats_sql()
    return "corpus-only", compare(got, con, sql)


def fam_source_overlap(rng, spark, con):
    n = rng.randint(1, 4)
    docs, pdf = rand_docs(rng, spark, n_docs=rng.randint(5, 35))
    got = dedup_ops.source_overlap_matrix(docs, n=n)
    con.register("documents", pdf)
    sql = dedup_ops.source_overlap_matrix_sql(n=n)
    return f"n={n} docs={len(pdf)}", compare(got, con, sql)


def fam_quantile_bound(rng, spark, con):
    """Distributed KLL / t-digest build on an adversarial value column;
    the rank-error-bound verdict per quantile is computed on Spark from
    exact lt/le counts and independently re-derived by DuckDB from the
    same registered values — value-exact verdict tables or bust."""
    import math

    kind = rng.choice(["kll", "kll", "tdigest"])
    if kind == "kll":
        k = rng.randint(50, 400)
        kernel = KllKernel(k=k, seed=rng.randrange(1 << 20))
        eps = kernel.eps()
        desc_k = f"kll k={k}"
    else:
        delta = rng.randint(200, 500)
        kernel = TDigestKernel(delta=delta)
        eps = 0.01
        desc_k = f"tdigest d={delta}"
    n = rng.choice([1, 3, rng.randint(5, 4000)])
    shape = rng.choice(["uniform", "lognormal", "fewdistinct", "constant",
                        "negative"])
    vals: list[float | None] = []
    for _ in range(n):
        if rng.random() < 0.05:
            vals.append(None)
            continue
        if shape == "uniform":
            v = rng.uniform(-1000, 1000)
        elif shape == "lognormal":
            v = math.exp(rng.gauss(0, 3))
        elif shape == "fewdistinct":
            v = float(rng.randint(0, 5))
        elif shape == "constant":
            v = 42.0
        else:
            v = -abs(rng.gauss(0, 100))
        vals.append(v)
    if all(x is None for x in vals):
        vals[0] = 1.0
    qs = sorted({round(rng.random(), 3) for _ in range(rng.randint(1, 6))}
                | {0.5})
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    state = agg.sketch(sdf, kernel, col="x")
    est = [float(v) for v in kernel.quantile(state, np.array(qs))]

    c = F.col("x")
    aggs = [F.count("x").alias("n")]
    for i, v in enumerate(est):
        aggs.append(F.sum((c < v).cast("long")).alias(f"lt_{i}"))
        aggs.append(F.sum((c <= v).cast("long")).alias(f"le_{i}"))
    r = sdf.agg(*aggs).first()
    nn = int(r["n"])
    rows = []
    for i, q in enumerate(qs):
        lo, hi = r[f"lt_{i}"] / nn, r[f"le_{i}"] / nn
        ok = (hi >= q - eps) and (lo <= q + eps)
        rows.append((float(q), nn, bool(ok)))
    got = spark.createDataFrame(rows, "q double, n long, within_eps boolean")

    # pyarrow keeps None as true NULL (a pandas float column would turn
    # it into NaN, which DuckDB counts as non-null)
    import pyarrow as pa

    con.register("vals", pa.table({"x": pa.array(vals, type=pa.float64())}))
    parts = []
    # every literal goes through VARCHAR -> DOUBLE: DuckDB parses a bare
    # numeric literal as DECIMAL, and DECIMAL -> DOUBLE conversion can
    # land one ULP off Python's correctly-rounded float repr round-trip
    # (seen: -945.9111319389093 via DECIMAL(16,13) compares strictly
    # greater than the identical double, flipping x < v at the minimum);
    # the string cast uses strtod and matches Python bit-for-bit
    for q, v in zip(qs, est):
        dq, dv, de = (f"CAST('{q!r}' AS DOUBLE)", f"CAST('{v!r}' AS DOUBLE)",
                      f"CAST('{eps!r}' AS DOUBLE)")
        nn_sql = "CAST((SELECT count(x) FROM vals) AS DOUBLE)"
        parts.append(
            f"SELECT {dq} AS q,"
            f" (SELECT count(x) FROM vals) AS n,"
            f" (CAST((SELECT count(*) FROM vals WHERE x <= {dv}) AS DOUBLE)"
            f"   / {nn_sql} >= {dq} - {de})"
            f" AND (CAST((SELECT count(*) FROM vals WHERE x < {dv}) AS DOUBLE)"
            f"   / {nn_sql} <= {dq} + {de})"
            f" AS within_eps"
        )
    sql = " UNION ALL ".join(parts)
    return f"{desc_k} n={n} shape={shape} qs={len(qs)}", compare(got, con, sql)


def fam_dup_span(rng, spark, con):
    window = rng.randint(1, 7)
    min_docs = rng.choice([1, 2, 2, 3])
    docs, pdf = rand_docs(rng, spark, n_docs=30, dup_frac=0.4)
    got = dedup_ops.dup_span_stats(docs, window=window, min_docs=min_docs)
    con.register("documents", pdf)
    sql = dedup_ops.dup_span_stats_sql(window=window, min_docs=min_docs)
    return f"w={window} min_docs={min_docs}", compare(got, con, sql)


def fam_pii(rng, spark, con):
    docs, pdf = rand_docs(rng, spark, n_docs=25)
    # plant PII on a third of docs (same plant both sides via the corpus)
    plant = " reach me: u%s@example.org or +44 20 7946 0958 at 192.168.1.%d"
    rows = [
        (r.doc_id, (r.text or "") + (plant % (r.doc_id, int(r.doc_id) % 250))
         if int(r.doc_id) % 3 == 0 else r.text)
        for r in pdf.itertuples(index=False)
    ]
    pdf2 = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs2 = spark.createDataFrame(rows, "doc_id string, text string")
    got = mixing_ops.scrub_pii(docs2, out_col="scrubbed").select(
        "doc_id", "scrubbed", "n_pii_email", "n_pii_phone", "n_pii_ipv4")
    con.register("documents", pdf2)
    ex = mixing_ops.scrub_pii_sql("text")
    sql = (
        f"SELECT doc_id, {ex['scrubbed']} AS scrubbed, "
        f"{ex['n_pii_email']} AS n_pii_email, {ex['n_pii_phone']} AS n_pii_phone, "
        f"{ex['n_pii_ipv4']} AS n_pii_ipv4 FROM documents"
    )
    return "planted-pii", compare(got, con, sql)


def _rand_edges(rng, n_nodes: int):
    """Random undirected edge list with planted worst-case shapes: a chain
    (pointer-jump stressor), a star (skew hub), a self-loop, and random
    extra edges — ids deliberately mix zero-padded and bare-numeric strings
    so lexicographic min-label order is exercised on both engines."""
    ids = [f"n{i:02d}" if i % 3 else str(i) for i in range(n_nodes)]
    edges = []
    chain_len = rng.randint(0, min(8, n_nodes))
    for i in range(chain_len - 1):
        edges.append((ids[i], ids[i + 1]))
    if n_nodes > chain_len + 3 and rng.random() < 0.8:  # star
        hub = ids[chain_len]
        for leaf in ids[chain_len + 1: chain_len + 1 + rng.randint(1, 6)]:
            edges.append((hub, leaf))
    if n_nodes and rng.random() < 0.4:  # self-loop
        edges.append((ids[rng.randrange(n_nodes)],) * 2)
    for _ in range(rng.randint(0, 2 * n_nodes)):
        a, b = rng.choice(ids), rng.choice(ids)
        edges.append((a, b))
    return edges


def fam_cc(rng, spark, con):
    n_nodes = rng.choice([0, 2, 5, 20, 60])
    edges = _rand_edges(rng, n_nodes)
    pdf = pd.DataFrame(edges, columns=["doc_a", "doc_b"])
    sdf = spark.createDataFrame(
        edges or [], "doc_a string, doc_b string")
    got = dedup_ops.connected_components(sdf)
    # NOT "pairs": the twin's own WITH RECURSIVE defines a CTE named pairs
    con.register("edge_input", pdf)
    sql = dedup_ops.connected_components_sql(
        "SELECT doc_a, doc_b FROM edge_input")
    return f"nodes={n_nodes} edges={len(edges)}", compare(got, con, sql)


def fam_keep_best(rng, spark, con):
    """dedup_keep_best semantics under NULL scores, ties, and all-NULL
    clusters — clusters come from Spark CC and are registered verbatim on
    the DuckDB side, so this family isolates the keep-best logic."""
    n_nodes = rng.choice([5, 20, 50])
    edges = _rand_edges(rng, n_nodes)
    ids = sorted({x for e in edges for x in e} | {f"solo{i}" for i in range(3)})
    score = lambda: (None if rng.random() < 0.3
                     else rng.choice([0.1, 0.5, 0.5, 0.9, round(rng.random(), 3)]))
    doc_rows = [(i, score()) for i in ids]
    docs = spark.createDataFrame(doc_rows, "doc_id string, score double")
    pairs = spark.createDataFrame(edges or [], "doc_a string, doc_b string")
    clusters = dedup_ops.connected_components(pairs)
    cl_pdf = clusters.toPandas()
    got = dedup_ops.dedup_keep_best(docs, clusters, "score").select("doc_id")
    con.register("docs", pd.DataFrame(doc_rows, columns=["doc_id", "score"]))
    con.register("clusters", cl_pdf)
    sql = """
WITH m AS (
  SELECT c.rep, c.doc_id, coalesce(d.score, -1e308) AS s
  FROM clusters c JOIN docs d ON d.doc_id = c.doc_id
),
best AS (
  SELECT m.rep, min(m.doc_id) AS keep_id
  FROM m JOIN (SELECT rep, max(s) AS ms FROM m GROUP BY rep) w
    ON w.rep = m.rep AND m.s = w.ms
  GROUP BY m.rep
)
SELECT d.doc_id FROM docs d
WHERE d.doc_id NOT IN (
  SELECT m.doc_id FROM m JOIN best ON best.rep = m.rep
  WHERE m.doc_id <> best.keep_id
)
"""
    return f"nodes={n_nodes} edges={len(edges)} docs={len(ids)}", \
        compare(got, con, sql)


def fam_frequency(rng, spark, con):
    """heavy_hitters_exact top-k (random k incl. k > vocab) and the k+
    reach histogram (random k range) on a random corpus."""
    from cardinality_estimation_evaluation_framework_spark.datagen import (
        tokens as tk,
    )
    from cardinality_estimation_evaluation_framework_spark.operators.frequency_ops import (
        heavy_hitters_exact,
    )

    k = rng.choice([1, 3, 17, 500])
    kmax = rng.randint(1, 12)
    docs, pdf = rand_docs(rng, spark, n_docs=30)
    toks = tk.tokens_exploded(docs)
    con.register("documents", pdf)
    got = heavy_hitters_exact(toks.select(F.col("tok").alias("item")), k=k)
    sql = (
        f"WITH {tk.TOKENS_CTE_DUCKDB} SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt, "
        f"CAST(row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS INT) AS rank "
        f"FROM toks GROUP BY tok ORDER BY cnt DESC, item ASC LIMIT {k}"
    )
    mism = compare(got, con, sql)
    if mism is not None:
        return f"topk k={k}", mism
    freq = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    hist = freq.groupBy("freq").agg(F.count("*").alias("cnt"))
    ks = spark.range(1, kmax + 1).select(F.col("id").alias("k"))
    got2 = (
        hist.join(ks, hist.freq >= ks.k)
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("kplus_reach"))
    )
    sql2 = (
        f"WITH {tk.TOKENS_CTE_DUCKDB}, hist AS (SELECT freq, count(*) AS cnt FROM ("
        f"SELECT tok, count(*) AS freq FROM toks GROUP BY tok) GROUP BY freq) "
        f"SELECT gs.k, CAST(sum(hist.cnt) AS BIGINT) AS kplus_reach "
        f"FROM generate_series(1, {kmax}) gs(k) JOIN hist ON hist.freq >= gs.k "
        f"GROUP BY gs.k"
    )
    return f"topk k={k} kplus kmax={kmax}", compare(got2, con, sql2)


def fam_embedding(rng, spark, con):
    """Exact cosine pairs on random float32 vectors (value-exact vs DuckDB)
    plus an LSH precision check: every LSH pair must appear in the exact
    pair set with the identical rounded cosine (recall is banding-dependent
    by design, so containment — not equality — is the invariant)."""
    dim = rng.randint(2, 12)
    n = rng.randint(8, 40)
    threshold = round(rng.uniform(-0.5, 0.9), 2)
    vecs = []
    for i in range(n):
        v = np.round(np.array(
            [rng.uniform(-1, 1) for _ in range(dim)], dtype=np.float32), 3)
        if not v.any():
            v[0] = np.float32(0.5)
        vecs.append(v)
    for j in range(n // 4):  # planted near-dups
        base = vecs[rng.randrange(n)].copy()
        base[rng.randrange(dim)] += np.float32(0.01)
        vecs.append(np.round(base, 3))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con.register("embeddings", pd.DataFrame(
        {"vec_id": [r[0] for r in rows],
         "embedding": [np.asarray(v, dtype=np.float32) for _, v in rows]}))
    got = dedup_ops.embedding_near_dup_pairs(sdf, threshold=threshold)
    sql = f"""
WITH ev AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ev GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dot
  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= {threshold}
"""
    desc = f"dim={dim} n={len(rows)} t={threshold}"
    mism = compare(got, con, sql)
    if mism is not None:
        return desc, mism
    bands = rng.randint(1, 8)
    planes = rng.randint(1, 6)
    lsh = dedup_ops.embedding_near_dup_pairs_lsh(
        sdf, threshold=threshold, bands=bands, planes_per_band=planes,
        seed=rng.randrange(10**6), persist=False,
    ).toPandas()
    exact = got.toPandas()
    merged = lsh.merge(exact, on=["vec_a", "vec_b"], suffixes=("_l", "_e"),
                       how="left")
    bad = merged[merged["cosine_e"].isna()
                 | (merged["cosine_l"] != merged["cosine_e"])]
    if len(bad):
        return f"{desc} bands={bands} planes={planes}", (
            f"LSH produced {len(bad)} pairs absent/mismatched vs exact")
    return f"{desc} bands={bands} planes={planes} lsh={len(lsh)}", None


FAMILIES = [
    ("hll_portable", fam_hll),
    ("voc_portable", fam_voc),
    ("countmin_portable", fam_countmin),
    ("minhash_lsh", fam_minhash),
    ("simhash", fam_simhash),
    ("ngram_jaccard", fam_jaccard),
    ("decontam_exact", fam_decontam),
    ("deterministic_sample", fam_sample),
    ("sample_k", fam_sample_k),
    ("text_stats", fam_textstats),
    ("unigram_drift", fam_unigram_drift),
    ("self_information", fam_self_info),
    ("winnow", fam_winnow),
    ("winnow_pairs", fam_winnow_pairs),
    ("minhash_incremental", fam_minhash_incremental),
    ("winnow_incremental", fam_winnow_incremental),
    ("zipf_slope", fam_zipf),
    ("fingerprint", fam_fingerprint),
    ("repetition_stats", fam_repetition),
    ("dup_span", fam_dup_span),
    ("quantile_bound", fam_quantile_bound),
    ("source_overlap", fam_source_overlap),
    ("pii_scrub", fam_pii),
    ("connected_components", fam_cc),
    ("dedup_keep_best", fam_keep_best),
    ("frequency_topk_kplus", fam_frequency),
    ("embedding_cosine", fam_embedding),
]


def run(n_trials: int, master_seed: int, spark=None,
        families: list[str] | None = None) -> dict:
    unknown = set(families or ()) - {name for name, _ in FAMILIES}
    if unknown:
        raise ValueError(f"unknown fuzz families: {sorted(unknown)}")
    fams = [f for f in FAMILIES if families is None or f[0] in families]
    spark = spark or get_spark("fuzz-oracles", cores=8)
    results = []
    failures = 0
    t_start = time.time()
    for trial in range(n_trials):
        fam_name, fam = fams[trial % len(fams)]
        rng = random.Random(f"{master_seed}|{trial}")
        con = duckdb.connect()
        t0 = time.time()
        try:
            desc, mismatch = fam(rng, spark, con)
        except Exception as e:  # a crash on either engine is a failure too
            desc, mismatch = "<crashed>", f"{type(e).__name__}: {e}"
        finally:
            con.close()
        ok = mismatch is None
        failures += 0 if ok else 1
        results.append({
            "trial": trial, "family": fam_name, "params": desc,
            "ok": ok, "err": mismatch, "sec": round(time.time() - t0, 2),
        })
        print(f"  [{trial:3d}] {fam_name:20s} {desc:55s} "
              f"{'OK' if ok else 'MISMATCH: ' + str(mismatch)[:120]}")
    summary = {
        "n_trials": n_trials, "master_seed": master_seed,
        "failures": failures, "total_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    return summary


def main() -> int:
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    master_seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260817
    families = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    summary = run(n_trials, master_seed, families=families)
    if families is None:
        with open(Path(__file__).resolve().parent.parent / "FUZZ.json", "w") as fh:
            json.dump(summary, fh, indent=1)
    print(f"FUZZ: {summary['n_trials']} trials, {summary['failures']} failures, "
          f"{summary['total_sec']}s" + ("" if families else " -> FUZZ.json"))
    return 1 if summary["failures"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
