"""Adversarial-skew gate (round-5 verdict ask #2): run the heaviest
pipeline operators against the deliberately hostile corpus from
tools/make_skew_corpus.py (~10x sf0.1: 51,001 docs / 3.88M tokens, 61%
of tokens in one source, a 1M-token doc, a 10-word boilerplate sentence
in 90% of docs, 2,500 byte-identical docs, planted near-dup copies) and
require every row to stay VALUE-EXACT against its DuckDB twin while the
_cap_hot_buckets paths take real pressure.

Two measurement groups:
1. UNCAPPED analytics (dup_span_stats, source_overlap_matrix,
   unigram_drift, self_information, zipf_slope, repetition_stats,
   winnow_fingerprints): the exact __spark_entry__ gate rows re-run on
   the hostile corpus — wall times + value-exact compare.
2. CAPPED LSH family (minhash pairs + CC clusters, simhash, winnowing
   near-dup) at max_bucket_size=200, which the 2,500-identical-doc
   bucket and the near-universal boilerplate fingerprints MUST trip:
   cap-hit counts (buckets over cap, rows dropped) are measured with
   the package's own banding helpers and recorded; the DuckDB twins
   carry the same cap so exactness must survive the drops.

Usage: python tools/gate_skew.py [sf_dir]   (default .sfskew)
Writes SKEW.json; exit 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracles import normalize

import __spark_entry__ as entry
from cardinality_estimation_evaluation_framework_spark.operators import (
    dedup as dedup_ops,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark

CAP = 200
LSH = dict(threshold=0.5, num_hashes=16, bands=4, n=3, seed=0)

# group 1: the entry gate rows that need no cap override
ENTRY_ROWS = [
    "dup_span_stats", "source_overlap_matrix", "unigram_drift",
    "self_information", "zipf_slope", "repetition_stats",
    "winnow_fingerprints",
]


def compare(name, spark_pdf, duck_pdf, out, failures):
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    ok = list(a.columns) == list(b.columns) and len(a) == len(b)
    if ok:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)
        except AssertionError as e:
            ok = False
            out[f"{name}_err"] = str(e).splitlines()[0]
    else:
        out[f"{name}_err"] = (
            f"cols {list(a.columns)} vs {list(b.columns)}; "
            f"rows {len(a)} vs {len(b)}")
    out[f"{name}_rows"] = len(a)
    out[f"{name}_ok"] = ok
    status = "OK" if ok else "MISMATCH"
    print(f"  {name}: {status} rows={len(a)} "
          f"spark={out[f'{name}_spark_sec']}s "
          f"duckdb={out[f'{name}_duckdb_sec']}s "
          + out.get(f"{name}_cap", ""), flush=True)
    return failures + (not ok)


def cap_stats(banded, keys):
    """(buckets over cap, member rows inside them) for a bucket table."""
    over = (
        banded.groupBy(*keys).agg(F.count("*").alias("n"))
        .where(F.col("n") > CAP)
        .agg(F.count("*").alias("buckets"),
             F.coalesce(F.sum("n"), F.lit(0)).alias("rows"))
        .collect()[0]
    )
    return int(over["buckets"]), int(over["rows"])


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".sfskew")
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        # the corpus is a pure function of a fixed seed — regenerate instead
        # of keeping a 7 MB binary in git (ADVICE r6)
        subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "make_skew_corpus.py"),
             sf_dir],
            check=True,
        )
    spark = get_spark("gateskew", cores=32)
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS
        SELECT * FROM read_parquet('{sf_dir}/documents.parquet')""")
    out: dict = {"sf_dir": sf_dir, "cap": CAP}
    failures = 0
    qs, oracles = entry.queries(), entry.oracle_sql()

    # ---- group 1: entry rows on the hostile corpus ----
    for name in ENTRY_ROWS:
        t0 = time.time()
        spark_pdf = qs[name](spark, sf_dir).toPandas()
        out[f"{name}_spark_sec"] = round(time.time() - t0, 1)
        t0 = time.time()
        duck_pdf = con.execute(oracles[name]).df()
        out[f"{name}_duckdb_sec"] = round(time.time() - t0, 1)
        failures = compare(name, spark_pdf, duck_pdf, out, failures)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # ---- group 2: capped LSH family ----
    # cap-hit stats measured with the package's own bucket constructions
    sigs = dedup_ops.minhash_signatures(docs, 16, 3, 0, portable=True)
    banded = dedup_ops._band_signatures(sigs, 4, 4, portable=True)
    out["minhash_cap_buckets"], out["minhash_cap_rows"] = cap_stats(
        banded, ["band", "bucket"])
    out["minhash_pairs_cap"] = (
        f"cap_hits={out['minhash_cap_buckets']}b/"
        f"{out['minhash_cap_rows']}r")

    t0 = time.time()
    pairs = dedup_ops.minhash_dedup_pairs(
        docs, portable=True, max_bucket_size=CAP, **LSH)
    pairs_pdf = pairs.toPandas()
    out["minhash_pairs_spark_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    pairs_sql = dedup_ops.minhash_dedup_pairs_sql(
        max_bucket_size=CAP, **LSH)
    duck_pairs = con.execute(pairs_sql).df()
    out["minhash_pairs_duckdb_sec"] = round(time.time() - t0, 1)
    failures = compare("minhash_pairs", pairs_pdf, duck_pairs, out, failures)

    t0 = time.time()
    cc = dedup_ops.connected_components(pairs)
    cc_pdf = cc.toPandas()
    out["dedup_clusters_spark_sec"] = round(time.time() - t0, 1)
    out["dedup_clusters_cc_rounds"] = cc._cc_rounds
    dedup_ops.unpersist_intermediates(pairs)
    t0 = time.time()
    duck_cc = con.execute(
        dedup_ops.connected_components_sql(pairs_sql)).df()
    out["dedup_clusters_duckdb_sec"] = round(time.time() - t0, 1)
    failures = compare("dedup_clusters", cc_pdf, duck_cc, out, failures)

    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), c * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("val"),
        ) for c in range(4)
    ]
    chunks = (
        dedup_ops.simhash_signatures(docs, portable=True)
        .select("doc_id", F.explode(F.array(*chunk_cols)).alias("cv"))
        .select("doc_id", "cv.chunk", "cv.val")
    )
    out["simhash_cap_buckets"], out["simhash_cap_rows"] = cap_stats(
        chunks, ["chunk", "val"])
    out["simhash_pairs_cap"] = (
        f"cap_hits={out['simhash_cap_buckets']}b/"
        f"{out['simhash_cap_rows']}r")
    t0 = time.time()
    sim_pdf = dedup_ops.simhash_near_dup_pairs(
        docs, max_hamming=10, portable=True, max_bucket_size=CAP).toPandas()
    out["simhash_pairs_spark_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    duck_sim = con.execute(dedup_ops.simhash_near_dup_pairs_sql(
        max_hamming=10, max_bucket_size=CAP)).df()
    out["simhash_pairs_duckdb_sec"] = round(time.time() - t0, 1)
    failures = compare("simhash_pairs", sim_pdf, duck_sim, out, failures)

    from cardinality_estimation_evaluation_framework_spark.operators.text import (
        winnow_fingerprints,
    )
    fps = winnow_fingerprints(docs, k=3, w=4).select("doc_id", "fp").distinct()
    out["winnow_cap_buckets"], out["winnow_cap_rows"] = cap_stats(fps, ["fp"])
    out["winnow_pairs_cap"] = (
        f"cap_hits={out['winnow_cap_buckets']}b/"
        f"{out['winnow_cap_rows']}r")
    t0 = time.time()
    win_pdf = dedup_ops.winnow_near_dup_pairs(
        docs, k=3, w=4, min_shared=2, max_bucket_size=CAP).toPandas()
    out["winnow_pairs_spark_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    duck_win = con.execute(dedup_ops.winnow_near_dup_pairs_sql(
        k=3, w=4, min_shared=2, max_bucket_size=CAP)).df()
    out["winnow_pairs_duckdb_sec"] = round(time.time() - t0, 1)
    failures = compare("winnow_pairs", win_pdf, duck_win, out, failures)

    out["failures"] = failures
    with open(os.path.join(REPO, "SKEW.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"SKEW gate: failures={failures} -> SKEW.json", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
