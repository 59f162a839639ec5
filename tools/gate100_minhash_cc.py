"""100x-decade gate for the minhash-LSH -> connected-components pipeline
(the two rows whose FULL-parameter DuckDB twins are oracle-side
infeasible at 500k docs: the fixed-param k=64 twin evaluates ~3 billion
HUGEINT splitmix64 expressions and was still running after 50 minutes).

Three measurements, all on the deterministic 100x corpus (.sfbig100,
tools/make_sfbig.py):

1. LIGHT-PARAM full-pipeline differential: the SAME Spark pipeline
   (portable minhash sigs -> banding -> cap -> candidate join -> est
   filter -> CC -> clusters) at k=16/bands=4, checked VALUE-EXACTLY
   against minhash_dedup_pairs_sql + connected_components_sql. Catches
   the regime shifts the decade run is for (LSH bucket occupancy, CC
   round count) at ~16x lower oracle cost.
2. FULL-PARAM engine run (k=64/bands=16, the gate row's config): Spark
   wall time, pair count, CC rounds, per-round (propagate, count-job)
   seconds — the convergence-check overhead measurement for SCALE.md §5.
   Sections 1 and 2 also record the shuffle bytes their Spark jobs wrote.
3. Bloom decontam superset check at 100x: flag_contaminated_bloom vs
   ngram_overlap_exact — no false negatives, FP overcount recorded.
4. (round 6) winnow_near_dup at gate params (k=3, w=4, min_shared=2)
   with max_bucket_size=200 — the 100-copy corpus multiplies every
   fingerprint bucket ~100x, so the UNCAPPED pre-agg pair stream is
   4.0e9 rows (measured; it filled the sandbox disk with shuffle
   spill). The cap is the operator's real scale defense and is applied
   identically in both engines; the check compares row count plus a
   portable md5-u64 value hash over (doc_a, doc_b, n_shared), i.e.
   value-exact without materializing tens of millions of pandas rows.
5. (round 6) zipf_slope (rank-free midrank-OLS formulation) checked
   value-exactly at 100x — the scale the old single-task vocabulary
   sort was replaced for.

Usage: python tools/gate100_minhash_cc.py [sf_dir]   (default .sfbig100)
Writes GATE100.json; exit 1 on any failure.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracles import normalize

from cardinality_estimation_evaluation_framework_spark.operators import (
    decontam as decontam_ops,
    dedup as dedup_ops,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark

LIGHT = dict(threshold=0.5, num_hashes=16, bands=4, n=3, seed=0)
FULL = dict(threshold=0.5, num_hashes=64, bands=16, n=3, seed=0)


def planted_docs(spark, sf_dir):
    # same planted-dup derivation as __spark_entry__._docs_with_planted_dups
    import __spark_entry__ as entry

    return entry._docs_with_planted_dups(spark, sf_dir)


def dump(out: dict) -> None:
    """Incremental write: a crash in a later section (e.g. a disk-full
    in a 100x join) must not discard completed sections' results."""
    with open(os.path.join(REPO, "GATE100.json"), "w") as fh:
        json.dump(out, fh, indent=1)


def shuffle_written(spark) -> int:
    """Shuffle bytes written by every task of the session so far, from the
    status store once the listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    ex = sc.statusStore().executorList(True)
    return sum(ex.apply(i).totalShuffleWrite() for i in range(ex.size()))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".sfbig100")
    spark = get_spark("gate100", cores=32)
    out: dict = {"sf_dir": sf_dir}
    failures = 0

    docs = planted_docs(spark, sf_dir)

    # ---- 1. light-param differential (pairs AND clusters) ----
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS
        SELECT * FROM read_parquet('{sf_dir}/documents.parquet')""")
    t0, w0 = time.time(), shuffle_written(spark)
    pairs = dedup_ops.minhash_dedup_pairs(docs, portable=True, **LIGHT)
    pairs_pdf = pairs.toPandas()
    out["light_pairs_spark_sec"] = round(time.time() - t0, 1)
    out["light_pairs_shuffle_bytes"] = shuffle_written(spark) - w0
    out["light_pairs_rows"] = len(pairs_pdf)
    t0 = time.time()
    sql = dedup_ops.minhash_dedup_pairs_sql(
        source_sql=entry._PLANTED_DOCS_SQL, **LIGHT)
    want = con.execute(sql).df()
    out["light_pairs_duckdb_sec"] = round(time.time() - t0, 1)
    a, b = normalize(pairs_pdf), normalize(want)
    ok = list(a.columns) == list(b.columns) and len(a) == len(b)
    if ok:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)
        except AssertionError as e:
            ok, out["light_pairs_err"] = False, str(e).splitlines()[0]
    else:
        out["light_pairs_err"] = f"rows {len(a)} vs {len(b)}"
    out["light_pairs_ok"] = ok
    failures += not ok
    print(f"light pairs: {'OK' if ok else 'MISMATCH'} rows={len(a)} "
          f"spark={out['light_pairs_spark_sec']}s "
          f"duckdb={out['light_pairs_duckdb_sec']}s", flush=True)

    t0 = time.time()
    cc = dedup_ops.connected_components(pairs)
    cc_pdf = cc.toPandas()
    out["light_cc_spark_sec"] = round(time.time() - t0, 1)
    out["light_cc_rounds"] = cc._cc_rounds
    out["light_cc_round_secs"] = [
        (round(p, 2), round(c, 2)) for p, c in cc._cc_round_secs]
    out["light_cc_rows"] = len(cc_pdf)
    dedup_ops.unpersist_intermediates(pairs)
    t0 = time.time()
    want_cc = con.execute(dedup_ops.connected_components_sql(sql)).df()
    out["light_cc_duckdb_sec"] = round(time.time() - t0, 1)
    a, b = normalize(cc_pdf), normalize(want_cc)
    ok = list(a.columns) == list(b.columns) and len(a) == len(b)
    if ok:
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9)
        except AssertionError as e:
            ok, out["light_cc_err"] = False, str(e).splitlines()[0]
    else:
        out["light_cc_err"] = f"rows {len(a)} vs {len(b)}"
    out["light_cc_ok"] = ok
    failures += not ok
    n_clusters = len(set(cc_pdf["rep"])) if len(cc_pdf) else 0
    out["light_cc_clusters"] = n_clusters
    print(f"light cc: {'OK' if ok else 'MISMATCH'} members={len(a)} "
          f"clusters={n_clusters} rounds={out['light_cc_rounds']} "
          f"spark={out['light_cc_spark_sec']}s "
          f"duckdb={out['light_cc_duckdb_sec']}s", flush=True)
    dump(out)

    # ---- 2. full-param engine run (no oracle; gate-row config) ----
    t0, w0 = time.time(), shuffle_written(spark)
    pairs_full = dedup_ops.minhash_dedup_pairs(docs, portable=True, **FULL)
    cc_full = dedup_ops.connected_components(pairs_full)
    cc_full_cnt = cc_full.count()
    out["full_spark_sec"] = round(time.time() - t0, 1)
    out["full_shuffle_bytes"] = shuffle_written(spark) - w0
    out["full_cc_members"] = cc_full_cnt
    out["full_cc_rounds"] = cc_full._cc_rounds
    out["full_cc_round_secs"] = [
        (round(p, 2), round(c, 2)) for p, c in cc_full._cc_round_secs]
    dedup_ops.unpersist_intermediates(pairs_full)
    prop = sum(p for p, _ in cc_full._cc_round_secs)
    cnt = sum(c for _, c in cc_full._cc_round_secs)
    out["full_cc_count_fraction"] = round(cnt / (prop + cnt), 3) if prop + cnt else None
    print(f"full engine: members={cc_full_cnt} rounds={out['full_cc_rounds']} "
          f"total={out['full_spark_sec']}s propagate={prop:.1f}s "
          f"count-jobs={cnt:.1f}s ({out['full_cc_count_fraction']:.0%} of CC)",
          flush=True)
    dump(out)

    # ---- 3. Bloom decontam superset at 100x ----
    ddocs = docs.select("doc_id", "text")
    # crc32, not cast-to-long: planted ids ("dup_<n>") are non-numeric and
    # an ANSI cast throws mid-stage on them.
    bench = ddocs.where(F.crc32(F.col("doc_id")) % 97 == 0)
    t0 = time.time()
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in decontam_ops.ngram_overlap_exact(ddocs, bench, n=5).collect()
    }
    out["decontam_exact_sec"] = round(time.time() - t0, 1)
    kernel = decontam_ops.bloom_kernel()
    t0 = time.time()
    state = decontam_ops.build_benchmark_bloom(bench, n=5, kernel=kernel)
    flags = {
        r["doc_id"]: r["n_hits"]
        for r in decontam_ops.flag_contaminated_bloom(
            ddocs, state, kernel, n=5).collect()
    }
    out["decontam_bloom_sec"] = round(time.time() - t0, 1)
    missing = [d for d in exact if d not in flags]
    false_neg = [d for d in exact if flags.get(d, 0) < exact[d]]
    overcount = sum(flags[d] - exact.get(d, 0) for d in flags)
    total_hits = sum(exact.values())
    ok = not missing and not false_neg
    out["decontam_superset_ok"] = ok
    out["decontam_overcount_hits"] = overcount
    out["decontam_exact_hits"] = total_hits
    failures += not ok
    print(f"decontam bloom: {'OK' if ok else 'FALSE-NEGATIVES'} "
          f"exact_hits={total_hits} bloom_overcount={overcount} "
          f"exact={out['decontam_exact_sec']}s bloom={out['decontam_bloom_sec']}s",
          flush=True)
    dump(out)

    # ---- 4. winnow_near_dup at full gate params, value-exact ----
    def cmp(name, got_pdf, want_pdf):
        a, b = normalize(got_pdf), normalize(want_pdf)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, atol=1e-9)
            except AssertionError as e:
                ok, out[f"{name}_err"] = False, str(e).splitlines()[0]
        else:
            out[f"{name}_err"] = f"rows {len(a)} vs {len(b)}"
        out[f"{name}_rows"] = len(a)
        out[f"{name}_ok"] = ok
        print(f"{name}: {'OK' if ok else 'MISMATCH'} rows={len(a)} "
              f"spark={out[f'{name}_spark_sec']}s "
              f"duckdb={out[f'{name}_duckdb_sec']}s", flush=True)
        return ok

    # The 100x corpus is built from 100 near-identical copies, so every
    # fingerprint bucket is ~100x multiplied: the UNCAPPED pre-agg pair
    # stream is 4.0e9 rows (measured) and filled the sandbox disk with
    # shuffle spill. Run with max_bucket_size=200 — the operator's real
    # scale defense, applied identically in both engines (57.7M-row
    # stream) — and compare count + a portable md5-u64 value hash
    # instead of materializing tens of millions of pair rows in pandas.
    from cardinality_estimation_evaluation_framework_spark.hashing import (
        md5_u64_duckdb,
        md5_u64_spark,
    )

    WCAP = 200
    full_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    win = dedup_ops.winnow_near_dup_pairs(
        full_docs, k=3, w=4, min_shared=2, max_bucket_size=WCAP)
    key = F.concat_ws("|", "doc_a", "doc_b", "n_shared")
    got = win.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.shiftrightunsigned(md5_u64_spark(key), 32)), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    out["winnow_near_dup_spark_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    wsql = dedup_ops.winnow_near_dup_pairs_sql(
        k=3, w=4, min_shared=2, max_bucket_size=WCAP)
    wkey = "doc_a || '|' || doc_b || '|' || CAST(n_shared AS VARCHAR)"
    want = con.execute(f"""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(coalesce(sum({md5_u64_duckdb(wkey)} >> 32), 0)
                    AS BIGINT) AS h
        FROM ({wsql})""").fetchone()
    out["winnow_near_dup_duckdb_sec"] = round(time.time() - t0, 1)
    ok = int(got["n"]) == int(want[0]) and int(got["h"]) == int(want[1])
    out["winnow_near_dup_rows"] = int(got["n"])
    out["winnow_near_dup_cap"] = WCAP
    out["winnow_near_dup_ok"] = ok
    if not ok:
        out["winnow_near_dup_err"] = (
            f"spark (n={got['n']}, h={got['h']}) vs "
            f"duckdb (n={want[0]}, h={want[1]})")
    failures += not ok
    print(f"winnow_near_dup: {'OK' if ok else 'MISMATCH'} "
          f"rows={got['n']} cap={WCAP} value_hash_match={ok} "
          f"spark={out['winnow_near_dup_spark_sec']}s "
          f"duckdb={out['winnow_near_dup_duckdb_sec']}s", flush=True)
    dump(out)

    # ---- 5. zipf_slope (rank-free) at 100x, value-exact ----
    qs, oracles = entry.queries(), entry.oracle_sql()
    t0 = time.time()
    zipf_pdf = qs["zipf_slope"](spark, sf_dir).toPandas()
    out["zipf_slope_spark_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    duck_zipf = con.execute(oracles["zipf_slope"]).df()
    out["zipf_slope_duckdb_sec"] = round(time.time() - t0, 1)
    failures += not cmp("zipf_slope", zipf_pdf, duck_zipf)

    out["failures"] = failures
    dump(out)
    print(f"GATE100: failures={failures} -> GATE100.json", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
