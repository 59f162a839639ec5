"""Physical-plan audit: print formatted plans for the key pipelines and
grep them for the properties that matter at 100 TB:

- parquet scans carry PushedFilters / narrow ReadSchema (pushdown + pruning)
- hot paths sit inside WholeStageCodegen spans
- small dimension joins broadcast (BroadcastHashJoin)
- sketch builds contain NO Exchange before the partial stage (zero raw-row
  shuffle) beyond the explicit layout repartition

Writes PLANS.md. Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
from cardinality_estimation_evaluation_framework_spark.operators import (
    aggregate as agg,
    dedup as dedup_ops,
    text as text_ops,
)
from cardinality_estimation_evaluation_framework_spark.session import get_spark
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def tree_of(plan: str) -> str:
    """The operator-tree part of a formatted plan (before the per-node
    detail blocks, which repeat every node name)."""
    return plan.split("\n\n(")[0]


def generate_required_cols(plan: str) -> list[str]:
    """requiredChildOutput attribute lists of every Generate node in a
    formatted plan. A Generate detail block prints
    ``Arguments: explode(<expr>), [attrs], false, [out]`` (the [attrs]
    list is omitted when empty); the generator <expr> itself contains
    brackets, so parse from the RIGHT: strip the trailing output list
    and the false/outer flags, then take the bracketed list if the
    remainder ends with one."""
    out: list[str] = []
    for block in plan.split("\n\n("):
        if not block.split("\n", 1)[0].endswith("Generate"):
            continue
        for line in block.splitlines():
            if not line.startswith("Arguments: "):
                continue
            body = line[len("Arguments: "):].rstrip()
            # drop ", [output]" then trailing ", false"/", true" flags
            body = body[: body.rfind(", [")]
            while body.endswith(", false") or body.endswith(", true"):
                body = body[: body.rfind(", ")]
            if body.endswith("]"):
                depth, i = 0, len(body) - 1
                while i >= 0:
                    if body[i] == "]":
                        depth += 1
                    elif body[i] == "[":
                        depth -= 1
                        if depth == 0:
                            break
                    i -= 1
                out.append(body[i + 1:-1])
            else:
                out.append("")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE off for the audit: pre-execution formatted plans then show the
    # codegen spans (AQE wraps everything in AdaptiveSparkPlan otherwise)
    spark = get_spark(
        "plan-audit", cores=8, extra_conf={"spark.sql.adaptive.enabled": "false"}
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sections: list[tuple[str, str, list[str]]] = []

    # 1. sketch partials: scan → project/explode → ArrowEval; no shuffle
    items = agg.explode_tokens(tk.tokenize_hashed(docs))
    partials = agg.sketch_partials(items, HllKernel(p=12, seed=1))
    # codegen spans appear as "* " node prefixes in formatted explain
    sections.append((
        "sketch partial stage (scan → tokenize → explode → mapInArrow)",
        plan_of(partials),
        ["* Generate", "MapInArrow"],
    ))
    # a small token-array input cached in more splits than cores is merged
    # to one task per core by a narrow Coalesce: still no Exchange between
    # the cached scan and the partial stage
    cores = spark.sparkContext.defaultParallelism
    cached = tk.tokenize_hashed(docs).select("tokens").repartition(2 * cores).persist()
    cached.count()
    arr_plan = plan_of(agg.sketch_partials(cached, HllKernel(p=12, seed=1), "tokens"))
    sections.append((
        "sketch partial stage over cached token arrays in 2 x cores splits",
        arr_plan,
        ["Coalesce", "MapInArrow"],
    ))
    above_scan = tree_of(arr_plan).split("InMemoryRelation")[0]
    assert "Coalesce" in above_scan, "small input not merged to one task per core!"
    assert "Exchange" not in above_scan, "raw rows are shuffled before the partials!"
    cached.unpersist()
    # a nullable array<bigint> crosses Arrow as it is: its NULL elements
    # are validity bits read in Python, not a JVM-side filter lambda
    ids = spark.range(1000).select(
        F.array(F.col("id"), F.lit(None).cast("long")).alias("ids"))
    assert ids.schema["ids"].dataType.containsNull
    ids_plan = plan_of(agg.sketch_partials(ids, HllKernel(p=12, seed=1), "ids"))
    assert "filter(" not in ids_plan, "nullable bigint arrays are filtered in the JVM!"

    # 2. column pruning: tokenizer must read only (doc_id, text, source)
    narrow = tk.tokenize_hashed(docs).select("n_tok")
    sections.append((
        "column pruning (n_tok projection)",
        plan_of(narrow),
        ["ReadSchema"],
    ))

    # 3. filter pushdown to parquet
    filtered = docs.where(F.col("source") == "web").select("doc_id")
    sections.append((
        "predicate pushdown (source filter)",
        plan_of(filtered),
        ["PushedFilters"],
    ))

    # 4. vocab join broadcasts
    tids = tk.token_ids_exploded(docs)
    sections.append((
        "vocab join (must broadcast the small side)",
        plan_of(tids),
        ["BroadcastHashJoin"],
    ))

    # 5. minhash LSH candidates: one hash exchange on (band, bucket), then
    # each partition pairs its buckets in a mapInArrow; no cartesian
    sigs = dedup_ops.minhash_signatures(docs.limit(100).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"))
    cands = dedup_ops.minhash_lsh_candidates(sigs)
    lsh_plan = plan_of(cands)
    sections.append((
        "minhash LSH candidates (one (band, bucket) exchange, bucket-local pairs)",
        lsh_plan,
        ["hashpartitioning(band", "MapInArrow"],
    ))
    assert "CartesianProduct" not in lsh_plan, "LSH join degenerated to cartesian!"
    # hot-bucket cap must be counted in the bucket stage, not a sorted window
    assert "Window" not in tree_of(lsh_plan), (
        "hot-bucket cap regressed to a window over the banded rows!")

    # 6. minhash signature build: NO raw-gram shuffle — the only Exchange
    # below the final sig merge moves (doc_id, sig) partials
    sig_plan = plan_of(dedup_ops.minhash_signatures(docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")))
    sections.append((
        "minhash signatures (partials -> min-merge; grams never shuffle)",
        sig_plan,
        ["MapInArrow"],
    ))
    # every Exchange must sit ABOVE the MapInArrow (partials), never below
    map_pos = sig_plan.index("MapInArrow")
    gram_side = sig_plan[map_pos:]
    assert "Exchange hashpartitioning(doc_id" not in gram_side.replace(
        "Exchange RoundRobinPartitioning", ""), "raw grams are being shuffled!"

    # 7. embedding near-dup LSH: equi-join on (band, bucket), no cartesian
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    emb_plan = plan_of(dedup_ops.embedding_near_dup_pairs_lsh(emb, threshold=0.9))
    sections.append((
        "embedding near-dup LSH pairs (banded equi-join + exact re-rank)",
        emb_plan,
        ["Join"],
    ))
    assert "CartesianProduct" not in emb_plan, "embedding LSH join is cartesian!"
    assert "Window" not in tree_of(emb_plan), (
        "embedding LSH hot-bucket cap regressed to a window!")
    # the band-candidate shuffle must be SLIM: any Exchange partitioned on
    # (band, bucket) that carries the vector column would move dim doubles
    # x bands per vector on both join sides (regression: pre-round-6 shape
    # exploded v/nrm into every band row)
    for block in emb_plan.split("\n\n("):
        head = block.split("\n", 1)[0]
        if head.endswith("Exchange") and "hashpartitioning(band" in block:
            assert " v#" not in block and ", v#" not in block, (
                "embedding LSH band shuffle carries the vector column — "
                "dim x bands doubles per vector on both join sides!")

    # 8. pure-Catalyst HLL build: whole-stage codegen aggregation, ZERO
    # Python operators anywhere in the plan
    from cardinality_estimation_evaluation_framework_spark.operators import (
        sql_sketch,
    )

    items8 = agg.explode_tokens(tk.tokenize_hashed(docs))
    sql_plan = plan_of(sql_sketch.hll_registers_sql(items8, p=12, seed=7))
    sections.append((
        "pure-Catalyst HLL register build (codegen agg, zero Python)",
        sql_plan,
        ["HashAggregate"],
    ))
    assert not re.search("MapIn(Pandas|Arrow)|ArrowEval", sql_plan), (
        "Python operator leaked into the SQL sketch plan!")

    # 9. exact heavy hitters: TakeOrdered, never a single-partition window
    from cardinality_estimation_evaluation_framework_spark.operators import (
        frequency_ops,
    )

    hh_plan = plan_of(frequency_ops.heavy_hitters_exact(
        items8.select(F.col("item")), k=20))
    sections.append((
        "exact heavy hitters (TakeOrdered top-k, no global window below the limit)",
        hh_plan,
        ["TakeOrderedAndProject"],
    ))

    # 10. cosine top-k: TakeOrdered (per-partition top-k + driver merge) —
    # never an unpartitioned global window over the scored table
    from cardinality_estimation_evaluation_framework_spark.operators import (
        similarity,
    )

    emb_full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb_full.select("embedding").first()[0]
    topk_plan = plan_of(similarity.brute_force_topk(emb_full, list(qrow), k=10))
    sections.append((
        "cosine top-k (TakeOrdered over scored rows; window only over the k survivors)",
        topk_plan,
        ["TakeOrderedAndProject"],
    ))
    # the only Window allowed is the rank attach AFTER the limit: in the
    # operator tree it must print ABOVE (execute after) TakeOrderedAndProject
    topk_tree = tree_of(topk_plan)
    take_pos = topk_tree.index("TakeOrderedAndProject")
    assert "Window" not in topk_tree[take_pos:], (
        "cosine top-k window runs over the full scored table again!")

    # 11. language ID: each per-language regex appears ONCE in the plan.
    # The old chained-CASE argmax nested every earlier score inside each
    # later branch (~2^k expression copies, ~30 extra regex passes per row,
    # measured 21x slower at the 10x corpus); the array_position form keeps
    # exactly one regexp_count per language.
    from cardinality_estimation_evaluation_framework_spark.operators import (
        text as text_ops,
    )

    lang_df = text_ops.with_lang_id(docs)
    lang_plan = plan_of(lang_df)
    sections.append((
        "language ID (one regexp_count per language; no expression blowup)",
        lang_plan,
        ["Project"],
    ))
    # formatted explain elides expression trees — count regex nodes in the
    # OPTIMIZED LOGICAL plan string instead (full expressions printed).
    # Catalyst rewrites regexp_count -> size(regexp_extract_all(..)), and
    # the score array legitimately appears twice (array_position arg +
    # array_max arg; identical subtrees, deduplicated at runtime by
    # whole-stage-codegen subexpression elimination) -> cap at 2 per
    # language. The broken chained-CASE form held ~2^k copies (30+).
    opt = lang_df._jdf.queryExecution().optimizedPlan().toString()
    n_regex = opt.count("regexp_extract_all") + opt.count("regexp_count")
    n_langs = len(text_ops.LANG_MARKERS)
    assert 0 < n_regex <= 2 * n_langs, (
        f"lang_id optimized plan holds {n_regex} regex nodes for "
        f"{n_langs} languages — expression duplication is back!")

    # 12. decontamination: the exact path must BROADCAST the benchmark
    # gram set (never shuffle the corpus-side grams for the join), and the
    # Bloom scale path must contain NO join at all — the probe rides the
    # scan as a mapInArrow over a broadcast bitset.
    from cardinality_estimation_evaluation_framework_spark.operators import (
        decontam as decontam_ops,
    )

    ddocs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    dbench = ddocs.where(F.col("doc_id").cast("long") % 97 == 0)
    dec_plan = plan_of(decontam_ops.ngram_overlap_exact(ddocs, dbench, n=5))
    sections.append((
        "decontamination exact (benchmark grams broadcast, corpus never shuffled for the join)",
        dec_plan,
        ["BroadcastHashJoin"],
    ))
    assert "SortMergeJoin" not in dec_plan, (
        "decontam exact join fell back to a corpus-side shuffle!")
    kb = decontam_ops.bloom_kernel(m=1 << 18, k=2, seed=1)
    bstate = decontam_ops.build_benchmark_bloom(dbench, n=5, kernel=kb)
    bloom_plan = plan_of(
        decontam_ops.flag_contaminated_bloom(
            ddocs, bstate, kb, n=5, include_gramless=False))
    sections.append((
        "decontamination Bloom probe (no join — broadcast bitset probed in-batch)",
        bloom_plan,
        ["MapInArrow"],
    ))
    assert "Join" not in tree_of(bloom_plan), (
        "Bloom decontam probe plan contains a join!")
    # default (gram-less-inclusive) mode: gram hashes arrive as one
    # array<long> row per doc, so EVERY doc emits a probe row and the
    # former doc_id join-back is gone — the full-output plan must be as
    # join-free as the r3 mode (r7 optimization: the per-doc distinct is
    # row-local in the Arrow batch, no gram distinct Exchange either).
    bloom_full_plan = plan_of(
        decontam_ops.flag_contaminated_bloom(ddocs, bstate, kb, n=5))
    sections.append((
        "decontamination Bloom probe, gram-less-inclusive (join-free, no gram distinct)",
        bloom_full_plan,
        ["MapInArrow"],
    ))
    n_joins = tree_of(bloom_full_plan).count("Join")
    assert n_joins == 0, (
        f"Bloom decontam full-output probe should be join-free "
        f"(array-per-doc form), found {n_joins} joins")

    # 13. exact substring-span dedup: windows fingerprinted BEFORE any
    # shuffle (no gram-string column survives into an Exchange), dup
    # detection via two-level HashAggregate (map-side combine), span
    # merge a pure-Catalyst fold — no window function, no cartesian.
    span_plan = plan_of(dedup_ops.dup_span_stats(ddocs, window=6))
    sections.append((
        "substring-span dedup (fp-keyed shuffles only; fold-merged spans, no window)",
        span_plan,
        ["HashAggregate", "Join"],
    ))
    assert "CartesianProduct" not in span_plan, "dup-span join is cartesian!"
    assert "Window" not in tree_of(span_plan), (
        "dup-span span merge regressed from a fold to a window!")
    assert "hashpartitioning(gram" not in span_plan, (
        "dup-span shuffles raw gram strings instead of fingerprints!")
    # two O(doc^2) regressions pinned (each made a 400k-token doc take
    # minutes): (a) the word ARRAY must never ride a Generate's
    # requiredChildOutput — that copies the whole array into every
    # generated row (n_tok must be computed BELOW the generate);
    # (b) window grams must be built from O(1) element_at lookups, not
    # interpreted slice() (O(len) per window inside a transform lambda).
    for req in generate_required_cols(span_plan):
        assert " w#" not in f" {req}", (
            f"dup-span Generate carries the word array per output row "
            f"(requiredChildOutput=[{req}]) — O(doc^2) bytes!")
    assert "slice(" not in span_plan, (
        "dup-span windows regressed from element_at to interpreted slice!")

    # 14. cross-source overlap matrix: distinct (source, gram) reduced to
    # 8-byte xxhash64 fingerprints BEFORE the distinct shuffle and the
    # self-join; no raw gram string in any Exchange, no cartesian.
    so_plan = plan_of(dedup_ops.source_overlap_matrix(
        docs.select("doc_id", "text", "source"), n=3))
    sections.append((
        "source overlap matrix (fp-keyed distinct + self-join, no gram shuffle)",
        so_plan,
        ["HashAggregate", "Join"],
    ))
    assert "CartesianProduct" not in so_plan, "source-overlap join is cartesian!"
    assert "hashpartitioning(gram" not in so_plan, (
        "source-overlap shuffles raw gram strings instead of fingerprints!")
    assert "xxhash64" in so_plan, (
        "source-overlap fingerprinting disappeared from the plan!")
    assert "slice(" not in so_plan, (
        "source-overlap grams regressed from element_at to interpreted "
        "slice (O(doc^2))!")

    # 15. deterministic k-per-group sample: the rank filter must be
    # rewritten to WindowGroupLimit (partial per-partition top-k BEFORE
    # the shuffle) — without it a hot group pays a full reducer-side
    # sort of O(|group|) rows instead of O(partitions x k).
    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing as mixing_ops,
    )
    sk_plan = plan_of(mixing_ops.deterministic_sample_k(
        docs.select("doc_id", "source"), 7, seed=3))
    sections.append((
        "deterministic k-per-group sample (WindowGroupLimit partial top-k)",
        sk_plan,
        ["WindowGroupLimit", "Window"],
    ))

    # 17. winnowing fingerprints: the whole selection is a per-row
    # Catalyst expression chain — no join, no window function; the ONLY
    # shuffle is the final distinct.
    wn_plan = plan_of(text_ops.winnow_fingerprints(ddocs, k=3, w=4))
    sections.append((
        "winnowing fingerprints (per-row expression chain; single distinct shuffle)",
        wn_plan,
        ["HashAggregate", "Generate"],
    ))
    wn_tree = tree_of(wn_plan)
    assert "Join" not in wn_tree, "winnowing grew a join!"
    assert "Window" not in wn_tree, "winnowing grew a window function!"
    n_ex = wn_tree.count("Exchange")
    assert n_ex == 1, f"winnowing should shuffle once (distinct), found {n_ex}"
    assert "slice(" not in wn_plan, (
        "winnowing k-grams regressed from element_at to interpreted "
        "slice (O(doc^2))!")
    # the CollapseProject O(k*n^2) hazard, pinned two ways: (a) no Filter
    # predicate may contain a transform( — the old size(hs)>0 filter got
    # the whole gram chain inlined into the predicate; (b) the word split
    # must appear a BOUNDED number of times (the lambda-bound form shows
    # it twice: once in the linear where-predicate, once in the array()
    # binding) — the stacked-select form inlined it at k+2 sites INSIDE
    # the per-element gram lambda (a full regex split per gram element;
    # 40+ CPU-minutes on one 1M-token doc).
    for block in wn_plan.split("\n\n("):
        if block.split("\n", 1)[0].endswith("Filter"):
            assert "transform(" not in block, (
                "winnowing filter predicate inlines the gram transform "
                "chain — O(k*n^2) per doc!")
    n_split = wn_plan.count("split(lower(")
    assert n_split <= 2, (
        f"winnowing plan evaluates the word split {n_split} times — the "
        f"tokenize expression is being inlined per gram element again!")

    # 18. incremental winnowing: only new fingerprints probe old ∪ new, and
    # each pair with a new side comes out once per shared fingerprint, so
    # the per-pair count needs no (doc_a, doc_b, fp) distinct and its
    # shuffle; no cartesian either.
    odd = F.col("doc_id").cast("long") % 2 == 1
    wi_index = text_ops.winnow_fingerprints(ddocs.where(~odd)).select(
        "doc_id", "fp").distinct()
    wi_plan = plan_of(dedup_ops.winnow_near_dup_pairs_incremental(
        ddocs.where(odd), wi_index, persist=False))
    sections.append((
        "incremental winnowing pairs (new-keyed probe; no (doc_a, doc_b, fp) distinct)",
        wi_plan,
        ["HashAggregate", "Join"],
    ))
    assert "CartesianProduct" not in wi_plan, "incremental winnow join is cartesian!"
    assert not re.search(r"hashpartitioning\(doc_a#\d+, doc_b#\d+, fp#", wi_plan), (
        "incremental winnow shuffles a (doc_a, doc_b, fp) distinct again!")

    out = ["# Physical-plan audit (generated by tools/explain_audit.py)\n"]
    ok_all = True
    for title, plan, expects in sections:
        checks = []
        for marker in expects:
            present = marker in plan
            ok_all &= present
            checks.append(f"{'OK' if present else 'MISSING'}: {marker}")
        out.append(f"\n## {title}\n\n" + "\n".join(f"- {c}" for c in checks))
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
        print(title, "->", "; ".join(checks))
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written;", "ALL OK" if ok_all else "SOME MARKERS MISSING")


if __name__ == "__main__":
    main()
