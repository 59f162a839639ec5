"""Dump the normalised physical plan of each named builder to one file, for
the before/after plan diffs kept under plans/rNN/.

Usage: python tools/dump_plans.py OUT_DIR {before,after} SF_DIR [builder ...]

Writes OUT_DIR/{builder}_{before,after}.txt for every builder in BUILDERS
(or the ones named), over SF_DIR/documents.parquet (embeddings.parquet for
the embedding builder). The plans are those of the package in the checkout
this script sits in, so for a "before" dump run a copy of it inside a
checkout of the parent commit. Every builder is
planned in a fresh process (its own JVM), so the plan_ids of two checkouts
line up, on local[4] with AQE off (the formatted plan is then the one that
runs, not an AdaptiveSparkPlan placeholder). Expression ids and the
suffixes of lambda variables (``x_12``) are renumbered in order of first
appearance and scan paths cut to the file name, so a diff shows only what
the code changed.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cardinality_estimation_evaluation_framework_spark"
CORES = 4


def _cached(df):
    """``df`` cached over 2 x cores splits, as a benchmark input arrives:
    a small input in more splits than cores."""
    df = df.repartition(2 * CORES).persist()
    df.count()
    return df


def _sketch_partials(spark, docs, sf_dir):
    from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
    from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

    tokens = _cached(tk.tokenize_hashed(docs).select("tokens"))
    return agg.sketch_partials(tokens, HllKernel(p=12, seed=1), "tokens")


def _minhash_signatures(spark, docs, sf_dir):
    from pyspark.sql import functions as F

    from cardinality_estimation_evaluation_framework_spark.operators import dedup

    return dedup.minhash_signatures(_cached(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")))


def _minhash_dedup_pairs(spark, docs, sf_dir):
    from pyspark.sql import functions as F

    from cardinality_estimation_evaluation_framework_spark.operators import dedup

    return dedup.minhash_dedup_pairs(_cached(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")),
        persist=False)


def _decontam_docs(docs):
    """(docs, bench): string doc ids, and every 97th doc as the benchmark."""
    from pyspark.sql import functions as F

    ddocs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return ddocs, ddocs.where(F.col("doc_id").cast("long") % 97 == 0)


def _bloom_kernel():
    from cardinality_estimation_evaluation_framework_spark.operators import decontam

    return decontam.bloom_kernel(m=1 << 18, k=2, seed=1)


def _bloom_build_partials(spark, docs, sf_dir):
    """The stage-1 frame that build_benchmark_bloom hands to tree_merge."""
    from unittest import mock

    from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
    from cardinality_estimation_evaluation_framework_spark.operators import decontam

    seen = []

    def capture(partials, kernel, *args, **kwargs):
        seen.append(partials)
        return kernel.empty()

    with mock.patch.object(agg, "tree_merge", capture):
        decontam.build_benchmark_bloom(_decontam_docs(docs)[1], n=5, kernel=_bloom_kernel())
    return seen[0]


def _flag_contaminated_bloom(spark, docs, sf_dir):
    from cardinality_estimation_evaluation_framework_spark.operators import decontam

    ddocs, bench = _decontam_docs(docs)
    kernel = _bloom_kernel()
    state = decontam.build_benchmark_bloom(bench, n=5, kernel=kernel)
    return decontam.flag_contaminated_bloom(ddocs, state, kernel, n=5)


def _embedding_lsh(spark, docs, sf_dir):
    from cardinality_estimation_evaluation_framework_spark.operators import dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).limit(500)
    return dedup.embedding_near_dup_pairs_lsh(emb, threshold=0.9)


def _on_docs(module: str, name: str):
    """(header, plan function) for ``module.name(docs)`` at its defaults."""
    return f"{name}(docs)", lambda spark, docs, sf_dir: getattr(
        importlib.import_module(f"{PKG}.{module}"), name)(docs)


#: the operators that read words through the text tokenizer (text.words)
_TOKENIZER_CONSUMERS = [
    ("operators.dedup", "word_ngrams"),
    ("operators.dedup", "simhash_signatures"),
    ("operators.dedup", "dup_span_stats"),
    ("operators.dedup", "source_overlap_matrix"),
    ("operators.text", "winnow_fingerprints"),
    ("operators.text", "with_repetition_stats"),
    ("operators.text", "unigram_drift"),
    ("operators.text", "with_self_information"),
    ("operators.text", "zipf_slope_by_source"),
    ("datagen.tokens", "tokenize_vocab"),
]

#: builder -> (the call as printed in the header, plan function)
BUILDERS = {
    "sketch_partials": (
        "sketch_partials(cached(tokenize_hashed(docs).select('tokens')),"
        " HllKernel(p=12, seed=1), 'tokens')",
        _sketch_partials,
    ),
    "minhash_signatures": (
        "minhash_signatures(cached(docs.select(doc_id cast string, text)))",
        _minhash_signatures,
    ),
    "minhash_dedup_pairs": (
        "minhash_dedup_pairs(cached(docs.select(doc_id cast string, text)),"
        " persist=False)",
        _minhash_dedup_pairs,
    ),
    "bloom_build_partials": (
        "the sketch_partials frame of build_benchmark_bloom(bench, n=5,"
        " bloom_kernel(m=1 << 18, k=2, seed=1)), bench = every 97th doc",
        _bloom_build_partials,
    ),
    "flag_contaminated_bloom": (
        "flag_contaminated_bloom(docs, build_benchmark_bloom(bench, n=5, kernel),"
        " kernel, n=5), kernel = bloom_kernel(m=1 << 18, k=2, seed=1)",
        _flag_contaminated_bloom,
    ),
    "embedding_near_dup_pairs_lsh": (
        "embedding_near_dup_pairs_lsh(embeddings.limit(500), threshold=0.9)",
        _embedding_lsh,
    ),
    **{name: _on_docs(module, name) for module, name in _TOKENIZER_CONSUMERS},
}


def normalise(plan: str) -> str:
    """Renumber expression ids and lambda-variable suffixes by first
    appearance; cut scan paths to the file name."""
    ids: dict[str, str] = {}
    plan = re.sub(r"#(\d+)", lambda m: "#" + ids.setdefault(m[1], str(len(ids) + 1)), plan)
    lambdas: dict[str, str] = {}
    plan = re.sub(r"\b([xyz])_(\d+)\b",
                  lambda m: f"{m[1]}_" + lambdas.setdefault(m[2], str(len(lambdas) + 1)),
                  plan)
    return re.sub(r"file:[^\],]*/([^/\],]+)", r"file:\1", plan)


def dump_one(name: str, sf_dir: str) -> str:
    sys.path.insert(0, REPO)
    from cardinality_estimation_evaluation_framework_spark.session import get_spark

    spark = get_spark(
        f"plan-dump-{name}", cores=CORES,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    call, build = BUILDERS[name]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        build(spark, docs, sf_dir).explain("formatted")
    spark.stop()
    return (
        f"# {call} over {os.path.basename(sf_dir)} documents.parquet, "
        f"local[{CORES}], AQE off; cached(df) = df.repartition({2 * CORES})"
        ".persist(), counted;\n"
        "# expression ids renumbered in order of first appearance\n\n"
        + normalise(buf.getvalue())
    )


def main() -> int:
    if sys.argv[1:2] == ["--one"]:
        sys.stdout.write(dump_one(sys.argv[2], sys.argv[3]))
        return 0
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    out_dir, side, sf_dir = sys.argv[1:4]
    names = sys.argv[4:] or list(BUILDERS)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name, sf_dir],
            capture_output=True, text=True, check=True,
        )
        path = os.path.join(out_dir, f"{name}_{side}.txt")
        with open(path, "w") as fh:
            fh.write(res.stdout)
        print("wrote", path, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
