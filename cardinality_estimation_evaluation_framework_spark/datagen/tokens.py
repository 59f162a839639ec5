"""documents(text) → pre-tokenized sequence table (doc_id, tokens, n_tok, source).

The engine's canonical input (BASELINE.json input_hint) is an Iceberg-shaped
table ``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``.
The sandbox test corpus ships raw text, so this module derives that table
deterministically, entirely in Catalyst (regexp split + transform — no
Python), with two token-id schemes:

- ``tokenize_hashed``: token id = xxhash64(token) mod 2^31 — O(1), fully
  distributed, the 100 TB production path (a fixed hash vocabulary).
- ``tokenize_vocab``: token id = dense rank of the token string over the
  corpus vocabulary. This needs a global sort of the *vocabulary* (small:
  |V| << corpus) and exists so results are reproducible in a pure-SQL
  oracle (DuckDB uses the identical dense_rank definition). Used by the
  correctness gate, not the throughput path.

The tokenizer itself (lowercase, split on non-alphanumeric, drop empties)
is the one every text operator uses: ``operators.text.words`` in Spark and
``operators.text.words_sql`` in DuckDB, which tokenize identically.
``TOKENS_CTE_DUCKDB`` is the DuckDB twin of :func:`tokens_exploded`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cardinality_estimation_evaluation_framework_spark.operators.text import (
    explode_words,
    words,
    words_sql,
)

# DuckDB CTE producing (doc_id, source, tok) — one row per token occurrence.
TOKENS_CTE_DUCKDB = f"""
toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         unnest({words_sql('text')}) AS tok
  FROM documents
)
"""

# DuckDB CTE producing (tok, tid) — 0-based dense vocabulary ids.
VOCAB_CTE_DUCKDB = """
vocab AS (
  SELECT tok, CAST(dense_rank() OVER (ORDER BY tok) - 1 AS BIGINT) AS tid
  FROM (SELECT DISTINCT tok FROM toks)
)
"""


def tokens_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id string, source, tok string) — one row per token occurrence."""
    return explode_words(
        docs, F.col("doc_id").cast("string").alias("doc_id"), "source")


def vocab(docs: DataFrame) -> DataFrame:
    """(tok string, tid long) — dense 0-based ids in sorted-token order
    (identical mapping to ``dense_rank() OVER (ORDER BY tok) - 1`` on the
    distinct vocabulary — the DuckDB oracle's VOCAB_CTE).

    Distributed global indexing WITHOUT the single-partition window: range-
    partition the distinct vocabulary by token, row_number within each
    partition (partition-local window), then add the per-partition start
    offsets (one tiny groupBy-count collected to the driver). Scales to any
    vocabulary size; no stage sees more than one partition's tokens."""
    spark = docs.sparkSession
    distinct = tokens_exploded(docs).select("tok").distinct()
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    # persist BEFORE the two consuming jobs: repartitionByRange bounds come
    # from sampling and are NOT stable across recomputations — without the
    # cache, the offsets job and the final job could see different partition
    # boundaries (wrong/dropped tids). The cached vocab is small by contract.
    ranged = distinct.repartitionByRange(nparts, "tok").withColumn(
        "_pid", F.spark_partition_id()
    ).persist()
    sizes = {r["_pid"]: r["cnt"] for r in
             ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy("tok")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("tid", (F.row_number().over(w) - 1 + F.col("_off")).cast("long"))
        .select("tok", "tid")
    )


def tokenize_hashed(docs: DataFrame) -> DataFrame:
    """Production tokens table: ids from xxhash64 — no vocab, no shuffle."""
    tokens = F.transform(words("text"), lambda t: F.pmod(F.xxhash64(t), F.lit(2**31 - 1)).cast("int"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        "source",
    )


def tokenize_vocab(docs: DataFrame) -> DataFrame:
    """Oracle-parity tokens table: ids from the dense vocabulary.

    The vocab join broadcasts (|V| small); token order within a doc is
    preserved via positions + array re-assembly.
    """
    v = vocab(docs)
    exploded = explode_words(
        docs, F.col("doc_id").cast("string").alias("doc_id"), "source",
        pos=True)
    joined = exploded.join(F.broadcast(v), "tok")
    return (
        joined.groupBy("doc_id", "source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"].cast("int"),
            ).alias("tokens")
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select("doc_id", "tokens", "n_tok", "source")
    )


def token_ids_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, source, tid long) — vocabulary-id token stream (parity path)."""
    v = vocab(docs)
    return tokens_exploded(docs).join(F.broadcast(v), "tok").select("doc_id", "source", "tid")
