"""Per-row invariant (BASELINE.json input_hint): token-array equality —
the tokens arrays, run through the exploded pipeline and reassembled per
doc_id, must reconstruct the original arrays exactly (order preserved).
And the one tokenizer's Spark/DuckDB contract: both engines split words
exactly as Python does."""

import re

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.datagen import tokens as tk
from cardinality_estimation_evaluation_framework_spark.operators import text


def test_tokenize_vocab_roundtrip_exact(spark, docs):
    tokens_tbl = tk.tokenize_vocab(docs).cache()
    # explode with position, then reassemble in order
    exploded = tokens_tbl.select(
        "doc_id", F.posexplode("tokens").alias("pos", "tid")
    )
    rebuilt = (
        exploded.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"],
            ).alias("tokens2")
        )
    )
    joined = tokens_tbl.join(rebuilt, "doc_id")
    mismatches = joined.where(F.col("tokens") != F.col("tokens2")).count()
    assert mismatches == 0
    # n_tok consistent
    assert tokens_tbl.where(F.size("tokens") != F.col("n_tok")).count() == 0


def test_tokenize_vocab_matches_raw_text_tokens(spark, docs):
    """The vocab-id arrays decode back to the exact token strings of the
    original text (full pipeline inverse check on a sample)."""
    v = tk.vocab(docs)
    id2tok = {r["tid"]: r["tok"] for r in v.collect()}
    sample = tk.tokenize_vocab(docs).join(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"), "doc_id"
    ).limit(50).collect()
    for row in sample:
        expected = [t for t in re.split("[^a-z0-9]+", row["text"].lower()) if t]
        decoded = [id2tok[t] for t in row["tokens"]]
        assert decoded == expected, row["doc_id"]


def test_tokenize_hashed_counts_match_vocab_path(spark, docs):
    a = tk.tokenize_hashed(docs).select("doc_id", "n_tok")
    b = tk.tokenize_vocab(docs).select("doc_id", "n_tok")
    assert a.join(b, "doc_id").where(a.n_tok != b.n_tok).count() == 0


#: ASCII edge cases, plus the only two non-ASCII code points whose
#: lowercase holds [a-z0-9]: U+0130 (lowercases to i + U+0307 on the JVM
#: and in Python) and U+212A KELVIN SIGN (k)
_TOKENIZER_CASES = [
    "Hello World", "MiXeD CaSe", "abc123 456DEF 7x8y", "a--b,,c  d",
    "...leading and trailing!!!", "tab\there\nnew\r\nline\fform",
    "", "   ", "!!!", "x", "naïve café 日本語",
    "\u0130stanbul", "\u0130", "300\u212a", "\u212aelvin",
]


def test_tokenizer_twins_agree(spark):
    """text.words (Spark) and text.words_sql (DuckDB) both give Python's
    ``re.split`` on ``str.lower()``, empties dropped; NULL stays NULL."""
    rows = list(enumerate(_TOKENIZER_CASES + [None]))
    got_spark = dict(
        spark.createDataFrame(rows, "i int, text string")
        .select("i", text.words("text")).collect()
    )
    con = duckdb.connect()
    con.register("cases", pd.DataFrame(rows, columns=["i", "text"]))
    got_duckdb = dict(
        con.execute(f"SELECT i, {text.words_sql('text')} FROM cases").fetchall()
    )
    expected = {i: None if t is None else
                [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
                for i, t in rows}
    bad = [(t, expected[i], got_spark[i], got_duckdb[i]) for i, t in rows
           if not expected[i] == got_spark[i] == got_duckdb[i]]
    assert bad == []
