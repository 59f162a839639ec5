"""Text analysis operators for large-scale training-data pipelines.

All hot-path operators are pure Catalyst column expressions (whole-stage
codegen, no Python).

Every word-level operator here, in ``dedup``, ``decontam`` and
``datagen.tokens``, and every DuckDB twin of one, reads words through ONE
tokenizer (lowercase, split on ``TOKEN_SPLIT_RE``, drop empties):
:func:`words` in Spark (:func:`explode_words` for one row per word) and
:func:`words_sql` in DuckDB, which tokenize identically (pinned in
``tests/test_token_roundtrip.py``). Every word n-gram starts at an index
of ONE window, :func:`gram_starts`.

Language ID is an n-gram/stopword-ratio heuristic: per-language stopword
regex hit counts normalized by token count, argmax with a deterministic
tie-break — expressible identically in ANSI SQL for the DuckDB oracle
(``*_sql`` twins below).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# tiny per-language stopword sets (public common-word lists)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}

#: the word separator: anything but [a-z0-9] after lowercasing
TOKEN_SPLIT_RE = "[^a-z0-9]+"
# BPE-ish token pieces: runs of letters, runs of digits, or single punctuation
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def _count_regex(col: Column, pattern: str) -> Column:
    """Occurrences of pattern — native regexp_count: ONE regex pass.

    (The DuckDB twins keep the two-replace length-difference form —
    :func:`_count_regex_sql` — because DuckDB 1.0 has no regexp_count;
    values are identical, the oracle gate pins that.)"""
    return F.regexp_count(col, F.lit(pattern))


def _count_regex_sql(col: str, pattern: str) -> str:
    return (
        f"(length(regexp_replace({col}, '{pattern}', chr(1), 'g'))"
        f" - length(regexp_replace({col}, '{pattern}', '', 'g')))"
    )


def _split_lower(text_col: str) -> Column:
    """``text_col`` lowercased and split on ``TOKEN_SPLIT_RE``: the words,
    and empty pieces where the text starts or ends with a separator or is
    empty."""
    return F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)


def words(text_col: str = "text") -> Column:
    """array<string> of the words of ``text_col``: lowercase, split on
    ``TOKEN_SPLIT_RE``, drop empties. NULL text gives NULL."""
    return F.filter(_split_lower(text_col), lambda x: x != "")


def explode_words(df: DataFrame, *cols, text_col: str = "text",
                  pos: bool = False) -> DataFrame:
    """``cols`` plus one row per word of ``text_col`` (column ``tok``), in
    text order; with ``pos``, also its index among the split pieces
    (``pos``, a sort key: it counts a dropped leading empty piece). The
    same words as :func:`words`, but the empty pieces are dropped AFTER
    the explode: an explode over words()'s filter lambda leaves
    whole-stage codegen, and an explode + group-by over 200k short docs
    ran 1.46x slower that way (median of 5, local[4])."""
    gen = (F.posexplode(_split_lower(text_col)).alias("pos", "tok") if pos
           else F.explode(_split_lower(text_col)).alias("tok"))
    return df.select(*cols, gen).where(F.col("tok") != "")


def _lower_sql(text_col: str) -> str:
    """DuckDB ``lower`` that folds U+0130 (capital I with dot above) as
    the JVM does, to ``i`` + U+0307: DuckDB folds it to a bare ``i``, so
    ``'İstanbul'`` would tokenize to ``['istanbul']`` there and to
    ``['i', 'stanbul']`` in Spark. Over all 1,112,063 code points it is
    the only one whose tokens differ between the two engines (Spark
    4.1.2, DuckDB 1.0.0)."""
    return f"lower(replace({text_col}, chr(304), 'i' || chr(775)))"


def words_sql(text_col: str = "text") -> str:
    """DuckDB twin of :func:`words`: the same words, in the same order."""
    return (
        f"list_filter(string_split_regex({_lower_sql(text_col)}, "
        f"'{TOKEN_SPLIT_RE}'), x -> x <> '')"
    )


def gram_starts(size: Column, n: int) -> Column:
    """0-based start indexes ``0 .. size-n`` of the word n-grams of a
    ``size``-word array; EMPTY below n words. The guard matters: Spark's
    ``sequence(0, -1)`` is DESCENDING (``[0, -1]``), not empty."""
    return F.when(size >= n, F.sequence(F.lit(0), size - n)).otherwise(
        F.array().cast("array<int>"))


def gram_at(arr, i, n: int) -> Column:
    """Space-joined word n-gram of array column ``arr`` starting at
    0-based index ``i`` (a lambda variable) — built from n element_at
    lookups, NEVER ``F.slice``: these lambdas run INTERPRETED inside
    explode/transform generators, and interpreted Slice copies
    O(len(arr)) per call — O(doc^2) per document. Measured on one
    300k-token doc: 113 s with slice vs ~3 s with element_at (and the
    1M-token hostile doc never finished). element_at on UnsafeArrayData
    is O(1)."""
    return F.concat_ws(" ", *[F.element_at(arr, i + (j + 1))
                              for j in range(n)])


def _gram_hash_array(wds: Column, n: int, gram_hash) -> Column:
    """array<long> of ``gram_hash(wd, i)`` over every word n-gram start i
    of the row's word array ``wds`` (empty below n words), bound as ``wd``
    ONCE per row as a transform lambda variable. The obvious two-step
    select (words.alias("wd") then transform over col("wd")) is a stacked
    Project that CollapseProject merges, inlining filter(split(text))
    into EVERY element_at inside the gram lambda — a full regex split of
    the document per gram element, O(k * n_tok^2). A 1M-token doc burned
    40+ CPU-minutes inside StringSplit that way. transform(array(words),
    wd -> ...) evaluates the split once and every wd reference reads the
    bound value."""
    return F.element_at(
        F.transform(
            F.array(wds),
            lambda wd: F.transform(
                gram_starts(F.size(wd), n), lambda i: gram_hash(wd, i)
            ),
        ),
        1,
    )


def gram_hash_arrays(docs: DataFrame, n: int, gram_hash,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id string, ghs array<long>): one hash per word n-gram, one ROW
    per document — the Arrow-slim input shape for per-doc gram kernels
    (minhash signatures, decontam Bloom probe): no explode, no per-gram
    rows, the doc_id travels once per doc.

    ``gram_hash``: callable (word-array lambda var, 0-based start index)
    -> hash Column; callers choose string-gram hashing
    (``gram_hash(gram_at(wd, i, n))``-style) or multi-column hashing over
    the window's words. The word array is bound as a lambda variable
    (:func:`_gram_hash_array`). Docs with fewer than n words get an empty
    array (callers decide whether they emit)."""
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        _gram_hash_array(words(text_col), n, gram_hash).alias("ghs"),
    )


def duckdb_tok_ctes(prefix: str = "",
                    key_expr: str = "CAST(doc_id AS VARCHAR)",
                    key_name: str = "doc_id", text_col: str = "text",
                    source_sql: str = "SELECT * FROM documents") -> str:
    """Shared DuckDB CTE pair `{prefix}words` / `{prefix}tok`: one row
    per (doc, position, word), LINEAR in corpus size. Feed
    :func:`duckdb_gram_cte` for n-grams. The earlier twins built grams
    by slicing the per-doc word LIST per window (``w[i:i+n-1]``), which
    DuckDB evaluates in O(len(w)) per slice — O(len^2) per doc, ~10^12
    element touches on a 1M-token doc (measured: one such doc alone ran
    >120 s; the explode+window form below does the whole 3.9M-token
    hostile corpus in ~4 s)."""
    p = prefix
    # _rid keys the gram window to the physical DOCUMENT row: the output
    # key (e.g. source) may repeat across docs, and a window partitioned
    # on it would agg words across document boundaries (caught by
    # test_source_overlap_matrix_duckdb_twin)
    return f"""{p}words AS (
  SELECT {key_expr} AS {key_name}, ROW_NUMBER() OVER () AS _rid,
         {words_sql(text_col)} AS w
  FROM ({source_sql})
),
{p}tok AS (
  SELECT {key_name}, _rid, len(w) AS n_tok,
         generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word
  FROM {p}words
)"""


def duckdb_gram_cte(n: int, cte_name: str = "grams", tok_cte: str = "tok",
                    key_name: str = "doc_id",
                    gram_name: str = "gram") -> str:
    """DuckDB CTE `{cte_name}`: one row per word n-gram — (key, n_tok,
    pos, gram) — built from a :func:`duckdb_tok_ctes` token table with a
    sliding window aggregate (string_agg over CURRENT ROW..n-1
    FOLLOWING), i.e. O(n) per token instead of O(doc) per window. pos
    is the 0-based index of the gram's first word. The window
    partitions on _rid (the document row), never on the output key."""
    return f"""{cte_name} AS (
  SELECT {key_name}, _rid, n_tok, pos, {gram_name} FROM (
    SELECT {key_name}, _rid, n_tok, pos,
           string_agg(word, ' ') OVER win AS {gram_name},
           count(*) OVER win AS _glen
    FROM {tok_cte}
    WINDOW win AS (PARTITION BY _rid ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {n - 1} FOLLOWING)
  ) WHERE _glen = {n}
)"""


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace + BPE-ish token counts (pure Catalyst)."""
    t = F.col(text_col)
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    bpe = _count_regex(t, BPE_RE)
    return df.withColumn("n_tok_ws", ws.cast("int")).withColumn(
        "n_tok_bpe", bpe.cast("int")
    )


def token_counts_sql(text_col: str = "text") -> dict[str, str]:
    ws = (
        f"CAST(len(list_filter(string_split_regex({text_col}, '\\s+'),"
        f" x -> x <> '')) AS INT)"
    )
    return {"n_tok_ws": ws, "n_tok_bpe": f"CAST({_count_regex_sql(text_col, BPE_RE)} AS INT)"}


def _lang_scores(t: Column) -> dict[str, Column]:
    """One regexp_count per language (alternation of its marker words) —
    a single regex pass over the text per language, not one per word.
    Equal to the per-word sum: marker words are distinct, so alternation
    matches partition exactly into per-word matches.

    NULL text coalesces to score 0 so the argmax (and the DuckDB twin's
    greatest/CASE chain) deterministically picks the first sorted
    language instead of propagating NULL one side and falling through to
    the last language on the other."""
    lowered = F.lower(t)
    return {
        lang: F.coalesce(
            F.regexp_count(lowered, F.lit(rf"\b({'|'.join(markers)})\b")),
            F.lit(0),
        )
        for lang, markers in LANG_MARKERS.items()
    }


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID with deterministic tie-break: greatest
    score wins, ties broken by language-name (sorted) order.

    Plan note (measured): argmax goes through array_position(arr,
    array_max(arr)) so each language score appears ONCE in the expression
    tree. The previous chained-CASE fold nested every earlier score inside
    each later branch — expression size grew ~2^k and every copy re-ran
    its regexes; at 4 languages that was ~30 extra regex passes per row
    (65s vs <2s for the whole lang_id gate query at the 10x scale run).
    """
    scores = _lang_scores(F.col(text_col))
    langs = sorted(LANG_MARKERS)
    arr = F.array(*[scores[lang] for lang in langs])
    # array_position returns the FIRST index of the max -> sorted-order
    # tie-break, matching lang_id_sql's first-equal-wins CASE chain
    idx = F.array_position(arr, F.array_max(arr)).cast("int")
    names = F.array(*[F.lit(lang) for lang in langs])
    return df.withColumn("lang_pred", F.element_at(names, idx))


def lang_id_sql(text_col: str = "text") -> str:
    """DuckDB twin of with_lang_id: same per-language alternation counts,
    greatest() + first-equal-wins CASE = array_position tie-break."""
    langs = sorted(LANG_MARKERS)

    def score(lang):
        alt = "|".join(LANG_MARKERS[lang])
        pat = rf"\b({alt})\b"
        # coalesce: NULL text -> 0 on both engines (see _lang_scores)
        return f"coalesce({_count_regex_sql(_lower_sql(text_col), pat)}, 0)"

    scores = {lang: score(lang) for lang in langs}
    gmax = "greatest(" + ", ".join(scores[lang] for lang in langs) + ")"
    cases = " ".join(
        f"WHEN {scores[lang]} = {gmax} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"(CASE {cases} ELSE '{langs[-1]}' END)"


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + low punctuation ratio
    + healthy mean word length + stopword presence. Pure Catalyst."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
    n_punct = _count_regex(t, r"[^a-zA-Z0-9\s]")
    stop_alt = "|".join(LANG_MARKERS["en"])
    stop_hits = F.regexp_count(F.lower(t), F.lit(rf"\b({stop_alt})\b"))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    mean_word_len = n_chars / F.greatest(n_words, F.lit(1))
    score = (
        F.when((n_chars >= 50) & (n_chars <= 100_000), 0.25).otherwise(0.0)
        + F.when(punct_ratio < 0.1, 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.25).otherwise(0.0)
        + F.when(stop_hits > 0, 0.25).otherwise(0.0)
    )
    return df.withColumn("quality_score", F.round(score, 2))


def quality_score_sql(text_col: str = "text") -> str:
    n_chars = f"length({text_col})"
    n_words = f"len(list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> ''))"
    n_punct = _count_regex_sql(text_col, r"[^a-zA-Z0-9\s]")
    stop_alt = "|".join(LANG_MARKERS["en"])
    stop = _count_regex_sql(_lower_sql(text_col), rf"\b({stop_alt})\b")
    return (
        "round("
        f"(CASE WHEN {n_chars} >= 50 AND {n_chars} <= 100000 THEN 0.25 ELSE 0.0 END)"
        f" + (CASE WHEN CAST({n_punct} AS DOUBLE) / greatest({n_chars}, 1) < 0.1 THEN 0.25 ELSE 0.0 END)"
        f" + (CASE WHEN CAST({n_chars} AS DOUBLE) / greatest({n_words}, 1) >= 3"
        f"        AND CAST({n_chars} AS DOUBLE) / greatest({n_words}, 1) <= 12 THEN 0.25 ELSE 0.0 END)"
        f" + (CASE WHEN ({stop}) > 0 THEN 0.25 ELSE 0.0 END)"
        ", 2)"
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (JVM-side; exact
    oracle twin exists in any engine with md5)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(F.trim(norm)))


def fingerprint_sql(text_col: str = "text") -> str:
    return f"md5(trim(regexp_replace({_lower_sql(text_col)}, '\\s+', ' ', 'g')))"


def _dup_frac(arr: Column) -> Column:
    """1 - distinct/total over a (possibly NULL/empty) array column,
    rounded to 6; 0.0 for empty/NULL."""
    return F.when(
        F.size(arr) > 0,
        F.round(1.0 - F.size(F.array_distinct(arr)) / F.size(arr), 6),
    ).otherwise(0.0)


# Gopher repetition-signal n-gram set: bigram name kept for backward
# compatibility with the r4 gate row
TOP_NGRAM_COLS = {2: "top_bigram_frac", 3: "top_trigram_frac",
                  4: "top_quadgram_frac"}


def with_repetition_stats(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    quality rules; count-fraction form of the published char-fraction
    signals — monotone-equivalent per fixed n):

    - ``word_rep_frac``: 1 - distinct_words / words (0 = no repetition)
    - ``top_bigram_frac`` / ``top_trigram_frac`` / ``top_quadgram_frac``:
      occurrences of the doc's most frequent word n-gram / total n-grams
      (boilerplate detector)
    - ``dup_line_frac`` / ``dup_para_frac``: 1 - distinct/total over
      non-blank lines (split on \\n) and paragraphs (split on blank
      lines, \\n{2,})

    word_rep_frac and the line/paragraph fractions are pure column
    expressions (array ops — no explode, no shuffle); each top-n-gram
    fraction needs a per-(doc, gram) count — explode + two groupBys keyed
    on doc_id (map-side combined) and a broadcast-size join back.
    Null/short texts get 0.0 for every signal.
    """
    lines = F.filter(F.split(F.col(text_col), r"\n"),
                     lambda x: F.trim(x) != "")
    paras = F.filter(F.split(F.col(text_col), r"\n{2,}"),
                     lambda x: F.trim(x) != "")
    base = (
        df.withColumn("_w", words(text_col))
        .withColumn("word_rep_frac", _dup_frac(F.col("_w")))
        .withColumn("dup_line_frac", _dup_frac(lines))
        .withColumn("dup_para_frac", _dup_frac(paras))
    )
    out = base
    for n, out_name in TOP_NGRAM_COLS.items():
        grams = base.select(
            F.col(id_col).alias("_bid"),
            F.explode(
                F.transform(gram_starts(F.size("_w"), n),
                            lambda i: gram_at("_w", i, n))
            ).alias("bg"),
        )
        per_doc = (
            grams.groupBy("_bid", "bg").agg(F.count("*").alias("c"))
            .groupBy("_bid")
            .agg(F.max("c").alias("top_c"), F.sum("c").alias("total_c"))
            .select(
                "_bid",
                F.round(F.col("top_c") / F.col("total_c"), 6).alias(out_name),
            )
        )
        out = (
            out.join(per_doc, out[id_col] == per_doc["_bid"], "left")
            .withColumn(out_name, F.coalesce(out_name, F.lit(0.0)))
            .drop("_bid")
        )
    return out.drop("_w")


def repetition_stats_sql(text_col: str = "text", id_col: str = "doc_id",
                         source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB twin of with_repetition_stats -> (doc_id, word_rep_frac,
    top_bigram_frac, top_trigram_frac, top_quadgram_frac, dup_line_frac,
    dup_para_frac)."""

    def dup_frac_sql(arr: str) -> str:
        return (
            f"CASE WHEN len({arr}) > 0 THEN round(1.0 - "
            f"CAST(len(list_distinct({arr})) AS DOUBLE) / len({arr}), 6) "
            f"ELSE 0.0 END"
        )

    # one shared token explode feeds all three top-n-gram stats; gram
    # construction is the linear sliding-window form (duckdb_gram_cte) —
    # the old per-window list slice was O(doc^2) (see duckdb_tok_ctes)
    gram_ctes, gram_joins, gram_cols = [], [], []
    for n, out_name in TOP_NGRAM_COLS.items():
        gram_ctes.append(f"""
{duckdb_gram_cte(n, cte_name=f'grams{n}', gram_name='bg')},
gstats{n} AS (
  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS {out_name}
  FROM (SELECT doc_id, bg, count(*) AS c FROM grams{n} GROUP BY doc_id, bg)
  GROUP BY doc_id
)""")
        gram_joins.append(f"LEFT JOIN gstats{n} g{n} ON g{n}.doc_id = w.doc_id")
        gram_cols.append(f"coalesce(g{n}.{out_name}, 0.0) AS {out_name}")

    lines = (
        f"list_filter(string_split_regex({text_col}, '\\n'), x -> trim(x) <> '')"
    )
    paras = (
        f"list_filter(string_split_regex({text_col}, '\\n{{2,}}'), "
        f"x -> trim(x) <> '')"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST({id_col} AS VARCHAR) AS doc_id,
         {words_sql(text_col)} AS w,
         {dup_frac_sql(lines)} AS dup_line_frac,
         {dup_frac_sql(paras)} AS dup_para_frac
  FROM ({source_sql})
),
wstats AS (
  SELECT doc_id,
         {dup_frac_sql('w')} AS word_rep_frac,
         dup_line_frac, dup_para_frac
  FROM base
),
tok AS (
  SELECT doc_id, doc_id AS _rid, len(w) AS n_tok,
         generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word
  FROM base
),{','.join(gram_ctes)}
SELECT w.doc_id, w.word_rep_frac,
       {', '.join(gram_cols)},
       w.dup_line_frac, w.dup_para_frac
FROM wstats w {' '.join(gram_joins)}
"""


# --------------------------------------------------------------------------
# Per-source unigram distribution drift (mixture audit)
# --------------------------------------------------------------------------

def unigram_drift(docs: DataFrame, text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """Per-source unigram-distribution drift vs the whole corpus: KL
    divergence KL(p_source || p_corpus) and total-variation distance,
    plus token totals. The training-mixture audit: a source whose drift
    jumps between crawls (or dwarfs its peers') changed its content mix.

    TVD counts tokens ABSENT from the source too: for those |p - q| = q,
    and sum(q over absent tokens) = 1 - sum(q over present tokens), so
    the whole statistic folds into the per-source join — no second pass.
    KL needs no smoothing because q(t) > 0 wherever p(t) > 0 (the corpus
    contains every source's tokens by construction).

    Scale posture (100 TB): one explode feeding a two-level (source,
    tok) HashAggregate (map-side combine), a vocabulary-keyed shuffle
    join of (source, tok) counts against tok totals — skew bounded by
    #sources per token — and broadcasts for the #sources-row totals and
    the 1-row corpus total. No collect, no window, no Python.
    """
    toks = explode_words(docs, F.col(source_col).cast("string").alias("source"),
                         text_col=text_col)
    # `per` feeds three consumers (tot, glob, the join): persist it so the
    # explode + (source, tok) aggregation over the full corpus runs once,
    # not three times — the same discipline minhash_dedup_pairs applies to
    # its 3x-consumed signature table (ADVICE r5). Callers that
    # materialize the result can release it via
    # dedup.unpersist_intermediates.
    from pyspark import StorageLevel

    from cardinality_estimation_evaluation_framework_spark.operators.dedup import (
        _attach_persisted,
    )

    per = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("c_st"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot = per.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    glob = per.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    big_n = glob.agg(F.sum("c_t").alias("n_corpus"))
    j = (
        per.join(glob, "tok")
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(big_n))
    )
    p = F.col("c_st") / F.col("n_s")
    q = F.col("c_t") / F.col("n_corpus")
    out = (
        j.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_to_corpus"),
            F.round(
                0.5 * (F.sum(F.abs(p - q)) + 1 - F.sum(q)), 6
            ).alias("tvd_to_corpus"),
        )
    )
    return _attach_persisted(out, [per])


def unigram_drift_sql(text_col: str = "text", source_col: str = "source",
                      source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB twin of :func:`unigram_drift` (same tokenization, same
    fold of the absent-token TVD mass)."""
    return f"""
WITH toks AS (
  SELECT source, unnest(w) AS tok FROM (
    SELECT CAST({source_col} AS VARCHAR) AS source,
           {words_sql(text_col)} AS w
    FROM ({source_sql})
  )
),
per AS MATERIALIZED (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
tot AS (SELECT source, sum(c_st) AS n_s FROM per GROUP BY 1),
gtot AS (SELECT tok, sum(c_st) AS c_t FROM per GROUP BY 1),
big AS (SELECT sum(c_t) AS n_corpus FROM gtot)
SELECT p.source,
       CAST(max(t.n_s) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum((c_st / t.n_s) * ln((c_st / t.n_s) / (c_t / b.n_corpus))),
             6) AS kl_to_corpus,
       round(0.5 * (sum(abs(c_st / t.n_s - c_t / b.n_corpus))
                    + 1 - sum(c_t / b.n_corpus)), 6) AS tvd_to_corpus
FROM per p
JOIN tot t USING (source)
JOIN gtot g USING (tok)
CROSS JOIN big b
GROUP BY p.source
"""


def with_self_information(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document mean self-information (bits/token) under the corpus
    unigram LM — the cheap perplexity proxy used as a quality-filter
    signal: boilerplate and template text scores low, gibberish and
    rare-token soup scores high. Output: (doc_id, n_tok,
    self_info_bits); docs with zero tokens are absent (no tokens, no
    distribution).

    Scale posture (100 TB): occurrences are pre-aggregated to
    (doc, tok) counts before the vocabulary join, so the join moves one
    row per distinct token per doc, not one per occurrence; corpus
    token totals shuffle on tok (skew = a token's doc spread, the same
    bound as any vocabulary agg) and the 1-row corpus total broadcasts.
    """
    toks = explode_words(docs, F.col(id_col).cast("string").alias("doc_id"),
                         text_col=text_col)
    per = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c_dt"))
    gtot = per.groupBy("tok").agg(F.sum("c_dt").alias("c_t"))
    big_n = gtot.agg(F.sum("c_t").alias("n_corpus"))
    nll = -F.log2(F.col("c_t") / F.col("n_corpus"))
    return (
        per.join(gtot, "tok")
        .crossJoin(F.broadcast(big_n))
        .groupBy("doc_id")
        .agg(
            F.sum("c_dt").cast("long").alias("n_tok"),
            F.round(
                F.sum(F.col("c_dt") * nll) / F.sum("c_dt"), 6
            ).alias("self_info_bits"),
        )
    )


def self_information_sql(text_col: str = "text", id_col: str = "doc_id",
                         source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB twin of :func:`with_self_information`."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(w) AS tok FROM (
    SELECT CAST({id_col} AS VARCHAR) AS doc_id,
           {words_sql(text_col)} AS w
    FROM ({source_sql})
  )
),
per AS MATERIALIZED (SELECT doc_id, tok, count(*) AS c_dt FROM toks GROUP BY 1, 2),
gtot AS (SELECT tok, sum(c_dt) AS c_t FROM per GROUP BY 1),
big AS (SELECT sum(c_t) AS n_corpus FROM gtot)
SELECT doc_id,
       CAST(sum(c_dt) AS BIGINT) AS n_tok,
       round(sum(c_dt * (-log2(c_t / b.n_corpus))) / sum(c_dt),
             6) AS self_info_bits
FROM per JOIN gtot USING (tok) CROSS JOIN big b
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, MOSS)
# --------------------------------------------------------------------------

def _winnow_hashes(wds: Column, k: int) -> Column:
    """Per-row array of the winnowing hashes: the top 53 bits of the
    portable md5-u64 of every word k-gram of the word array ``wds``."""
    from cardinality_estimation_evaluation_framework_spark.hashing import (
        md5_u64_spark,
    )

    return _gram_hash_array(
        wds, k,
        lambda wd, i: F.shiftrightunsigned(md5_u64_spark(gram_at(wd, i, k)), 11),
    )


def _leftmost_mins(hs: Column, w: int) -> Column:
    """array<struct<pos, fp>>: the LEFTMOST minimum of every window of
    ``w`` consecutive entries of the hash array ``hs`` (pos 1-based), by
    a strict-< fold. Fewer than w hashes form one whole-array window (w
    clamps); an empty ``hs`` selects nothing."""
    wlen = F.least(F.lit(w), F.size(hs))
    # an empty hs would still start one window, at 1, and element_at past
    # the array raises under ANSI mode; and sequence(1, 0) is DESCENDING
    # ([1, 0]) in Spark, so a one-gram window folds an empty offset list
    starts = F.when(
        F.size(hs) > 0, F.sequence(F.lit(1), F.size(hs) - wlen + 1)
    ).otherwise(F.array().cast("array<int>"))
    offsets = F.when(wlen >= 2, F.sequence(F.lit(1), wlen - 1)).otherwise(
        F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda j: F.aggregate(
            offsets,
            F.struct(j.alias("pos"), F.element_at(hs, j).alias("fp")),
            lambda acc, t: F.when(
                F.element_at(hs, j + t) < acc["fp"],
                F.struct((j + t).alias("pos"),
                         F.element_at(hs, j + t).alias("fp")),
            ).otherwise(acc),
        ),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints: hash every word k-gram, then in
    each window of ``w`` consecutive hashes keep the LEFTMOST minimum;
    the distinct (position, hash) pairs are the document's fingerprint
    set. Guarantees any shared run of >= k+w-1 words between two docs
    shares a fingerprint, at ~2/(w+1) selection density — the classic
    local document sketch (MOSS). We use the leftmost-min tie rule
    (the paper's robust variant prefers rightmost); selection density
    and the match guarantee are identical, and leftmost is what both
    engines express with a strict-< fold / lexicographic (hash, pos)
    min. Hashes are the portable md5-u64's top 53 bits, which order
    identically as Spark BIGINT and DuckDB UBIGINT (the full 64-bit
    value would not: it is signed on one side and unsigned on the
    other).

    Docs with fewer than k words are absent; docs with 1..w-1 grams get
    one whole-list window (w clamps) so short docs still fingerprint.

    Scale posture (100 TB): everything up to the final distinct is a
    per-row Catalyst expression chain (no shuffle, no Python, no
    explode-then-window); the single shuffle is the distinct over
    (doc, pos, fp) — and that can be dropped entirely by callers that
    feed the exploded stream straight into a groupBy.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    wds = words(text_col)
    hs = _winnow_hashes(wds, k)
    # pre-filter on word count (one split, linear) instead of on the
    # derived hs array (whole gram chain inlined into the predicate)
    doc = docs.where(F.size(wds) >= k).select(
        F.col(id_col).cast("string").alias("doc_id"), hs.alias("hs")
    )
    return (
        doc.select("doc_id", F.explode(_leftmost_mins(F.col("hs"), w)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
        .distinct()
    )


def winnow_fp_array(text_col: str = "text", k: int = 3, w: int = 4) -> Column:
    """Per-ROW distinct winnowing fingerprint array — the same selection
    as :func:`winnow_fingerprints` but as one column expression with no
    explode, no shuffle and no cross-row distinct (the per-(doc, fp)
    dedup collapses to array_distinct inside the row). This is the form
    a STREAMING pipeline needs: Structured Streaming forbids the global
    distinct, and a stateful operator wants (doc, fp) events computed
    row-locally.

    Both the word array and the gram-hash array are bound as transform
    lambda variables: written as stacked selects or one flat expression,
    CollapseProject would inline filter(split(text)) — and then the whole
    hash transform — into every element access, re-tokenizing the
    document per gram element (the O(k*n^2) hazard of
    :func:`_gram_hash_array`).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    return F.element_at(
        F.transform(
            F.array(_winnow_hashes(words(text_col), k)),
            lambda hs: F.array_distinct(
                F.transform(_leftmost_mins(hs, w), lambda s: s["fp"])
            ),
        ),
        1,
    )


def winnow_fingerprints_sql(k: int = 3, w: int = 4,
                            text_col: str = "text", id_col: str = "doc_id",
                            source_sql: str = "SELECT * FROM documents",
                            ) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`: per-gram hash rows,
    each window a sliding frame whose LEFTMOST MIN is selected by
    min()-ing a HUGEINT (hash << 40 | position) key — equal hashes
    break to the smaller position exactly like the Spark fold. A
    derivation with no fold and no join. (Two prior twins retired: a
    range join that materialized windows x members, and a per-window
    list-slice form that DuckDB evaluates in O(doc) per slice —
    O(doc^2) per doc, >120 s for ONE 1M-token doc; this one is linear
    in corpus size.)"""
    from cardinality_estimation_evaluation_framework_spark.hashing import (
        md5_u64_duckdb,
    )

    shift = 1 << 40  # gram positions fit: 2^40 tokens per doc
    return f"""
WITH {duckdb_tok_ctes(key_expr=f"CAST({id_col} AS VARCHAR)",
                      text_col=text_col, source_sql=source_sql)},
{duckdb_gram_cte(k, cte_name="kgrams")},
gh AS (
  SELECT doc_id, pos + 1 AS gpos,
         CAST({md5_u64_duckdb('gram')} >> 11 AS BIGINT) AS h,
         n_tok - {k - 1} AS n_grams
  FROM kgrams
),
sel AS (
  SELECT doc_id,
         min(CAST(h AS HUGEINT) * {shift} + gpos) OVER win AS key,
         count(*) OVER win AS wcnt,
         least({w}, n_grams) AS wl
  FROM gh
  WINDOW win AS (PARTITION BY doc_id ORDER BY gpos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
)
SELECT DISTINCT doc_id,
       CAST(key % {shift} AS INT) AS pos,
       CAST(key // {shift} AS BIGINT) AS fp
FROM sel WHERE wcnt = wl
"""


def zipf_slope_by_source(docs: DataFrame, text_col: str = "text",
                         source_col: str = "source") -> DataFrame:
    """Per-source Zipf slope: OLS fit of ln(freq) against ln(rank) over
    the source's token frequency table (rank 1 = most frequent). Healthy
    natural text sits near -1; template/boilerplate-heavy sources
    flatten, random-id soup steepens — a cheap vocabulary-health audit
    per source. Sources with < 2 distinct tokens are absent (a slope
    needs 2 points).

    RANK-FREE formulation (VERDICT r5 #3): terms tied at one frequency f
    occupy a consecutive rank block; the block collapses to its MIDRANK
    ``c_above + (m+1)/2`` (the tie convention of rank-correlation
    statistics), making the whole fit a pure function of the frequency
    HISTOGRAM — no per-term rank, so no vocabulary-scale sort anywhere.
    With no ties this is exactly the per-term rank fit; ties previously
    took an arbitrary token-order rank anyway. One definitional edge
    moves: a source whose terms ALL share one frequency has constant x,
    so the slope is undefined and emits NULL (the per-term-rank
    formulation returned 0 by fiat of its arbitrary tie order).

    Scale posture (100 TB): the only window runs per source over its
    DISTINCT FREQUENCY VALUES — at most ~sqrt(2 * n_tokens) rows (k
    distinct frequencies sum to >= k(k+1)/2 occurrences), i.e. ~1.4M
    rows for a 10^12-token mono-source corpus, vs ~10^9 vocabulary rows
    for the per-term rank sort this replaces. Everything else is the
    usual explode + two-level map-side-combined aggregate; the OLS
    moments are m-weighted sums folded in the final per-source agg.
    """
    from pyspark.sql.window import Window

    toks = explode_words(docs, F.col(source_col).cast("string").alias("source"),
                         text_col=text_col)
    freq = toks.groupBy("source", "tok").agg(F.count("*").alias("freq"))
    hist = freq.groupBy("source", "freq").agg(F.count("*").alias("m"))
    w = Window.partitionBy("source").orderBy(F.col("freq").desc())
    hist = hist.withColumn("_c_above", F.sum("m").over(w) - F.col("m"))
    x = F.log(F.col("_c_above") + (F.col("m") + F.lit(1)) / F.lit(2))
    y = F.log(F.col("freq").cast("double"))
    mm = F.col("m").cast("double")
    agg = (
        hist.groupBy("source")
        .agg(
            F.sum("m").cast("long").alias("n_terms"),
            F.count("*").alias("_n_blocks"),
            F.sum(mm * x).alias("_sx"), F.sum(mm * y).alias("_sy"),
            F.sum(mm * x * x).alias("_sxx"), F.sum(mm * x * y).alias("_sxy"),
        )
        .where(F.col("n_terms") >= 2)
    )
    denom = F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("n_terms")
    num = F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("n_terms")
    # constant x <=> a single histogram block: gate STRUCTURALLY on the
    # block count, not on denom != 0 — float cancellation leaves denom a
    # tiny nonzero residue with the numerator sharing the same structure,
    # so the raw ratio of the two rounding errors lands near 1.0
    return agg.select(
        "source", "n_terms",
        F.round(
            F.when(F.col("_n_blocks") >= 2, num / denom), 6
        ).alias("zipf_slope"),
    )


def zipf_slope_sql(text_col: str = "text", source_col: str = "source",
                   source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB twin of :func:`zipf_slope_by_source` (same rank-free
    midrank-histogram formulation, same m-weighted OLS moments, same
    NULL on a constant-x source)."""
    return f"""
WITH toks AS (
  SELECT source, unnest(w) AS tok FROM (
    SELECT CAST({source_col} AS VARCHAR) AS source,
           {words_sql(text_col)} AS w
    FROM ({source_sql})
  )
),
freq AS (SELECT source, tok, count(*) AS freq FROM toks GROUP BY 1, 2),
hist AS (SELECT source, freq, count(*) AS m FROM freq GROUP BY 1, 2),
ranked AS (
  SELECT source, m,
         ln(sum(m) OVER (PARTITION BY source ORDER BY freq DESC)
            - m + (m + 1) / 2) AS x,
         ln(CAST(freq AS DOUBLE)) AS y
  FROM hist
),
moments AS (
  SELECT source,
         CAST(sum(m) AS BIGINT) AS n_terms,
         count(*) AS n_blocks,
         sum(m * x) AS sx, sum(m * y) AS sy,
         sum(m * x * x) AS sxx, sum(m * x * y) AS sxy
  FROM ranked
  GROUP BY source
  HAVING sum(m) >= 2
)
SELECT source, n_terms,
       CASE WHEN n_blocks >= 2 THEN
         round((sxy - sx * sy / n_terms)
               / (sxx - sx * sx / n_terms), 6)
       END AS zipf_slope
FROM moments
"""
