"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (all-pairs oracle + banded-LSH scale path).

Scale design (100 TB posture):
- exact dedup: hash-groupBy on a fingerprint — one shuffle of (hash, id).
- n-gram Jaccard: the EXACT pairwise form (gram self-join) is the oracle /
  small-scale path; the production path is MinHash+LSH which turns the
  quadratic join into one shuffle keyed on (band, bucket-signature), after
  which each bucket pairs and verifies its own members.
- signature builds shuffle ZERO raw grams/tokens: each Arrow batch emits
  per-doc partial signatures/accumulators (O(KB)) that a groupBy merges
  (min for minhash, sum for simhash bit counts) — the only shuffled rows
  are the per-doc partials. PLANS.md section 6 asserts this plan shape.
- SimHash: 64-bit signature per doc (one pass), near-dup = hamming <= k
  within LSH buckets on signature chunks.
- embedding cosine: exact all-pairs join for the gate/verification;
  embedding_near_dup_pairs_lsh (banded hyperplanes -> equi-join -> exact
  re-rank) is the scale path; query-centric top-k lives in similarity.py.
- MinHash finds and verifies its pairs bucket-local (full and
  incremental): one hash exchange on (band, bucket), then one
  ``mapInArrow`` per partition pairs each bucket's members and counts their
  equal signature positions (:func:`_minhash_bucket_pairs`). Every other
  candidate join (SimHash, embedding LSH, winnowing) is one
  :func:`_bucket_pairs`. Both cap degenerate hot buckets (boilerplate text
  / duplicate-heavy embeddings) so no bucket can go quadratic.

Below the signature computation, everything but the MinHash bucket stage
is built-in DataFrame ops so Catalyst plans the joins; signatures and that
stage are Arrow-vectorized numpy
(kernel choices are MEASURED — see docstrings and BENCH/BASELINE.md).
"""

from __future__ import annotations

import functools
import operator
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F

from cardinality_estimation_evaluation_framework_spark.hashing import (
    md5_u64_duckdb,
    md5_u64_spark,
    splitmix64,
    splitmix64_duckdb_select,
    splitmix_offset,
    u64_to_i64_duckdb,
)
from cardinality_estimation_evaluation_framework_spark.operators.aggregate import (
    flat,
    list_rows,
    spread_partitions,
)
from cardinality_estimation_evaluation_framework_spark.operators.text import (
    duckdb_gram_cte,
    duckdb_tok_ctes,
    gram_at,
    gram_hash_arrays,
    gram_starts,
    winnow_fingerprints,
    winnow_fingerprints_sql,
    with_fingerprint,
    words,
    words_sql,
)


def _cap_hot_buckets(df: DataFrame, keys: list[str], max_bucket_size: int) -> DataFrame:
    """Drop rows in degenerate buckets (> max_bucket_size members).

    Plan shape: a map-side-combined ``groupBy(keys).count()`` finds the hot
    buckets (almost always a tiny table — at scale nearly every bucket is
    small), then a left_anti equi-join removes their rows. Unlike a
    ``count().over(Window.partitionBy(keys))`` this never sorts the banded
    rows, so a skewed bucket costs one counted partial, not a
    single-reducer sort. The broadcast decision is deliberately left to
    AQE: it broadcasts the usual small hot list, but degrades gracefully
    to a shuffle anti-join if a pathological cap/corpus combination makes
    the hot list itself large (a forced broadcast would OOM instead)."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .where(F.col("_bsz") > max_bucket_size)
        .select(*keys)
    )
    return df.join(hot, keys, "left_anti")


def _bucket_pairs(rows: DataFrame, keys: list[str], max_bucket_size: int,
                  carry: tuple[str, ...] = (),
                  new_col: str | None = None) -> DataFrame:
    """The candidate stage of every near-dup family: cap the hot buckets of
    ``rows`` (one row per doc_id and bucket ``keys``), then self-join on
    ``keys``. Returns one row per (pair, shared bucket) as ``(doc_a, doc_b,
    {c}_a..., {c}_b...)`` for each ``carry`` column, with doc_a < doc_b;
    the caller adds its own ``distinct()`` or per-pair count.

    ``new_col`` names a boolean column marking the new rows of an
    incremental run. Only new rows probe, so old×old pairs never form; the
    probe keeps ``a < b``, or ``a > b`` against an old ``b``, so each pair
    with a new side comes out once per shared bucket. The cap still counts
    old ∪ new, so its decisions match a full run."""
    rows = _cap_hot_buckets(rows, keys, max_bucket_size)
    a, b = rows.alias("a"), rows.alias("b")
    ida, idb = F.col("a.doc_id"), F.col("b.doc_id")
    if new_col is None:
        pair, lo, hi = ida < idb, ida, idb
    else:
        a = rows.where(F.col(new_col)).alias("a")
        pair = (ida < idb) | (~F.col(f"b.{new_col}") & (ida > idb))
        lo, hi = F.least(ida, idb), F.greatest(ida, idb)

    def side(c: str, x: str, y: str):
        col = F.col(f"{x}.{c}")
        if new_col is None:
            return col
        return F.when(ida < idb, col).otherwise(F.col(f"{y}.{c}"))

    on = functools.reduce(
        operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    return a.join(b, on & pair).select(
        lo.alias("doc_a"), hi.alias("doc_b"),
        *[side(c, "a", "b").alias(f"{c}_a") for c in carry],
        *[side(c, "b", "a").alias(f"{c}_b") for c in carry],
    )


def _attach_persisted(df: DataFrame, persisted: list[DataFrame]) -> DataFrame:
    """Record the persist()ed intermediates on the returned DataFrame so a
    caller that materializes the result can release the cache entries with
    :func:`unpersist_intermediates` — without this the MEMORY_AND_DISK
    entries live until LRU eviction (fine for repeat calls on the same
    input, which share one entry by plan canonicalization, but a leak for
    long-lived sessions sweeping many inputs)."""
    df._ceef_persisted = persisted  # type: ignore[attr-defined]
    return df


def unpersist_intermediates(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist intermediates attached by the dedup pair builders.

    Call AFTER materializing ``df`` (count/collect/write); returns the
    number of cache entries released. No-op on frames without attachments.
    """
    persisted = getattr(df, "_ceef_persisted", None) or []
    for p in persisted:
        p.unpersist(blocking=blocking)
    df._ceef_persisted = []  # type: ignore[attr-defined]
    return len(persisted)


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_dups, keep_id): groups with > 1 doc; keep the min id.
    One hash-groupBy — linear, shuffle on the md5 only."""
    fp = with_fingerprint(docs, text_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(F.col(id_col).cast("string")).alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per fingerprint."""
    fp = with_fingerprint(docs, text_col)
    w = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy(F.col(id_col).cast("string"))
    )
    return fp.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn", "fingerprint")


# --------------------------------------------------------------------------
# word n-grams + exact Jaccard (oracle / verification path)
# --------------------------------------------------------------------------

def word_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text",
                id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """(doc_id, gram) — word n-grams, pure Catalyst.

    ``distinct=True`` (the Jaccard contract) costs one shuffle; minhash
    passes ``distinct=False`` because min() is duplicate-insensitive, so the
    signature kernel runs shuffle-free on the raw exploded grams."""
    doc = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                      words(text_col).alias("w"))
    grams = doc.select(
        "doc_id",
        F.explode(
            F.transform(gram_starts(F.size("w"), n), lambda i: gram_at("w", i, n))
        ).alias("gram"),
    )
    return grams.distinct() if distinct else grams


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """EXACT n-gram Jaccard similar pairs (doc_a < doc_b, jaccard >= t).

    gram self-join → |∩| per pair → |∪| = |A|+|B|-|∩|. Quadratic in the
    worst case — this is the verification/oracle path; LSH below prunes
    candidates at scale."""
    grams = word_ngrams(docs, n, text_col, id_col)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("ga"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("gb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("ga") + F.col("gb") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(n: int = 3, threshold: float = 0.8,
                            source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of ngram_jaccard_pairs over the documents view."""
    return f"""
WITH {duckdb_tok_ctes(source_sql=source_sql)},
{duckdb_gram_cte(n, cte_name="grams_all")},
grams AS MATERIALIZED (SELECT DISTINCT doc_id, gram FROM grams_all),
sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= {threshold}
"""


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# --------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, num_hashes: int = 64, n: int = 3,
                       seed: int = 0, text_col: str = "text",
                       id_col: str = "doc_id", portable: bool = False) -> DataFrame:
    """(doc_id, sig array<long>): minhash over word n-gram hashes.

    Scale posture: ZERO raw-gram shuffles. min() is duplicate-insensitive so
    the grams are NOT de-duplicated first (``distinct=False``); grams are
    hashed JVM-side (xxhash64) and each Arrow batch emits per-doc partial
    signatures (O(KB)) that the final groupBy min-merges — the only shuffle
    moves (doc_id, 64-long sig) rows, one per doc per touched partition.

    Kernel: per-remix splitmix64 pass + ``np.minimum.at`` scatter into the
    per-doc signature column. The scatter target is tiny (docs x 8B) and
    cache-hot, which measures ~2.5x FASTER than sort+reduceat and ~20x
    faster than a (grams x k) 2D remix matrix (huge temporaries) — the
    "unbuffered ufunc" cost only bites when the target is large.

    ``portable=True`` swaps the JVM gram hash from xxhash64 to the md5-u64
    portable hash (still JVM-side) so a DuckDB oracle
    (:func:`minhash_dedup_pairs_sql`) can pin the whole pipeline —
    splitmix64 remixes, min-scatter kernel, banding, verification —
    value-exactly. The numpy kernel is IDENTICAL on both paths.

    Arrow shape (guide §4): gram hashes cross the Python boundary as ONE
    ``array<long>`` row per document, not one row per gram — the doc_id
    string travels once per doc instead of once per gram (~50x fewer Arrow
    rows on 3-gram text), the explode disappears from the plan, and the
    per-gram hash values are bit-identical to the exploded form so
    signatures are unchanged.
    """
    gram_hash = md5_u64_spark if portable else F.xxhash64
    # gram STRING hashing on purpose: signature values (and est_jaccard)
    # are output-visible, so the hash family must stay what it was
    # spread DOC rows (1x text) before the build, never the grams (~3x)
    doc_ghs = gram_hash_arrays(
        spread_partitions(docs)[0], n,
        lambda wd, i: gram_hash(gram_at(wd, i, n)),
        text_col, id_col,
    )

    def per_batch(batches):
        for batch in batches:
            gh, owner = flat(batch, "ghs")
            if not len(gh):
                continue
            gh = gh.view(np.uint64)
            rows, codes = np.unique(owner, return_inverse=True)
            # (k, ndocs) layout: each remix scatters into a CONTIGUOUS row
            sigs = np.full(
                (num_hashes, len(rows)), np.iinfo(np.int64).max, dtype=np.int64
            )
            for k in range(num_hashes):
                hk = splitmix64(gh, seed * 1_000_003 + k).view(np.int64)
                np.minimum.at(sigs[k], codes, hk)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id").take(rows), list_rows(sigs.T)],
                names=["doc_id", "sig"],
            )

    # partial per input partition, then min-merge per doc (mins are
    # associative). The 64-way merge is ONE parsed SQL expression: built
    # as Column objects it costs a py4j round trip per node (~0.4 s of
    # driver planning per call), for the same optimized plan.
    partial = doc_ghs.mapInArrow(per_batch, schema="doc_id string, sig array<long>")
    merge = ", ".join(f"min(sig[{i}])" for i in range(num_hashes))
    return partial.groupBy("doc_id").agg(F.expr(f"array({merge})").alias("sig"))


def _band_signatures(signatures: DataFrame, bands: int, rows_per_band: int,
                     portable: bool) -> DataFrame:
    """(doc_id, band, bucket, sig): one row per signature band, each
    carrying the doc's full signature so its bucket can verify in place.
    Shared by the full (:func:`minhash_lsh_candidates`) and incremental
    paths so both bucket identically.

    The explode is built as ONE parsed SQL expression rather than ~100
    Column objects (a py4j round trip each, ~0.5 s of driver planning per
    call); the optimized plan is the same."""
    def bucket(b):
        cols = ", ".join(f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band))
        if portable:
            # the DuckDB twin reproduces this exact comma-joined string
            return f"concat_ws(',', {cols})"
        # production: hash the band's long values directly (xxhash64 chains
        # inputs seed-wise) — no per-band string build. Buckets encode the
        # same tuple-equality as the string form, and every candidate is
        # re-verified by exact signature agreement, so pairs are unchanged
        # (modulo hash collisions, as before).
        return f"xxhash64({cols})"

    structs = ", ".join(
        f"struct({b} AS band, {bucket(b)} AS bucket)" for b in range(bands)
    )
    return signatures.select(
        "doc_id", "sig", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket", "sig")


#: bytes of (pairs x num_hashes) temporaries one verify chunk may allocate
_VERIFY_CHUNK_BYTES = 64 << 20


def _pair_chunks(starts: np.ndarray, sizes: np.ndarray, chunk: int):
    """(ia, ib): every row pair ia < ib inside each run ``[start, start +
    size)``, in index arrays of at most ``chunk`` pairs (or one anchor row's
    partners when those alone fill a chunk)."""
    anchors = np.repeat(starts, sizes) + (
        np.arange(sizes.sum()) - np.repeat(np.cumsum(sizes) - sizes, sizes))
    partners = np.repeat(starts + sizes, sizes) - anchors - 1
    anchors, partners = anchors[partners > 0], partners[partners > 0]
    done = np.r_[0, np.cumsum(partners)]
    i = 0
    while i < len(anchors):
        j = max(int(np.searchsorted(done, done[i] + chunk, side="right")) - 1, i + 1)
        if partners[i] > chunk:  # a hot anchor: walk its partners in chunks
            for lo in range(1, partners[i] + 1, chunk):
                ib = anchors[i] + np.arange(lo, min(lo + chunk, partners[i] + 1))
                yield np.full(len(ib), anchors[i]), ib
        else:
            p = partners[i:j]
            ia = np.repeat(anchors[i:j], p)
            yield ia, ia + 1 + np.arange(len(ia)) - np.repeat(done[i:j] - done[i], p)
        i = j


def _minhash_bucket_pairs(banded: DataFrame, max_bucket_size: int,
                          new_col: str | None = None) -> DataFrame:
    """The MinHash candidate and verify stage, bucket-local: (doc_a, doc_b,
    agree) for every pair doc_a < doc_b sharing a (band, bucket) of
    ``banded`` (:func:`_band_signatures` rows), where ``agree`` counts the
    equal positions of the two signatures. A pair comes out once per shared
    bucket; the caller dedups.

    One hash exchange on (band, bucket) puts each bucket in one partition;
    one ``mapInArrow`` then sorts the partition by (band, bucket, doc_id),
    skips buckets of one member or over ``max_bucket_size``, and pairs and
    verifies the rest in numpy, in chunks of at most ``_VERIFY_CHUNK_BYTES``
    of temporaries. Not a per-bucket ``groupBy().applyInArrow``: almost
    every bucket is a singleton, and a Python call per bucket measured
    6x slower than this per-partition map (SCALE.md §2).

    A NULL doc_id counts toward its bucket's size, as in the DuckDB twin's
    ``count(*)``, but pairs with nothing, as under a join's ``<``; nor does
    an id pair with itself. ``new_col`` names a boolean column marking the
    new rows of an incremental run: only pairs with a new side come out,
    and the cap still counts old ∪ new, so its decisions match a full run.
    """
    id_type = banded.schema["doc_id"].dataType.simpleString()
    extra = [new_col] if new_col else []

    def per_partition(batches):
        # a bucket's rows may span batches: verify the whole partition
        batches = list(batches)
        if sum(b.num_rows for b in batches) < 2:
            return
        part = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]
        n = part.num_rows
        order = pc.sort_indices(part, sort_keys=[
            ("band", "ascending"), ("bucket", "ascending"), ("doc_id", "ascending")])
        band, bucket, ids = (part.column(c).take(order) for c in ("band", "bucket", "doc_id"))

        def differs(col):  # row i differs from row i - 1
            return pc.not_equal(col[1:], col[:-1]).fill_null(True).to_numpy(
                zero_copy_only=False)

        starts = np.flatnonzero(np.r_[True, differs(band) | differs(bucket)])
        sizes = np.diff(np.r_[starts, n])
        keep = (sizes > 1) & (sizes <= max_bucket_size)
        if not keep.any():
            return
        # equal ids are adjacent within a bucket: one run code per id
        id_run = np.cumsum(np.r_[True, differs(ids)])
        valid = ids.is_valid().to_numpy(zero_copy_only=False)
        is_new = (part.column(new_col).take(order).to_numpy(zero_copy_only=False)
                  if new_col else None)
        sig, _ = flat(part, "sig")
        sig = sig.reshape(n, -1)[order.to_numpy()]
        # per pair and hash: two gathered int64 values and one bool
        chunk = max(1, _VERIFY_CHUNK_BYTES // (17 * sig.shape[1]))
        for ia, ib in _pair_chunks(starts[keep], sizes[keep], chunk):
            ok = valid[ia] & valid[ib] & (id_run[ia] != id_run[ib])
            if new_col:
                ok &= is_new[ia] | is_new[ib]
            ia, ib = ia[ok], ib[ok]
            if not len(ia):
                continue
            agree = (sig[ia] == sig[ib]).sum(axis=1, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [ids.take(ia), ids.take(ib), pa.array(agree)],
                names=["doc_a", "doc_b", "agree"])

    rows = banded.select("doc_id", "band", "bucket", "sig", *extra)
    return rows.repartition("band", "bucket").mapInArrow(
        per_partition, f"doc_a {id_type}, doc_b {id_type}, agree int")


def minhash_lsh_candidates(signatures: DataFrame, bands: int = 16,
                           rows_per_band: int = 4,
                           max_bucket_size: int = 100_000,
                           portable: bool = False) -> DataFrame:
    """Band the signature; candidates = distinct pairs sharing any band
    bucket, formed bucket-local (:func:`_minhash_bucket_pairs`).

    ``max_bucket_size`` caps the per-bucket fanout: a degenerate bucket
    (boilerplate text collapsing millions of docs into one signature band)
    would make its pairs quadratic, so buckets above the cap form none.
    Near-dup pairs inside a dropped bucket still surface through the doc's
    other bands.

    ``portable=True`` keeps the bucket as the raw comma-joined value string
    (equality-identical to the xxhash64 compaction, modulo hash collisions)
    so the DuckDB twin can reproduce it; production hashes it to a long to
    shrink shuffle rows."""
    banded = _band_signatures(signatures, bands, rows_per_band, portable)
    return _minhash_bucket_pairs(banded, max_bucket_size).select(
        "doc_a", "doc_b").distinct()


def _verified(pairs: DataFrame, num_hashes: int, threshold: float,
              persist: bool) -> DataFrame:
    """(doc_a, doc_b, est_jaccard), once per pair, of the bucket pairs whose
    signature agreement rate, an unbiased Jaccard estimate, reaches
    ``threshold``; cached (see :func:`unpersist_intermediates`) if
    ``persist``."""
    est = F.round(F.col("agree") / F.lit(num_hashes), 6)
    out = (pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))
           .where(F.col("est_jaccard") >= threshold).distinct())
    return _attach_persisted(out.persist(), [out]) if persist else out


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.8, num_hashes: int = 64,
                        bands: int = 16, n: int = 3, seed: int = 0,
                        persist: bool = True, portable: bool = False,
                        max_bucket_size: int = 100_000) -> DataFrame:
    """LSH candidates verified by exact signature agreement rate (an unbiased
    Jaccard estimate).

    The signatures are read once, by the banding: each band row carries
    the full signature, and each bucket verifies its own pairs
    (:func:`_minhash_bucket_pairs`), so no join re-reads them.
    ``persist=True`` caches the verified pairs (MEMORY_AND_DISK), so a
    caller that collects them and then clusters them
    (:func:`connected_components`) does not re-run the signatures, the
    bucket stage and the distinct. Lifetime note: the cache lives until LRU
    eviction or :func:`unpersist_intermediates`; repeat invocations with
    identical inputs share one entry (Spark dedups by canonicalized plan).
    Pass ``persist=False`` to recompute instead."""
    sigs = minhash_signatures(docs, num_hashes, n, seed, portable=portable)
    banded = _band_signatures(sigs, bands, num_hashes // bands, portable)
    return _verified(_minhash_bucket_pairs(banded, max_bucket_size),
                     num_hashes, threshold, persist)


def minhash_dedup_pairs_incremental(new_docs: DataFrame,
                                    existing_sigs: DataFrame,
                                    threshold: float = 0.8,
                                    num_hashes: int = 64, bands: int = 16,
                                    n: int = 3, seed: int = 0,
                                    persist: bool = True,
                                    portable: bool = False,
                                    max_bucket_size: int = 100_000) -> DataFrame:
    """Incremental MinHash+LSH dedup for append-only corpora: signatures
    are computed for ``new_docs`` ONLY and banded together with a persisted
    signature index ``existing_sigs`` — the (doc_id, sig) table produced
    by :func:`minhash_signatures` with the SAME num_hashes/n/seed/portable
    settings (typically written to parquet by the previous run).

    Returns exactly the pairs a full recompute over old ∪ new would emit
    that touch >= 1 new doc; old×old pairs were already reported by the
    run that built the index, so they are not returned.  Equivalence
    contract (pinned in pytest and by the minhash_incremental oracle row):
    pairs_full(old ∪ new) == pairs_full(old) ∪ incremental(new, sigs(old)).

    Scale posture: the expensive gram-hash/min-scatter kernel runs over
    the new docs only. The bucket stage (:func:`_minhash_bucket_pairs`
    with ``new_col``) bands old ∪ new, so the hot-bucket cap counts the
    union and its decisions match the full run, and it verifies only the
    pairs with a new side. doc_ids must be unique across old ∪ new
    (append-only contract); an id on both sides never pairs with itself.
    ``persist`` caches the verified pairs as :func:`minhash_dedup_pairs`
    does.
    """
    rows_per_band = num_hashes // bands
    new_sigs = minhash_signatures(new_docs, num_hashes, n, seed,
                                  portable=portable)
    banded_all = _band_signatures(
        existing_sigs.select("doc_id", "sig"), bands, rows_per_band, portable
    ).withColumn("is_new", F.lit(False)).unionByName(
        _band_signatures(new_sigs, bands, rows_per_band, portable)
        .withColumn("is_new", F.lit(True))
    )
    return _verified(
        _minhash_bucket_pairs(banded_all, max_bucket_size, new_col="is_new"),
        num_hashes, threshold, persist)


def minhash_dedup_pairs_incremental_sql(
        new_docs_pred: str, threshold: float = 0.8, num_hashes: int = 64,
        bands: int = 16, n: int = 3, seed: int = 0,
        max_bucket_size: int = 100_000,
        source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of :func:`minhash_dedup_pairs_incremental`.

    ``source_sql`` is the FULL corpus (old ∪ new) and ``new_docs_pred``
    a SQL boolean template with a ``{d}`` placeholder for a doc_id
    expression (e.g. ``"{d} LIKE 'dup_%'"``) marking the new docs. The
    twin is the full-recompute pipeline restricted to candidate pairs
    with >= 1 new side — a DIFFERENT derivation from the engine's
    new-keyed join, so agreement pins the incremental algebra."""
    return minhash_dedup_pairs_sql(
        threshold=threshold, num_hashes=num_hashes, bands=bands, n=n,
        seed=seed, max_bucket_size=max_bucket_size, source_sql=source_sql,
        new_docs_pred=new_docs_pred,
    )


def minhash_dedup_pairs_sql(threshold: float = 0.8, num_hashes: int = 64,
                            bands: int = 16, n: int = 3, seed: int = 0,
                            max_bucket_size: int = 100_000,
                            source_sql: str = "SELECT * FROM documents",
                            new_docs_pred: str | None = None) -> str:
    """DuckDB oracle twin of ``minhash_dedup_pairs(..., portable=True)``.

    Reproduces the ENTIRE pipeline value-exactly in pure SQL: md5-u64 gram
    hash, per-remix splitmix64 (wrap-64 multiplies via HUGEINT splitting),
    signed min per (doc, k), band bucketing on the comma-joined value
    string, hot-bucket cap, candidate self-join, and the signature-agreement
    Jaccard estimate. Grams are DISTINCT here (min() is duplicate-
    insensitive, so values are identical to the kernel's non-distinct path).

    ``new_docs_pred`` (used via :func:`minhash_dedup_pairs_incremental_sql`)
    restricts candidates to pairs where >= 1 side satisfies the predicate.
    """
    rpb = num_hashes // bands
    cand_filter = ""
    if new_docs_pred is not None:
        pa = new_docs_pred.format(d="a.doc_id")
        pb = new_docs_pred.format(d="b.doc_id")
        cand_filter = f"\n  WHERE ({pa}) OR ({pb})"
    offs = ", ".join(
        f"({k}, CAST({splitmix_offset(seed * 1_000_003 + k)} AS UBIGINT))"
        for k in range(num_hashes)
    )
    return f"""
WITH {duckdb_tok_ctes(source_sql=source_sql)},
{duckdb_gram_cte(n, cte_name="grams_all")},
grams AS (SELECT DISTINCT doc_id, gram FROM grams_all),
gh AS (SELECT doc_id, {md5_u64_duckdb('gram')} AS g FROM grams),
offs(k, off) AS (VALUES {offs}),
remix AS (
  SELECT doc_id, k, {splitmix64_duckdb_select('g', 'off')},
         {u64_to_i64_duckdb('h', 'hs')}
  FROM gh CROSS JOIN offs
),
sig AS MATERIALIZED (SELECT doc_id, k, min(hs) AS m FROM remix GROUP BY doc_id, k),
banded AS (
  -- k < bands*rpb: when bands does not divide num_hashes, the leftover
  -- hashes belong to NO band (Spark slices exactly bands*rpb entries);
  -- without this bound the ragged tail formed a phantom band and emitted
  -- extra candidates (caught by the round-5 fuzz gate at k=7, bands=2)
  SELECT doc_id, k // {rpb} AS band,
         string_agg(CAST(m AS VARCHAR), ',' ORDER BY k) AS bucket
  FROM sig WHERE k < {bands * rpb} GROUP BY doc_id, k // {rpb}
),
ok_buckets AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket
  HAVING count(*) <= {max_bucket_size}
),
capped AS MATERIALIZED (SELECT banded.* FROM banded JOIN ok_buckets USING (band, bucket)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id{cand_filter}
),
agree AS (
  SELECT c.doc_a, c.doc_b,
         sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.k = sa.k
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_eq AS DOUBLE) / {num_hashes}, 6) AS est_jaccard
FROM agree
WHERE round(CAST(n_eq AS DOUBLE) / {num_hashes}, 6) >= {threshold}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", seed: int = 0,
                       portable: bool = False) -> DataFrame:
    """(doc_id, simhash long): sign-sum of token-hash bit columns.

    Scale posture: no raw-token shuffle — token hashes stay inside a
    per-row array (no explode at all), each Arrow batch emits per-doc
    partial bit-accumulators (64 longs per doc), and the groupBy sum
    merges them (sums are associative). The only shuffled rows are the
    O(docs) partials.

    Kernel: byte-histogram bit counting — for each of the 8 hash bytes,
    ONE ``bincount`` over (doc_code << 8 | byte_value) gives per-doc byte
    histograms, and a (256 x 8) bit-table matmul expands them to per-bit
    ones-counts; sign-sum = 2*ones - group_size. Measures ~50x faster than
    sort+unpackbits+reduceat and ~350x faster than 2D ``np.add.at`` at 5M
    tokens (all value-identical).

    ``portable=True`` swaps the JVM token hash from xxhash64 to md5-u64 so
    :func:`simhash_near_dup_pairs_sql` can pin the whole pipeline (splitmix
    remix, byte-histogram bit counting, sign-sum pack, chunk LSH) against a
    DuckDB oracle; the numpy kernel is identical on both paths."""
    tok_hash = md5_u64_spark if portable else F.xxhash64
    # Arrow shape (guide §4): token hashes cross as ONE array<long> per doc
    # (doc_id travels once per doc, not once per token); per-token hash
    # values are bit-identical to the exploded form. The word array
    # appears once as the transform input, so it is evaluated once per row.
    ths = F.transform(words(text_col), lambda t: tok_hash(t))
    doc_ths = spread_partitions(docs)[0].select(
        F.col(id_col).cast("string").alias("doc_id"), ths.alias("ths")
    )

    byte_bits = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
    ).astype(np.int64)  # (256, 8): bit j of byte value v

    def per_batch(batches):
        for batch in batches:
            raw, owner = flat(batch, "ths")
            if not len(raw):
                continue
            rows, codes, ksizes = np.unique(
                owner, return_inverse=True, return_counts=True
            )
            ndocs = len(rows)
            th = splitmix64(raw.view(np.uint64), seed)
            tb = th.view(np.uint8).reshape(-1, 8)  # little-endian bytes
            acc = np.empty((ndocs, 64), dtype=np.int64)
            base = codes << 8
            for byte in range(8):
                hist = np.bincount(
                    base + tb[:, byte], minlength=ndocs * 256
                ).reshape(ndocs, 256)
                acc[:, byte * 8:(byte + 1) * 8] = hist @ byte_bits
            acc = 2 * acc - ksizes[:, None]
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id").take(rows), list_rows(acc)],
                names=["doc_id", "acc"],
            )

    partial = doc_ths.mapInArrow(per_batch, schema="doc_id string, acc array<long>")
    # merge partials: sum bit-accumulators per doc, then re-pack. Each is ONE
    # parsed SQL expression, as in minhash_signatures: ~200 Column objects
    # would cost a py4j round trip each, for the same optimized plan
    sums = ", ".join(f"sum(acc[{i}])" for i in range(64))
    merged = partial.groupBy("doc_id").agg(F.expr(f"array({sums})").alias("acc"))
    bit = "CASE WHEN acc[{}] > 0 THEN 1 ELSE 0 END * {}"
    pack = " + ".join(
        ["0"] + [bit.format(i, 2**i if i < 63 else "-9223372036854775808L") for i in range(64)]
    )
    return merged.select("doc_id", F.expr(f"CAST({pack} AS BIGINT)").alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           text_col: str = "text", id_col: str = "doc_id",
                           seed: int = 0,
                           max_bucket_size: int = 100_000,
                           persist: bool = True,
                           portable: bool = False) -> DataFrame:
    """Near-dup pairs by hamming distance on simhash, LSH-bucketed on 16-bit
    chunks (a pair within hamming<=3 shares at least one of 4 chunks).

    ``max_bucket_size`` caps degenerate (chunk, val) buckets the same way as
    :func:`minhash_lsh_candidates` — drop, don't explode quadratically.
    ``persist`` caches the per-doc signature table across its 3 consumers
    (both join sides + the hot-bucket count); see minhash_dedup_pairs for
    the lifetime note."""
    sigs = simhash_signatures(docs, text_col, id_col, seed, portable=portable)
    persisted = []
    if persist:
        sigs = sigs.persist()
        persisted.append(sigs)
    chunks = sigs.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for c in range(4)
            ])
        ).alias("cv"),
    ).select("doc_id", "simhash", "cv.chunk", "cv.val")
    cand = _bucket_pairs(
        chunks, ["chunk", "val"], max_bucket_size, carry=("simhash",)
    ).distinct()
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    out = cand.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("doc_a", "doc_b", "hamming")
    return _attach_persisted(out, persisted)


def simhash_near_dup_pairs_sql(max_hamming: int = 3, seed: int = 0,
                               max_bucket_size: int = 100_000,
                               source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of ``simhash_near_dup_pairs(..., portable=True)``.

    Pure-SQL re-derivation of every step: md5-u64 token hash, splitmix64
    remix, per-bit sign-sums over token MULTISETS (duplicates count), the
    64-bit pack with bit 63 as the sign bit, 16-bit chunk LSH with the
    hot-bucket cap, candidate join, and exact hamming filter.
    """
    off = splitmix_offset(seed)
    bit_sums = ", ".join(
        f"sum(CAST((h >> {i}) & 1 AS BIGINT)) AS b{i}" for i in range(64)
    )
    # pack via HUGEINT so the +/- 2^63 term can't trip overflow checks
    pack_terms = " + ".join(
        f"(CASE WHEN 2*b{i} - n > 0 THEN CAST({2**i} AS HUGEINT) ELSE 0 END)"
        for i in range(63)
    )
    pack = (
        f"CAST({pack_terms}"
        f" - (CASE WHEN 2*b63 - n > 0 THEN CAST({2**63} AS HUGEINT) ELSE 0 END)"
        f" AS BIGINT)"
    )
    uns = ("CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT)"
           " + 18446744073709551616 ELSE CAST(simhash AS HUGEINT) END")
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest({words_sql('text')}) AS tok
  FROM ({source_sql})
),
th0 AS (SELECT doc_id, {md5_u64_duckdb('tok')} AS g FROM toks),
th AS (
  SELECT doc_id, {splitmix64_duckdb_select('g', f'CAST({off} AS UBIGINT)')}
  FROM th0
),
bits AS (SELECT doc_id, count(*) AS n, {bit_sums} FROM th GROUP BY doc_id),
sig AS MATERIALIZED (SELECT doc_id, {pack} AS simhash FROM bits),
chunks AS (
  SELECT doc_id, simhash, c,
         CAST(({uns} // p) % 65536 AS BIGINT) AS val
  FROM sig CROSS JOIN (VALUES (0, 1), (1, 65536), (2, 4294967296),
                              (3, 281474976710656)) cp(c, p)
),
ok_buckets AS (
  SELECT c, val FROM chunks GROUP BY c, val
  HAVING count(*) <= {max_bucket_size}
),
capped AS MATERIALIZED (SELECT chunks.* FROM chunks JOIN ok_buckets USING (c, val)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sig_a, b.simhash AS sig_b
  FROM capped a JOIN capped b
    ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
"""


# --------------------------------------------------------------------------
# embedding-cosine near-dup (exact pair form + banded-LSH pair form)
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Exact cosine pairs >= threshold (JVM-side zip_with/aggregate math).

    All-pairs O(N^2) join — the verification/oracle path only. The scale
    path is :func:`embedding_near_dup_pairs_lsh` below (banded hyperplane
    LSH -> equi-join -> exact re-rank)."""
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
    e = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        vd.alias("v"),
        norm.alias("nrm"),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .withColumn("cosine", F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            "cosine",
        )
    )


def embedding_near_dup_pairs_lsh(emb: DataFrame, threshold: float = 0.95,
                                 bands: int = 8, planes_per_band: int = 8,
                                 seed: int = 7, id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 max_bucket_size: int = 100_000,
                                 persist: bool = True) -> DataFrame:
    """Banded hyperplane-LSH embedding near-dup pairs — the scale path.

    ``bands`` independent sets of ``planes_per_band`` random hyperplanes
    (reusing similarity._hyperplanes, seeded -> deterministic). Two vectors
    at angle theta collide in one band with prob (1 - theta/pi)^p, so for
    cosine >= 0.95 (theta/pi ~ 0.1) and p=8 a band hits ~43% of the time and
    8 bands give ~99% recall. Candidates = equi-join on (band, bucket) with
    a hot-bucket cap; survivors are re-ranked with exact double-precision
    cosine, so precision is exact and only recall is approximate.

    vs :func:`embedding_near_dup_pairs`: O(N^2) all-pairs becomes
    O(N * bands) bucket rows + a bounded-fanout equi-join."""
    from cardinality_estimation_evaluation_framework_spark.operators.similarity import (
        _hyperplanes,
    )

    probe = emb.select(vec_col).where(F.col(vec_col).isNotNull()).head(1)
    if not probe:  # empty input -> empty pairs, correct schema
        return emb.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double")
    dim = len(probe[0][0])
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    powers = 1 << np.arange(planes_per_band, dtype=np.int64)

    @F.arrow_udf("array<long>")
    def band_keys(vs: pa.Array) -> pa.Array:
        lens = pc.list_value_length(vs).fill_null(dim).to_numpy()
        if (lens != dim).any():
            raise ValueError(
                f"embedding lengths {sorted(set(lens[lens != dim].tolist()))} "
                f"differ from the probed dim {dim}")
        vals, owner = flat(pa.RecordBatch.from_arrays([vs], ["v"]), "v")
        # a NULL vector, or one with a NULL element, gets NULL band keys,
        # so the posexplode drops it and it forms no pair
        full = np.bincount(owner, minlength=len(vs)) == dim
        mat = vals[full[owner]].astype(np.float64).reshape(-1, dim)
        signs = (mat @ planes.T) > 0                      # (n, bands*p)
        keys = signs.reshape(len(mat), bands, planes_per_band) @ powers
        offsets = np.r_[0, np.cumsum(full * bands)].astype(np.int32)
        return pa.ListArray.from_arrays(offsets, keys.ravel(), mask=pa.array(~full))

    vd = F.transform(vec_col, lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, x: a + x * x))
    # persist BEFORE the per-band explode: the banding UDF (the expensive
    # Arrow pass) then runs once, and the 3 consumers (hot-bucket count +
    # both join sides) replay only the cheap explode; see
    # minhash_dedup_pairs for the cache-lifetime note
    base = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        vd.alias("v"),
        norm.alias("nrm"),
        band_keys(F.col(vec_col)).alias("bks"),
    )
    persisted = []
    if persist:
        base = base.persist()
        persisted.append(base)
    # The band self-join is SLIM on purpose: only (vid, band, bucket)
    # rides the candidate shuffle, never the vector. The earlier shape
    # exploded v/nrm into every band row, so the equi-join shuffled
    # dim doubles x bands per vector on BOTH sides (at 1B x dim-768 x 8
    # bands that is ~50 TB of shuffle where ~25 GB of keys suffices) and
    # computed the dot product once per COLLIDING BAND before a distinct.
    # Now: distinct (vec_a, vec_b) candidates first — 16-byte rows, one
    # dot per pair — then two vid-keyed joins pull v/nrm back for the
    # exact re-rank, moving each vector once per surviving candidate.
    e = base.select(F.col("vid").alias("doc_id"),
                    F.posexplode("bks").alias("band", "bucket"))
    cand = (
        _bucket_pairs(e, ["band", "bucket"], max_bucket_size)
        .distinct()
        .toDF("vec_a", "vec_b")
    )
    va = base.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    vb = base.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("_na") * F.col("_nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return _attach_persisted(out, persisted)


# --------------------------------------------------------------------------
# connected components: near-dup PAIRS -> dup CLUSTERS -> dedup'd corpus
# --------------------------------------------------------------------------

# Oriented edges (two per pair) up to which connected_components labels the
# graph on the driver; see its docstring for the sizing.
_CC_DRIVER_MAX_EDGES = 400_000


def _cc_label_on_driver(a: np.ndarray, b: np.ndarray, max_iter: int):
    """The distributed rounds below, in numpy over the oriented edge
    arrays: (node ids, rep ids, rounds, round_secs). Nodes are coded by
    ``np.unique`` (sorted, so the min code is the min id), then each round
    takes the min over each node's own and neighbor labels and pointer-
    jumps, until no label changes."""
    nodes, codes = np.unique(np.concatenate([a, b]), return_inverse=True)
    src, dst = codes[: len(a)], codes[len(a):]
    label = np.arange(len(nodes))
    round_secs: list[tuple[float, float]] = []
    for rounds in range(1, max_iter + 1):
        t0 = time.time()
        new = label.copy()
        np.minimum.at(new, src, label[dst])
        new = new[new]  # pointer jump
        changed = np.count_nonzero(new != label)
        label = new
        round_secs.append((time.time() - t0, 0.0))
        if changed == 0:
            return nodes, nodes[label], rounds, round_secs
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(raise max_iter)")


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """(doc_id, rep): connected components over an undirected pair list,
    rep = MIN member id per component — turns near-dup PAIRS (minhash /
    simhash / embedding LSH output) into dup CLUSTERS so a corpus can keep
    one representative per cluster.

    Algorithm: minimum-label propagation. Each node starts labeled with
    itself; every iteration each node takes the min of its own label and
    its neighbors' labels, then POINTER-JUMPS (label := label[label]):
    path doubling turns O(diameter) convergence into O(log diameter), so
    even chain-shaped components (the worst case for plain propagation)
    converge in ~log2(n) rounds — pinned by the 300-node chain test.
    ``max_iter`` bounds pathological cases; hitting it raises rather than
    returning a half-converged clustering. The rounds used and their
    (propagate+jump, count) seconds are exposed on the result as
    ``_cc_rounds`` and ``_cc_round_secs``.

    Small graphs (the common case: near-dup pairs are a sliver of the
    corpus) are solved on the DRIVER. The oriented edges are persisted,
    and at most ``_CC_DRIVER_MAX_EDGES + 1`` of them are fetched through
    Arrow: one Spark job, plus one in which AQE fills the edge cache when
    the input is not a local relation. If they all fit, the rounds run in
    numpy and the labels come back as a one-partition local DataFrame. The
    cap (200k pairs) keeps the
    driver's copy of the id strings to tens of MB, small next to driver
    memory, while every distributed round costs two Spark jobs of
    scheduling and planning however tiny the graph is.

    Above the cap, the rounds run distributed over the same cached edges:
    per round, ONE equi-join (edges x labels, shuffle keyed on node id —
    AQE broadcasts the label side while it is small) + one groupBy-min
    with map-side combine, then the pointer jump as one label self-join.
    Labels are localCheckpoint()ed each round so the iterative lineage
    never deepens (no exponential re-execution, no stack-overflow plans —
    the same pattern GraphX uses). Convergence is detected with a count of
    changed labels (O(1) result per round).
    """
    p = (
        pairs.select(F.col(src).cast("string").alias("a"),
                     F.col(dst).cast("string").alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    # undirected: both orientations from ONE scan of the pair pipeline (an
    # explode, not a self-union — a union's two legs each re-run the
    # upstream pair generator the first time the cache materializes).
    # No pre-distinct: duplicate pairs only add rows that the propagate
    # groupBy collapses anyway, and dropping it removes a shuffle of the
    # pair stream per CC call.
    edges = p.select(
        F.explode(F.array(
            F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
            F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
        )).alias("e")
    ).select("e.a", "e.b").persist()
    head = edges.limit(_CC_DRIVER_MAX_EDGES + 1).toPandas()
    if len(head) <= _CC_DRIVER_MAX_EDGES:
        edges.unpersist()
        nodes, reps, rounds, round_secs = _cc_label_on_driver(
            head["a"].to_numpy(), head["b"].to_numpy(), max_iter)
        # one partition: the labels are driver-sized, and a count or
        # groupBy over them then needs no shuffle
        out = pairs.sparkSession.createDataFrame(
            pd.DataFrame({"doc_id": nodes, "rep": reps}),
            "doc_id string, rep string").coalesce(1)
        out._cc_rounds = rounds  # type: ignore[attr-defined]
        out._cc_round_secs = round_secs  # type: ignore[attr-defined]
        return out
    del head  # the distributed rounds below read the cached edges
    labels = None  # the identity map, never materialized (see round 1)
    rounds = 0
    round_secs: list[tuple[float, float]] = []  # (propagate+jump, count)
    for _ in range(max_iter):
        rounds += 1
        t0 = time.time()
        if rounds == 1:
            # labels are the identity map before round 1: the node set is
            # exactly edges' a-side (both orientations present), each
            # node's own label is itself, and its neighbor labels ARE the
            # edge endpoints — so round 1 needs NO label table at all and
            # no edges⋈labels join; both the identity row and the neighbor
            # row come from ONE scan of edges (explode again, so the not-
            # yet-cached edge pipeline is not computed once per union leg).
            # Duplicate (a, a, a) rows collapse in the groupBy. This folds
            # the former labels-setup job (distinct + localCheckpoint)
            # into the first propagate.
            both = edges.select(
                F.col("a").alias("n"),
                F.explode(F.array(
                    F.struct(F.col("a").alias("label"),
                             F.col("a").alias("old")),
                    F.struct(F.col("b").alias("label"),
                             F.lit(None).cast("string").alias("old")),
                )).alias("s"),
            ).select("n", "s.label", "s.old")
        else:
            neighbor = (
                edges.join(labels.select("n", "label"),
                           edges["b"] == labels["n"])
                .select(F.col("a").alias("n"), "label")
            )
            # carry each node's pre-round label ("old") through the
            # pipeline: every node appears exactly once on the labels
            # side, so min/max aggregate it back out and the convergence
            # check below becomes a shuffle-free filter over the
            # checkpointed result instead of a join job per round.
            both = labels.select("n", "label", F.col("label").alias("old")).union(
                neighbor.select(
                    "n", "label", F.lit(None).cast("string").alias("old"))
            )
        propagated = both.groupBy("n").agg(
            F.min("label").alias("label"), F.max("old").alias("old")
        )
        # pointer jump (path doubling): label := label[label]. Labels are
        # node ids, every node id is present in the label table, and
        # label[m] <= m — so one self-join halves remaining chain depth.
        lmap = propagated.select(
            F.col("n").alias("_ln"), F.col("label").alias("_ll")
        )
        new_labels = (
            propagated.join(lmap, propagated["label"] == lmap["_ln"], "left")
            .select("n", F.coalesce("_ll", "label").alias("label"), "old")
            .localCheckpoint()  # cut lineage (eager: materializes here)
        )
        t1 = time.time()
        if rounds == 1 and max_iter > 1:
            # an edge (a, b) with a != b always lowers max(a, b)'s label,
            # so round 1 can only converge on an empty/self-loop edge set —
            # and then every later job is a no-op over a tiny cached frame.
            # Skip the count; round 2 performs the first real convergence
            # check. (With max_iter == 1 there is no round 2, so count now
            # rather than raise a spurious non-convergence error.)
            changed = -1
        else:
            changed = new_labels.where(F.col("label") != F.col("old")).count()
        round_secs.append((t1 - t0, time.time() - t1))
        if labels is not None:
            labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(raise max_iter)")
    edges.unpersist()
    out = labels.select(F.col("n").alias("doc_id"), F.col("label").alias("rep"))
    out._cc_rounds = rounds  # type: ignore[attr-defined]
    out._cc_round_secs = round_secs  # type: ignore[attr-defined]
    return out


def connected_components_sql(pairs_sql: str, src: str = "doc_a",
                             dst: str = "doc_b") -> str:
    """DuckDB oracle twin of :func:`connected_components`: transitive
    closure by recursive CTE (min reachable id per node). ``pairs_sql`` is
    any query producing the pair list (e.g. minhash_dedup_pairs_sql).

    ``AS MATERIALIZED`` on pairs/edges is load-bearing: DuckDB inlines
    plain CTEs, so without it the whole pair pipeline would be re-planned
    inside the recursive step and re-executed per recursion depth
    (observed: minutes instead of seconds on the 10x corpus)."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT CAST({src} AS VARCHAR) AS a, CAST({dst} AS VARCHAR) AS b FROM pairs
  UNION
  SELECT CAST({dst} AS VARCHAR), CAST({src} AS VARCHAR) FROM pairs
),
reach(n, r) AS (
  SELECT a, a FROM (SELECT a FROM edges UNION SELECT b FROM edges)
  UNION
  SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.n
)
SELECT n AS doc_id, min(r) AS rep FROM reach GROUP BY n
"""


def dedup_keep_representatives(docs: DataFrame, clusters: DataFrame,
                               id_col: str = "doc_id") -> DataFrame:
    """Drop every clustered doc except its representative (left-anti join
    against the non-rep members — docs in no cluster pass through)."""
    drop = clusters.where(F.col("doc_id") != F.col("rep")).select(
        F.col("doc_id").alias("_drop_id")
    )
    return docs.join(
        drop, docs[id_col].cast("string") == drop["_drop_id"], "left_anti"
    )


def dedup_keep_best(docs: DataFrame, clusters: DataFrame, score_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the HIGHEST-``score_col`` member of each dup cluster instead of
    the min-id representative (ties broken by min id for determinism) —
    what a production pipeline wants when docs carry a quality score.

    Plan: clusters is O(clustered docs) — tiny next to the corpus — so the
    winner per cluster comes from one groupBy max_by over the scored
    cluster members, and the corpus pays one left-anti join against the
    losers. Docs in no cluster pass through untouched.

    NULL scores rank below every real score (coalesced to -inf), so a
    cluster whose members are ALL unscored still keeps exactly one doc
    (the min-id member) instead of silently keeping everyone.
    """
    ids = docs.select(
        F.col(id_col).cast("string").alias("_cid"),
        F.coalesce(
            F.col(score_col).cast("double"), F.lit(float("-inf"))
        ).alias("_score"),
    )
    members = clusters.join(ids, clusters["doc_id"] == ids["_cid"]).select(
        "rep", "doc_id", "_score"
    )
    winner = members.groupBy("rep").agg(F.max("_score").alias("best_score"))
    best = (
        members.join(winner, "rep")
        .where(F.col("_score") == F.col("best_score"))
        .groupBy("rep")
        .agg(F.min("doc_id").alias("keep_id"))  # deterministic tie-break
    )
    losers = (
        members.join(best, "rep")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("doc_id").alias("_drop_id"))
    )
    return docs.join(
        losers, docs[id_col].cast("string") == losers["_drop_id"], "left_anti"
    )


# --------------------------------------------------------------------------
# Exact substring-span dedup (rolling-window method)
# --------------------------------------------------------------------------

def dup_span_stats(docs: DataFrame, window: int = 6, min_docs: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   block_size: int = 4096) -> DataFrame:
    """Exact duplicate-substring detection: per-doc coverage by W-word
    windows that occur verbatim in >= ``min_docs`` DISTINCT documents.

    The distributed equivalent of suffix-array exact substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): any shared substring of length >= 2W-1 words is guaranteed
    to contain a shared W-window, and every shared W-window marks a real
    W-word verbatim match, so W-window coverage is a tight proxy for
    long-match coverage. Reference repo has no analogue (dedup family is
    brief-driven, like dedup.py's other operators).

    Output, one row per doc with >= 1 duplicated window:
      (doc_id, n_dup_windows, n_spans, dup_tokens, n_tok, dup_frac)
    where n_spans counts maximal merged runs of overlapping duplicated
    windows, dup_tokens the number of token positions covered by at
    least one duplicated window, and dup_frac = dup_tokens / n_tok.

    Scale posture (100 TB): windows are fingerprinted with xxhash64
    BEFORE any shuffle, so both aggregations and the join-back move
    8-byte keys, never gram strings; dup detection is a two-level
    groupBy ((fp, doc) then fp — map-side combine absorbs intra-doc
    repeats); span merging is a pure-Catalyst sorted fold per doc — no
    window function, no explosion of covered positions. Intra-doc-only
    repeats are ignored here (see with_repetition_stats for those).

    The sorted fold is BLOCK-WISE: duplicated-window starts are first
    folded within fixed ``block_size``-position blocks of the doc
    (each block array <= block_size entries), then the per-block
    summaries — O(n_tok / block_size) structs — are merged with a
    second fold that re-scores only the cross-block boundary gap.
    Merged-interval coverage is a function of consecutive start gaps
    alone, so the two-level fold is exact; a 10M-token doc now peaks
    at a 32 KB block array plus ~2.4k 40-byte block summaries instead
    of one 80 MB array row.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if block_size < 1:
        raise ValueError("block_size must be >= 1")
    # n_tok is computed BELOW the generate on purpose: if size(w) sat in
    # the same select as the explode, ExtractGenerator would hoist it into
    # a Project ABOVE the Generate, forcing the full word array `w` into
    # the Generate's requiredChildOutput — copied into every one of the
    # n_tok output rows, O(doc^2) bytes. A 400k-token doc took 187 s that
    # way; with n_tok as a plain 8-byte attribute it is ~4 s and linear.
    doc = docs.select(
        F.col(id_col).cast("string").alias("doc_id"), words(text_col).alias("w")
    ).select("doc_id", F.size("w").alias("n_tok"), "w")
    wins = doc.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.transform(
                gram_starts(F.col("n_tok"), window),
                lambda i: F.struct(
                    i.alias("pos"),
                    # hash the W word columns directly (xxhash64 chains its
                    # inputs seed-wise, so word boundaries stay significant)
                    # instead of concatenating a gram string per window —
                    # the fp is internal, only window EQUALITY matters, and
                    # this skips one O(W-word) string alloc per window on
                    # both passes over `wins`
                    F.xxhash64(
                        *[F.element_at("w", i + (j + 1)) for j in range(window)]
                    ).alias("fp"),
                ),
            )
        ).alias("win"),
    ).select("doc_id", "n_tok", F.col("win.pos").alias("pos"), F.col("win.fp").alias("fp"))
    per_doc = wins.groupBy("fp", "doc_id").agg(F.count("*").alias("cnt"))
    dup_fps = (
        per_doc.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    hits = wins.join(dup_fps, "fp").select("doc_id", "n_tok", "pos")
    w_ = window
    # fold merged-interval coverage: prev starts at -(W+1) so the first
    # window always contributes a full W and opens a span
    zero = F.struct(
        F.lit(-(w_ + 1)).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("tok"),
        F.lit(0).cast("long").alias("spans"),
    )
    fold_step = lambda acc, s: F.struct(  # noqa: E731
        s.cast("long").alias("prev"),
        (acc["tok"] + F.least(F.lit(w_), s - acc["prev"])).alias("tok"),
        (
            acc["spans"] + F.when(s - acc["prev"] > w_, 1).otherwise(0)
        ).alias("spans"),
    )
    # level 1: fold within fixed-position blocks (arrays <= block_size)
    per_block_raw = hits.groupBy(
        "doc_id", F.floor(F.col("pos") / block_size).alias("blk")
    ).agg(
        F.first("n_tok").alias("n_tok"),
        F.count("*").alias("cnt"),
        F.array_sort(F.collect_list("pos")).alias("starts"),
    )
    bfold = F.aggregate("starts", zero, fold_step)
    per_block = per_block_raw.select(
        "doc_id",
        "n_tok",
        "cnt",
        F.struct(
            F.col("blk").alias("blk"),
            F.element_at("starts", 1).cast("long").alias("first"),
            F.element_at("starts", -1).cast("long").alias("last"),
            bfold["tok"].alias("tok"),
            bfold["spans"].alias("spans"),
        ).alias("summary"),
    )
    # level 2: merge block summaries in block order; only the boundary
    # gap (prev block's last start -> this block's first start) is
    # re-scored — within-block pair gaps are already in summary.tok
    per = per_block.groupBy("doc_id").agg(
        F.first("n_tok").alias("n_tok"),
        F.sum("cnt").alias("n_dup_windows"),
        F.array_sort(F.collect_list("summary")).alias("blocks"),
    )
    merge = F.aggregate(
        "blocks",
        zero,
        lambda acc, b: F.struct(
            b["last"].alias("prev"),
            (
                acc["tok"] + b["tok"] - w_
                + F.least(F.lit(w_), b["first"] - acc["prev"])
            ).alias("tok"),
            (
                acc["spans"] + b["spans"] - 1
                + F.when(b["first"] - acc["prev"] > w_, 1).otherwise(0)
            ).alias("spans"),
        ),
    )
    return per.select(
        "doc_id",
        "n_dup_windows",
        merge["spans"].alias("n_spans"),
        merge["tok"].alias("dup_tokens"),
        "n_tok",
        F.round(merge["tok"] / F.col("n_tok"), 6).alias("dup_frac"),
    )


def dup_span_stats_sql(window: int = 6, min_docs: int = 2,
                       source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of dup_span_stats — deliberately a DIFFERENT
    derivation: groups by raw gram text (no fingerprint), computes
    coverage by DISTINCT-counting exploded covered positions, and span
    count via a lag() window — vs Spark's hash-grouped sorted fold.
    Gram construction is the linear explode+sliding-window form
    (text.duckdb_gram_cte) so a 1M-token doc costs 1M window steps, not
    10^12 list-slice touches."""
    w1 = window - 1
    return f"""
WITH {duckdb_tok_ctes(source_sql=source_sql)},
{duckdb_gram_cte(window, cte_name="wins")},
wins_m AS MATERIALIZED (SELECT * FROM wins),
dup AS (
  SELECT gram FROM wins_m GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {min_docs}
),
hits AS MATERIALIZED (
  SELECT doc_id, pos, n_tok FROM wins_m WHERE gram IN (SELECT gram FROM dup)
),
cover AS (
  SELECT DISTINCT doc_id, p
  FROM (SELECT doc_id, unnest(generate_series(pos, pos + {w1})) AS p FROM hits)
),
cov AS (SELECT doc_id, count(*) AS dup_tokens FROM cover GROUP BY doc_id),
spans AS (
  SELECT doc_id,
         count(*) AS n_dup_windows,
         count(*) FILTER (WHERE prev IS NULL OR pos - prev > {window}) AS n_spans,
         any_value(n_tok) AS n_tok
  FROM (
    SELECT doc_id, pos, n_tok,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM hits
  )
  GROUP BY doc_id
)
SELECT s.doc_id AS doc_id, n_dup_windows, n_spans, dup_tokens, n_tok,
       round(CAST(dup_tokens AS DOUBLE) / n_tok, 6) AS dup_frac
FROM spans s JOIN cov USING (doc_id)
"""


def filter_dup_spans(docs: DataFrame, max_dup_frac: float = 0.5,
                     window: int = 6, min_docs: int = 2,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop docs whose duplicated-span coverage exceeds ``max_dup_frac``
    (the pipeline-filter composition of dup_span_stats): left-anti join
    against the offender id set, original columns untouched."""
    offenders = (
        dup_span_stats(docs, window=window, min_docs=min_docs,
                       text_col=text_col, id_col=id_col)
        .where(F.col("dup_frac") > max_dup_frac)
        .select(F.col("doc_id").alias("_off_id"))
    )
    return docs.join(
        offenders, docs[id_col].cast("string") == offenders["_off_id"], "left_anti"
    )


# --------------------------------------------------------------------------
# Cross-source overlap matrix (leakage audit)
# --------------------------------------------------------------------------

def source_overlap_matrix(docs: DataFrame, n: int = 3, text_col: str = "text",
                          source_col: str = "source") -> DataFrame:
    """Pairwise n-gram overlap between sources: the train/eval leakage
    audit. One row per source pair (source_a < source_b) with the shared
    distinct-gram count, each side's distinct-gram count, and Jaccard.

    Scale posture (100 TB): distinct (source, gram) is reduced to
    (source, xxhash64 fingerprint) BEFORE the distinct shuffle, so both
    the dedup and the self-join move 8-byte keys; join fan-out per
    fingerprint is bounded by the number of sources holding it (k), so
    the worst gram costs k^2 rows — no skew beyond k. For corpora where
    even distinct fingerprints per source are too hot, the sketch path
    is `sql_sketch.hll_registers_sql` grouped by source + pairwise
    union estimates (set_ops) — this exact form is the audit/oracle.
    """
    doc = docs.select(F.col(source_col).cast("string").alias("source"),
                      words(text_col).alias("w"))
    g = doc.select(
        "source",
        F.explode(
            F.transform(
                gram_starts(F.size("w"), n),
                # hash the n word columns directly — no gram string alloc;
                # the fp is internal (only gram equality matters) and
                # xxhash64 chains inputs seed-wise, keeping boundaries
                # significant
                lambda i: F.xxhash64(
                    *[F.element_at("w", i + (j + 1)) for j in range(n)]
                ),
            )
        ).alias("fp"),
    ).distinct()
    sizes = g.groupBy("source").agg(F.count("*").alias("n_grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_grams").alias("ga"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_grams").alias("gb"))
    return (
        inter.join(sa, "source_a").join(sb, "source_b")
        .select(
            "source_a", "source_b", "n_common", "ga", "gb",
            F.round(F.col("n_common") / (F.col("ga") + F.col("gb") - F.col("n_common")), 6)
            .alias("jaccard"),
        )
    )


def source_overlap_matrix_sql(n: int = 3,
                              source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of source_overlap_matrix — groups raw gram
    text (no fingerprints), so an xxhash64 collision on the Spark side
    would surface as a gate mismatch."""
    return f"""
WITH {duckdb_tok_ctes(key_expr="CAST(source AS VARCHAR)", key_name="source",
                      source_sql=source_sql)},
{duckdb_gram_cte(n, cte_name="grams_all", key_name="source")},
grams AS MATERIALIZED (SELECT DISTINCT source, gram FROM grams_all),
sizes AS MATERIALIZED (SELECT source, count(*) AS n_grams FROM grams GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_common, sa.n_grams AS ga, sb.n_grams AS gb,
       round(CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""


# --------------------------------------------------------------------------
# Winnowing near-dup pairs (MOSS-style fingerprint overlap)
# --------------------------------------------------------------------------

def winnow_near_dup_pairs(docs: DataFrame, k: int = 3, w: int = 4,
                          min_shared: int = 2,
                          max_bucket_size: int = 100_000,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate candidate pairs via shared winnowing fingerprints
    (the MOSS detector): docs sharing >= ``min_shared`` distinct
    fingerprints, with the shared count. Deterministic — no banding
    randomness — and carries winnowing's guarantee: any pair sharing a
    run of >= k+w-1 words shares at least one fingerprint.

    Scale posture (100 TB): the LSH candidate join (:func:`_bucket_pairs`)
    on fingerprints — distinct (doc, fp) shuffles on 8-byte fps,
    degenerate hot fingerprints (boilerplate) dropped before the
    self-join so a fingerprint shared by H docs costs at most
    min(H, cap)^2 pairs.
    """
    fps = (
        winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
        .select("doc_id", "fp")
        .distinct()
    )
    return (
        _bucket_pairs(fps, ["fp"], max_bucket_size)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_near_dup_pairs_sql(k: int = 3, w: int = 4, min_shared: int = 2,
                              max_bucket_size: int = 100_000,
                              source_sql: str = "SELECT * FROM documents",
                              ) -> str:
    """DuckDB twin of :func:`winnow_near_dup_pairs` (same cap rule)."""
    inner = winnow_fingerprints_sql(k=k, w=w, source_sql=source_sql)
    return f"""
WITH fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM ({inner})),
sizes AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
kept AS MATERIALIZED (SELECT fps.doc_id, fps.fp FROM fps JOIN sizes USING (fp)
         WHERE c <= {int(max_bucket_size)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {int(min_shared)}
"""


def winnow_near_dup_pairs_incremental(new_docs: DataFrame,
                                      existing_fps: DataFrame,
                                      k: int = 3, w: int = 4,
                                      min_shared: int = 2,
                                      max_bucket_size: int = 100_000,
                                      text_col: str = "text",
                                      id_col: str = "doc_id",
                                      persist: bool = True) -> DataFrame:
    """Incremental winnowing near-dup for append-only corpora — the MOSS
    analogue of :func:`minhash_dedup_pairs_incremental`. Fingerprints are
    computed for ``new_docs`` ONLY and joined against a persisted
    fingerprint index ``existing_fps``: the distinct (doc_id, fp) table
    produced by ``winnow_fingerprints(old).select("doc_id",
    "fp").distinct()`` with the SAME k/w (typically written to parquet by
    the previous run — it is exactly what the full pipeline shuffles
    anyway, so the index costs nothing extra to keep).

    Returns exactly the pairs a full recompute over old ∪ new would emit
    that touch >= 1 new doc; old×old pairs were already reported by the
    run that built the index. Equivalence contract (pinned in pytest and
    by the winnow_incremental oracle row): pairs_full(old ∪ new) ==
    pairs_full(old) ∪ incremental(new, fps(old)).

    Scale posture: the expensive per-doc fingerprint selection runs over
    the new docs only; the hot-fingerprint cap is counted over the UNION
    table so cap decisions match the full run; only the (small) new-doc
    fingerprints probe the candidate join (:func:`_bucket_pairs` with
    ``new_col``), so an old×old fingerprint bucket never pairs
    internally. doc_ids must be unique across old ∪ new (append-only
    contract), and ``existing_fps`` must be distinct: each row counts
    as one shared fingerprint.
    """
    new_fps = (
        winnow_fingerprints(new_docs, k=k, w=w, text_col=text_col,
                            id_col=id_col)
        .select("doc_id", "fp")
        .distinct()
    )
    persisted = []
    if persist:
        new_fps = new_fps.persist()
        persisted.append(new_fps)
    all_fps = existing_fps.select("doc_id", "fp").withColumn(
        "is_new", F.lit(False)
    ).unionByName(new_fps.withColumn("is_new", F.lit(True)))
    # each pair with a new side comes out once per shared fingerprint, so
    # the per-pair count is the shared-fingerprint count with no distinct
    out = (
        _bucket_pairs(all_fps, ["fp"], max_bucket_size, new_col="is_new")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return _attach_persisted(out, persisted)


def winnow_near_dup_pairs_incremental_sql(
        new_docs_pred: str, k: int = 3, w: int = 4, min_shared: int = 2,
        max_bucket_size: int = 100_000,
        source_sql: str = "SELECT * FROM documents") -> str:
    """DuckDB oracle twin of :func:`winnow_near_dup_pairs_incremental`.

    ``source_sql`` is the FULL corpus (old ∪ new) and ``new_docs_pred``
    a SQL boolean template with a ``{{d}}`` placeholder marking new docs.
    The twin is the full-recompute pipeline restricted to pairs with
    >= 1 new side — a DIFFERENT derivation from the engine's new-keyed
    join, so agreement pins the incremental algebra."""
    full = winnow_near_dup_pairs_sql(
        k=k, w=w, min_shared=min_shared, max_bucket_size=max_bucket_size,
        source_sql=source_sql)
    pa = new_docs_pred.format(d="doc_a")
    pb = new_docs_pred.format(d="doc_b")
    return f"""
SELECT doc_a, doc_b, n_shared FROM ({full})
WHERE ({pa}) OR ({pb})
"""
