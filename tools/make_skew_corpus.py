"""Deterministic ADVERSARIALLY-SKEWED documents corpus at ~10x sf0.1 scale
(the round-5 verdict's ask #2): SCALE.md's skew column was an argument;
this corpus makes it a measurement and puts real pressure on every
_cap_hot_buckets path.

Hostile features, all deterministic functions of the doc index:
- SOURCE SKEW: source "hot" holds ~63% of all tokens (half the docs plus
  the giant doc); nine cold sources split the rest.
- GIANT DOC: one 1,000,000-token document (doc_id 9999999, source hot)
  built from 12,500 blocks of boilerplate + fresh zipf tokens — heavy
  intra-doc repetition for the Gopher stats, an 80x-average-length row
  for the block-wise dup_span fold, and a vocabulary spike for
  zipf_slope.
- BOILERPLATE: a fixed 10-word sentence in 90% of docs — a near-universal
  winnowing fingerprint, near-universal dup_span windows, and shared
  grams across every source pair.
- IDENTICAL DOCS: every 20th doc is the boilerplate sentence ALONE
  (2,500 byte-identical docs) — one degenerate minhash band bucket, one
  degenerate simhash value, a 2,500-doc exact-dup cluster.
- PLANTED NEAR-DUPS: every 50th doc gets a one-word-edit copy
  (doc_id 10000000 + i) so the LSH recall paths still have signal.
- ZIPF TOKENS: per-source zipf exponents differ (hot 1.20, cold
  1.25..1.65) so unigram_drift/zipf_slope see real distribution skew.

Pure numpy PCG64 with fixed seeds -> byte-identical parquet on re-run.

Usage: python tools/make_skew_corpus.py [out_dir]   (default .sfskew)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_DOCS = 50_000
GIANT_ID = 9_999_999
DUP_SHIFT = 10_000_000
BOILER = ("please accept our cookie policy and terms of service today"
          ).split()
VOCAB_CAP = 30_000
SEED = 20260818


def _zipf_tokens(rng: np.random.Generator, n: int, a: float) -> list[str]:
    z = np.minimum(rng.zipf(a, n), VOCAB_CAP)
    return [f"w{v}" for v in z]


def build_rows() -> tuple[list[int], list[str], list[str]]:
    rng = np.random.default_rng(SEED)
    ids: list[int] = []
    texts: list[str] = []
    sources: list[str] = []
    for i in range(N_DOCS):
        src = "hot" if i % 2 == 0 else f"s{i % 9 + 1}"
        if i % 20 == 0:
            words = list(BOILER)  # identical boilerplate-only doc
        else:
            a = 1.20 if src == "hot" else 1.25 + 0.05 * (i % 9)
            n_tok = 30 + (i % 40)
            words = _zipf_tokens(rng, n_tok, a)
            if i % 10 != 0:  # boilerplate in 90% of docs, mid-doc
                mid = len(words) // 2
                words = words[:mid] + list(BOILER) + words[mid:]
        text = " ".join(words)
        ids.append(i)
        texts.append(text)
        sources.append(src)
        if i % 50 == 0:
            ids.append(DUP_SHIFT + i)
            texts.append(text + " extra")
            sources.append(src)
    # the giant doc: 12,500 x (10 boiler + 70 fresh zipf) = 1M tokens
    grng = np.random.default_rng(SEED + 1)
    blocks = []
    for _ in range(12_500):
        blocks.extend(BOILER)
        blocks.extend(_zipf_tokens(grng, 70, 1.20))
    ids.append(GIANT_ID)
    texts.append(" ".join(blocks))
    sources.append("hot")
    return ids, texts, sources


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".sfskew")
    os.makedirs(out_dir, exist_ok=True)
    ids, texts, sources = build_rows()
    tbl = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(tbl, path, row_group_size=2_000)
    n_tok = sum(t.count(" ") + 1 for t in texts)
    hot_tok = sum(t.count(" ") + 1
                  for t, s in zip(texts, sources) if s == "hot")
    print(f"{path}: {len(ids)} docs, {n_tok} tokens "
          f"({hot_tok / n_tok:.0%} in source=hot), "
          f"{os.path.getsize(path) // 1024} KiB")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
