import numpy as np
import pytest
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)


@pytest.fixture(scope="module")
def docs_small(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------- text ----------------

def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("hello, world! 42",)], "text string")
    out = text.with_token_counts(df).collect()
    assert out[0]["n_tok_ws"] == 3
    assert out[1]["n_tok_ws"] == 3
    assert out[1]["n_tok_bpe"] == 5  # hello , world ! 42


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is here of course",),
            ("der hund und die katze ist das",),
            ("le chat et la mer est les amis",),
        ],
        "text string",
    )
    out = [r["lang_pred"] for r in text.with_lang_id(df).collect()]
    assert out == ["en", "de", "fr"]


def test_quality_score_bounds(docs_small):
    out = text.with_quality_score(docs_small).select("quality_score").collect()
    scores = [r["quality_score"] for r in out]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert any(s >= 0.75 for s in scores)  # synthetic docs are wordy


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [("1", "Hello  World"), ("2", "hello world"), ("3", "different")],
        "doc_id string, text string",
    )
    out = text.with_fingerprint(df).collect()
    fps = {r["doc_id"]: r["fingerprint"] for r in out}
    assert fps["1"] == fps["2"]  # normalization collapses case/whitespace
    assert fps["1"] != fps["3"]
    rolled = text.with_rolling_fingerprint(df, window=4).collect()
    assert all(r["rolling_fp"] is not None for r in rolled)


# ---------------- dedup ----------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [("1", "same text"), ("2", "Same   Text"), ("3", "unique")],
        "doc_id string, text string",
    )
    dups = dedup.exact_duplicates(df).collect()
    assert len(dups) == 1 and dups[0]["n_dups"] == 2 and dups[0]["keep_id"] == "1"
    kept = dedup.dedup_exact(df)
    assert kept.count() == 2


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [
            ("1", "the quick brown fox jumps over the lazy dog"),
            ("2", "the quick brown fox jumps over the lazy cat"),
            ("3", "completely different words entirely here now"),
        ],
        "doc_id string, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.4).collect()
    assert len(pairs) == 1
    assert {pairs[0]["doc_a"], pairs[0]["doc_b"]} == {"1", "2"}


def test_minhash_estimates_jaccard(spark):
    # two docs sharing ~75% of their 3-gram sets
    base = "w%d " * 40
    t1 = " ".join(f"w{i}" for i in range(40))
    t2 = " ".join(f"w{i}" for i in range(10, 50))
    df = spark.createDataFrame([("1", t1), ("2", t2)], "doc_id string, text string")
    exact = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()[0]["jaccard"]
    pairs = dedup.minhash_dedup_pairs(df, threshold=0.0, num_hashes=128, bands=32)
    est = pairs.collect()[0]["est_jaccard"]
    assert abs(est - exact) < 0.15


def test_minhash_lsh_finds_near_dups(docs_small):
    # duplicate a few docs with tiny edits; LSH must recover the pairs
    spark = docs_small.sparkSession
    some = docs_small.limit(5).select(
        F.concat(F.lit("copy_"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    orig = docs_small.limit(5).select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    both = orig.union(some)
    pairs = dedup.minhash_dedup_pairs(both, threshold=0.5, num_hashes=64, bands=16)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    hits = sum(
        1 for r in orig.collect()
        if (r["doc_id"], f"copy_{r['doc_id']}") in found or (f"copy_{r['doc_id']}", r["doc_id"]) in found
    )
    assert hits >= 4  # allow one probabilistic miss


def test_minhash_incremental_equals_full_recompute(spark):
    """Equivalence contract: pairs_full(old ∪ new) == pairs_full(old)
    ∪ incremental(new, sigs(old)) — with dup groups spanning the split
    (old-old, old-new, new-new) so each candidate class is exercised."""
    import random
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(24):
        body = " ".join(rng.choice(vocab) for _ in range(60))
        rows.append((f"d{i:02d}", body))
        if i % 3 == 0:  # plant a near-dup of every third doc
            rows.append((f"c{i:02d}", body + " tail"))
    # split: ids starting with 'c' plus the last third of originals = new
    new_ids = {d for d, _ in rows if d.startswith("c") or d >= "d16"}
    all_df = spark.createDataFrame(rows, "doc_id string, text string")
    old_df = all_df.where(~F.col("doc_id").isin(list(new_ids)))
    new_df = all_df.where(F.col("doc_id").isin(list(new_ids)))
    kw = dict(threshold=0.3, num_hashes=32, bands=8, n=3, seed=1)
    full = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
            for r in dedup.minhash_dedup_pairs(all_df, **kw).collect()}
    old_only = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
                for r in dedup.minhash_dedup_pairs(old_df, **kw).collect()}
    index = dedup.minhash_signatures(old_df, num_hashes=32, n=3, seed=1)
    inc = {(r["doc_a"], r["doc_b"], r["est_jaccard"])
           for r in dedup.minhash_dedup_pairs_incremental(
               new_df, index, **kw).collect()}
    assert full == old_only | inc
    # incremental must touch >= 1 new doc per pair and find some pairs
    assert inc and all(a in new_ids or b in new_ids for a, b, _ in inc)
    # and old×old pairs stay out of the incremental result
    assert not any(a not in new_ids and b not in new_ids for a, b, _ in inc)


def test_winnow_incremental_equals_full_recompute(spark):
    """Equivalence contract for the MOSS analogue: pairs_full(old ∪ new)
    == pairs_full(old) ∪ incremental(new, fps(old)) — dup groups span
    the split so old-old, old-new and new-new candidates all occur."""
    import random
    rng = random.Random(43)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(24):
        body = " ".join(rng.choice(vocab) for _ in range(50))
        rows.append((f"d{i:02d}", body))
        if i % 3 == 0:
            rows.append((f"c{i:02d}", body + " tail words here"))
    new_ids = {d for d, _ in rows if d.startswith("c") or d >= "d16"}
    all_df = spark.createDataFrame(rows, "doc_id string, text string")
    old_df = all_df.where(~F.col("doc_id").isin(list(new_ids)))
    new_df = all_df.where(F.col("doc_id").isin(list(new_ids)))
    kw = dict(k=3, w=4, min_shared=2)
    full = {(r["doc_a"], r["doc_b"], r["n_shared"])
            for r in dedup.winnow_near_dup_pairs(all_df, **kw).collect()}
    old_only = {(r["doc_a"], r["doc_b"], r["n_shared"])
                for r in dedup.winnow_near_dup_pairs(old_df, **kw).collect()}
    from cardinality_estimation_evaluation_framework_spark.operators.text import (
        winnow_fingerprints,
    )
    index = (winnow_fingerprints(old_df, k=3, w=4)
             .select("doc_id", "fp").distinct())
    inc = {(r["doc_a"], r["doc_b"], r["n_shared"])
           for r in dedup.winnow_near_dup_pairs_incremental(
               new_df, index, **kw).collect()}
    assert full == old_only | inc
    assert inc and all(a in new_ids or b in new_ids for a, b, _ in inc)
    assert not any(a not in new_ids and b not in new_ids for a, b, _ in inc)


def test_winnow_incremental_duckdb_twin(spark):
    """Incremental winnow vs the full-pipeline DuckDB twin with the
    new-docs predicate — pins the new-keyed join algebra value-exactly,
    including a cap tight enough to drop a hot fingerprint."""
    import duckdb
    import pandas as pd
    import pandas.testing as pdt
    import random
    rng = random.Random(9)
    vocab = [f"t{i}" for i in range(200)]
    rows = []
    for i in range(18):
        body = " ".join(rng.choice(vocab) for _ in range(35))
        rows.append((f"{i:03d}", body))
        if i % 2 == 0:
            rows.append((f"9{i:03d}", body + " zz yy xx"))
    all_df = spark.createDataFrame(rows, "doc_id string, text string")
    pred = "length({d}) = 4"
    new_df = all_df.where(F.length("doc_id") == 4)
    old_df = all_df.where(F.length("doc_id") != 4)
    from cardinality_estimation_evaluation_framework_spark.operators.text import (
        winnow_fingerprints,
    )
    index = (winnow_fingerprints(old_df, k=3, w=4)
             .select("doc_id", "fp").distinct())
    kw = dict(k=3, w=4, min_shared=2, max_bucket_size=6)
    got = (dedup.winnow_near_dup_pairs_incremental(new_df, index, **kw)
           .toPandas().sort_values(["doc_a", "doc_b"])
           .reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = (con.execute(dedup.winnow_near_dup_pairs_incremental_sql(
        new_docs_pred=pred, **kw)).df()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)
    assert len(got) > 0


def test_minhash_incremental_duckdb_twin(spark):
    """Portable-mode incremental vs the full-pipeline DuckDB twin with the
    new-docs predicate — pins the new-keyed join algebra value-exactly."""
    import duckdb
    import pandas as pd
    import random
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(300)]
    rows = []
    for i in range(20):
        body = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((f"{i:03d}", body))
        if i % 2 == 0:
            rows.append((f"9{i:03d}", body + " zz"))
    all_df = spark.createDataFrame(rows, "doc_id string, text string")
    pred = "length({d}) = 4"  # new docs = the '9'-prefixed copies
    old_df = all_df.where(F.length("doc_id") != 4)
    new_df = all_df.where(F.length("doc_id") == 4)
    kw = dict(threshold=0.3, num_hashes=16, bands=4, n=2, seed=0)
    index = dedup.minhash_signatures(
        old_df, num_hashes=16, n=2, seed=0, portable=True)
    got = (dedup.minhash_dedup_pairs_incremental(
        new_df, index, portable=True, **kw).toPandas()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = (con.execute(dedup.minhash_dedup_pairs_incremental_sql(
        new_docs_pred=pred, **kw)).df()
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    import pandas.testing as pdt
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)
    assert len(got) > 0


def test_simhash_near_dups(spark):
    t1 = " ".join(f"tok{i}" for i in range(200))
    t2 = t1 + " tail"
    t3 = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(
        [("1", t1), ("2", t2), ("3", t3)], "doc_id string, text string"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    assert bin(sigs["1"] ^ sigs["2"]).count("1") < bin(sigs["1"] ^ sigs["3"]).count("1")
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=5).collect()
    assert any({p["doc_a"], p["doc_b"]} == {"1", "2"} for p in pairs)


def test_portable_minhash_matches_duckdb_twin(docs_small):
    """The portable-hash pipeline must match its DuckDB SQL twin
    VALUE-EXACTLY — this pins the numpy splitmix64/min-scatter kernel,
    banding, hot-cap and verification against an independent engine
    (the correctness-gate rows minhash_dedup/simhash_near_dup run the
    same comparison at sf0.01; this keeps it in the suite)."""
    import duckdb

    spark = docs_small.sparkSession
    docs = docs_small.limit(40).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    copies = docs.limit(6).select(
        F.concat(F.lit("dup_"), F.col("doc_id")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    both = docs.union(copies)
    pdf = both.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)

    spark_mh = (
        dedup.minhash_dedup_pairs(
            both, threshold=0.4, num_hashes=32, bands=8, portable=True,
            persist=False,
        )
        .toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    duck_mh = (
        con.sql(dedup.minhash_dedup_pairs_sql(threshold=0.4, num_hashes=32, bands=8))
        .df().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    assert len(spark_mh) > 0
    assert spark_mh[["doc_a", "doc_b"]].values.tolist() == duck_mh[["doc_a", "doc_b"]].values.tolist()
    assert np.allclose(spark_mh["est_jaccard"], duck_mh["est_jaccard"], atol=0)

    spark_sh = (
        dedup.simhash_near_dup_pairs(both, max_hamming=12, portable=True,
                                     persist=False)
        .toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    duck_sh = (
        con.sql(dedup.simhash_near_dup_pairs_sql(max_hamming=12))
        .df().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    )
    assert len(spark_sh) > 0
    assert spark_sh.values.tolist() == duck_sh.values.tolist()


def test_unpersist_intermediates_releases_cache(docs_small):
    pairs = dedup.minhash_dedup_pairs(
        docs_small.limit(10), threshold=0.9, num_hashes=16, bands=4
    )
    pairs.count()
    # the signatures and the verified pairs
    assert dedup.unpersist_intermediates(pairs) == 2
    assert dedup.unpersist_intermediates(pairs) == 0  # idempotent


def test_connected_components_known_graph(spark):
    """Chain + star + isolated pair -> min-id reps; convergence needs
    diameter rounds (chain of 4 exercises >1 iteration)."""
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "4"),          # chain, rep "1"
         ("10", "11"), ("10", "12"), ("10", "13"),     # star, rep "10"
         ("21", "20")],                                # pair, rep "20"
        "doc_a string, doc_b string",
    )
    cc = {r["doc_id"]: r["rep"] for r in dedup.connected_components(pairs).collect()}
    assert cc == {"1": "1", "2": "1", "3": "1", "4": "1",
                  "10": "10", "11": "10", "12": "10", "13": "10",
                  "20": "20", "21": "20"}


def test_connected_components_matches_duckdb_closure(spark):
    """Random graph: Spark label propagation == DuckDB recursive-CTE
    transitive closure (engine-independent oracle)."""
    import random

    import duckdb

    rng = random.Random(9)
    edges = [(str(rng.randrange(300)), str(rng.randrange(300))) for _ in range(250)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    got = {
        r["doc_id"]: r["rep"]
        for r in dedup.connected_components(pairs, max_iter=60).collect()
    }
    con = duckdb.connect()
    import pandas as pd
    con.register("edge_input", pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    want = {
        n: r for n, r in con.sql(
            dedup.connected_components_sql("SELECT * FROM edge_input")
        ).fetchall()
    }
    assert got == want


def test_connected_components_chain_log_rounds(spark):
    """A 300-node CHAIN (worst case for plain propagation: diameter 299)
    must converge in ~log2(n) rounds thanks to pointer jumping — plain
    neighbor propagation would need 299 rounds and trip max_iter."""
    edges = [(str(i), str(i + 1)) for i in range(299)]
    pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
    cc = dedup.connected_components(pairs, max_iter=20)
    rows = cc.collect()
    assert {r["rep"] for r in rows} == {"0"}  # one component, min-id rep
    assert len(rows) == 300
    # ~log2(300) + convergence-detection rounds (measured 14), not 299
    assert cc._cc_rounds <= 16, cc._cc_rounds


def test_dedup_keep_best(spark):
    """Quality-aware dedup: the highest-scoring member of each cluster
    survives (ties -> min id); unclustered docs pass through."""
    docs = spark.createDataFrame(
        [("a", 0.2), ("b", 0.9), ("c", 0.9), ("d", 0.5), ("z", 0.1)],
        "doc_id string, quality double",
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")],
        "doc_id string, rep string",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_best(docs, clusters, "quality").collect()
    )
    # cluster {a,b,c}: b and c tie at 0.9 -> min id "b"; singleton {d}
    # keeps itself; "z" unclustered passes through
    assert kept == ["b", "d", "z"]


def test_dedup_keep_best_null_scores(spark):
    """NULL scores rank below real scores; an all-NULL cluster still
    collapses to one (min-id) member instead of keeping everyone."""
    docs = spark.createDataFrame(
        [("a", None), ("b", 0.4), ("c", None), ("p", None), ("q", None)],
        "doc_id string, quality double",
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("p", "p"), ("q", "p")],
        "doc_id string, rep string",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_keep_best(docs, clusters, "quality").collect()
    )
    # {a,b,c}: only b is scored -> b; {p,q}: all NULL -> min id p
    assert kept == ["b", "p"]


def test_connected_components_hot_node_star(spark):
    """Skew shape: one hub connected to 30k leaves (the boilerplate-dup
    pattern at corpus scale). The per-round edge-label join keys on the
    node id, so the hub's edges all hash to one partition — AQE skew-join
    splitting keeps this from serializing, and the star converges in a
    couple of rounds regardless of fanout."""
    n = 30_000
    edges = spark.range(1, n).select(
        F.lit("hub").alias("doc_a"),
        F.concat(F.lit("leaf_"), F.col("id")).alias("doc_b"),
    )
    cc = dedup.connected_components(edges, max_iter=10)
    rows = cc.groupBy("rep").count().collect()
    assert len(rows) == 1 and rows[0]["count"] == n  # hub + n-1 leaves
    assert rows[0]["rep"] == "hub"  # "hub" < "leaf_*" lexicographically
    assert cc._cc_rounds <= 4, cc._cc_rounds


@pytest.mark.parametrize("graph_test", [
    test_connected_components_known_graph,
    test_connected_components_matches_duckdb_closure,
    test_connected_components_chain_log_rounds,
    test_connected_components_hot_node_star,
], ids=["known_graph", "duckdb_closure", "chain", "hot_star"])
def test_connected_components_distributed_rounds(spark, monkeypatch, graph_test):
    """The four graph tests above run under the default driver cap, so
    they label on the driver; with the cap at 0 the same graphs take the
    distributed rounds."""
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    graph_test(spark)


def test_connected_components_small_graph_runs_one_job(spark):
    """Under the cap, a local input clusters in one Spark job: the Arrow
    fetch of the edges. The labels come back as a local frame."""
    pairs = spark.createDataFrame(
        [(str(i), str(i + 1)) for i in range(50)] + [("x", "y")],
        "doc_a string, doc_b string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-small-graph", "cc-small-graph")
    try:
        cc = dedup.connected_components(pairs)
        jobs = sc.statusTracker().getJobIdsForGroup("cc-small-graph")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 1, jobs
    reps = {r["doc_id"]: r["rep"] for r in cc.collect()}
    assert reps == {**{str(i): "0" for i in range(51)}, "x": "x", "y": "x"}


def test_dedup_keep_representatives(docs_small):
    spark = docs_small.sparkSession
    docs = docs_small.limit(10).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    copies = docs.select(
        F.concat(F.lit("dup_"), F.col("doc_id")).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"))
    both = docs.union(copies)
    pairs = dedup.minhash_dedup_pairs(both, threshold=0.5, num_hashes=32,
                                      bands=8, persist=False)
    clusters = dedup.connected_components(pairs)
    kept = dedup.dedup_keep_representatives(both, clusters)
    n_kept = kept.count()
    n_clustered = clusters.count()
    n_reps = clusters.select("rep").distinct().count()
    # every cluster collapses to one kept doc
    assert n_kept == both.count() - (n_clustered - n_reps)
    assert n_kept < both.count()  # the planted dups actually collapsed


def test_simhash_partition_invariance(spark):
    t = " ".join(f"tok{i % 37}" for i in range(500))
    df1 = spark.createDataFrame([("1", t)], "doc_id string, text string").repartition(1)
    df8 = spark.createDataFrame([("1", t)], "doc_id string, text string").repartition(8)
    s1 = dedup.simhash_signatures(df1).collect()[0]["simhash"]
    s8 = dedup.simhash_signatures(df8).collect()[0]["simhash"]
    assert s1 == s8


def test_embedding_near_dup(emb):
    pairs = dedup.embedding_near_dup_pairs(emb.limit(200), threshold=0.99)
    for r in pairs.collect():
        assert r["cosine"] >= 0.99


def test_embedding_near_dup_lsh_recall(spark):
    """The banded-LSH pair path (the scale path) recovers planted near-dups
    found by the exact all-pairs operator, with exact precision (survivors
    are re-ranked with exact cosine)."""
    rng = np.random.RandomState(4)
    base = rng.normal(size=(40, 16))
    rows = []
    vid = 0
    for i in range(40):
        rows.append((vid, [float(x) for x in base[i]])); vid += 1
        if i % 4 == 0:  # plant a near-duplicate: tiny perturbation
            rows.append((vid, [float(x) for x in base[i] + rng.normal(scale=0.01, size=16)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_near_dup_pairs(df, threshold=0.98).collect()
    }
    lsh_rows = dedup.embedding_near_dup_pairs_lsh(
        df, threshold=0.98, bands=8, planes_per_band=8, seed=7
    ).collect()
    lsh = {(r["vec_a"], r["vec_b"]) for r in lsh_rows}
    assert len(exact) >= 10  # the planted dups are found by the exact path
    # precision is exact by construction; recall high by the band math
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9, (len(lsh), len(exact))
    for r in lsh_rows:
        assert r["cosine"] >= 0.98


# ---------------- similarity ----------------

def test_brute_force_topk(emb):
    q = emb.select("embedding").first()[0]
    top = similarity.brute_force_topk(emb, list(q), k=5).collect()
    assert len(top) == 5
    assert abs(top[0]["cosine"] - 1.0) < 1e-4  # the query vector itself
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]


def test_lsh_topk_recall(emb):
    q = list(emb.select("embedding").first()[0])
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()}
    # 4 planes = 16 buckets over ~500 vectors: bucket granularity matched to
    # corpus size (at 100 TB you'd use 16+ planes; recall scales with probes)
    bucketed = similarity.with_lsh_bucket(emb, n_planes=4, seed=7)
    approx = {r["vec_id"] for r in similarity.lsh_topk(bucketed, q, k=10, n_planes=4, seed=7).collect()}
    assert len(exact & approx) >= 5  # recall@10 >= 0.5 with multiprobe


def test_ivf_topk_recall(emb):
    q = list(emb.select("embedding").first()[0])
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()}
    with_cell, cents = similarity.ivf_assign(emb, n_centroids=8, seed=3)
    approx = {r["vec_id"] for r in similarity.ivf_topk(with_cell, cents, q, k=10, n_probe=3).collect()}
    assert len(exact & approx) >= 5


# ---------------- multimodal ----------------

def test_multimodal_plumbing(docs_small):
    media = multimodal.synthesize_media_df(docs_small.limit(50))
    feats = multimodal.extract_features(media, fake=True, feature_dim=8)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)


def test_multimodal_decode_stub_raises(docs_small):
    media = multimodal.synthesize_media_df(docs_small.limit(2))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_features(media, fake=False).collect()


def test_video_frame_sampling(docs_small):
    media = multimodal.synthesize_media_df(docs_small.limit(5), modality="video")
    frames = multimodal.sample_video_frames(media, every_nth=1, fake=True).collect()
    assert len(frames) >= 5
    assert all(0 <= r["ts_fraction"] < 1 for r in frames)


# ---------------- heavy hitters ----------------

def test_heavy_hitters_exact_and_countmin(spark):
    from cardinality_estimation_evaluation_framework_spark.operators.frequency_ops import (
        heavy_hitters_countmin,
        heavy_hitters_exact,
    )

    # skewed stream: item i has ~1/(i+1) share
    items = spark.range(50_000).select(
        F.pmod(F.pow(F.col("id") % 1000, F.lit(0.5)).cast("long"), F.lit(40)).alias("item")
    ).cache()
    items.count()
    top = heavy_hitters_exact(items, k=5).collect()
    assert len(top) == 5
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]
    cnts = [r["cnt"] for r in top]
    assert cnts == sorted(cnts, reverse=True)

    n = items.count()
    phi = top[-1]["cnt"] / n  # threshold at the 5th hitter's share
    hh = {r["item"]: r["est_cnt"] for r in
          heavy_hitters_countmin(items, phi=phi, width=8192, depth=4).collect()}
    # no false negatives: every exact top-5 item survives the CM filter
    for r in top:
        assert r["item"] in hh
        assert hh[r["item"]] >= r["cnt"]  # CM never undercounts


# ---------------- decontamination ----------------

def test_decontam_exact_and_bloom(docs_small):
    """Exact overlap vs Bloom scale path: bloom is a superset (no false
    negatives), and with a roomy filter (FP ~ 1e-5) the two agree exactly
    on this corpus; planted benchmark docs flag as fully contaminated."""
    from cardinality_estimation_evaluation_framework_spark.operators import (
        decontam,
    )

    docs = docs_small.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    bench = docs.where(F.col("doc_id").cast("long") % 7 == 0)

    n = 5
    exact = {
        r["doc_id"]: r
        for r in decontam.ngram_overlap_exact(docs, bench, n=n).collect()
    }
    kernel = decontam.bloom_kernel(m=1 << 22, k=4, seed=3)
    state = decontam.build_benchmark_bloom(bench, n=n, kernel=kernel)
    bloom = {
        r["doc_id"]: r
        for r in decontam.flag_contaminated_bloom(
            docs, state, kernel, n=n).collect()
    }
    assert set(exact) == set(bloom)
    fp_extra = 0
    for d, er in exact.items():
        br = bloom[d]
        assert br["n_grams"] == er["n_grams"], d
        assert br["n_hits"] >= er["n_hits"], d       # no false negatives
        fp_extra += br["n_hits"] - er["n_hits"]
    total_grams = sum(r["n_grams"] for r in exact.values())
    # classic FP bound (1 - e^{-kn/m})^k with wide slack for variance
    import math
    n_bench = int(
        decontam.word_ngrams(bench, n).select("gram").distinct().count())
    fp_rate = (1 - math.exp(-4 * n_bench / float(1 << 22))) ** 4
    assert fp_extra <= max(5, 20 * fp_rate * total_grams), (fp_extra, fp_rate)
    # benchmark members are 100% contaminated against themselves
    for d, er in exact.items():
        if int(d) % 7 == 0:
            assert er["n_hits"] == er["n_grams"] and er["contaminated"], d


def test_bloom_build_skips_distinct_and_partition_probe(spark, monkeypatch):
    """Bloom inserts are idempotent, so building over every gram hash,
    repeats included, gives the registers of the distinct-then-probe
    build byte for byte; the build makes no getNumPartitions() probe."""
    from cardinality_estimation_evaluation_framework_spark.operators import (
        aggregate as agg,
        decontam,
    )

    phrase = "the quick brown fox jumps over the lazy dog"
    bench = spark.createDataFrame(
        [(f"b{i}", f"{phrase} {phrase} extra{i % 3} {phrase}") for i in range(12)],
        "doc_id string, text string",
    ).repartition(3)
    kernel = decontam.bloom_kernel(m=1 << 16, k=3, seed=5)
    n = 4
    items = (
        decontam._gram_hash_arrays(bench, n, "text", "doc_id")
        .select(F.explode("ghs").alias("item"))
    )
    distinct = items.distinct()
    assert items.count() > distinct.count()  # grams repeat
    want = agg.sketch(
        distinct, kernel,
        input_partitions=max(1, min(8, distinct.rdd.getNumPartitions())),
    )

    def probe(self):
        raise AssertionError("probed the partition count")

    monkeypatch.setattr(type(bench), "rdd", property(probe))
    got = decontam.build_benchmark_bloom(bench, n=n, kernel=kernel)
    assert got["registers"].tobytes() == want["registers"].tobytes()
    assert got["registers"].any()


def test_decontam_exact_matches_duckdb(docs_small):
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        decontam,
    )

    docs = docs_small.limit(60).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    bench = docs.where(F.col("doc_id").cast("long") % 5 == 0)
    got = (
        decontam.ngram_overlap_exact(docs, bench, n=4)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.sql(decontam.ngram_overlap_exact_sql(
        n=4,
        source_sql="SELECT * FROM documents",
        bench_sql="SELECT * FROM documents WHERE CAST(doc_id AS BIGINT) % 5 = 0",
    )).df().sort_values("doc_id").reset_index(drop=True)
    assert got[["doc_id", "n_grams", "n_hits"]].values.tolist() == \
        want[["doc_id", "n_grams", "n_hits"]].values.tolist()
    assert got["contaminated"].tolist() == want["contaminated"].tolist()


# ---------------- mixing / PII ----------------

def test_deterministic_sample_reproducible_and_matches_duckdb(docs_small):
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    docs = docs_small.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source")
    fracs = {"src0": 0.5, "src1": 0.25, "src2": 0.9}
    a = mixing.deterministic_sample(docs, fracs, seed=7, default_fraction=0.1)
    b = mixing.deterministic_sample(
        docs.repartition(13), fracs, seed=7, default_fraction=0.1)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b and 0 < len(ids_a) < docs.count()
    # seed changes the sample
    ids_c = sorted(
        r["doc_id"] for r in mixing.deterministic_sample(
            docs, fracs, seed=8, default_fraction=0.1).collect())
    assert ids_a != ids_c
    # value-exact vs DuckDB twin
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        r[0] for r in con.sql(mixing.deterministic_sample_sql(
            fracs, seed=7, default_fraction=0.1)).fetchall())
    assert ids_a == want
    # observed rates track the requested fractions
    rates = {
        r["source"]: r["n"]
        for r in a.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for g, p in fracs.items():
        obs = rates.get(g, 0) / totals[g]
        assert abs(obs - p) < 0.35, (g, obs, p)  # small per-group counts


def test_deterministic_sample_join_path_identical(docs_small):
    """The broadcast-join fraction lookup (auto beyond _CASE_CHAIN_MAX
    groups) keeps the IDENTICAL row set as the CASE chain, has the same
    columns, and actually broadcasts."""
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    docs = docs_small.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source")
    fracs = {"src0": 0.5, "src1": 0.25, "src2": 0.9}
    big = dict(fracs, **{f"pad{i}": 0.37 for i in range(80)})
    assert len(big) > mixing._CASE_CHAIN_MAX
    by_case = mixing.deterministic_sample(
        docs, big, seed=7, default_fraction=0.1, use_join=False)
    by_join = mixing.deterministic_sample(
        docs, big, seed=7, default_fraction=0.1)  # auto -> join
    assert by_join.columns == docs.columns
    plan = by_join._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:800]
    ids_case = sorted(r["doc_id"] for r in by_case.collect())
    ids_join = sorted(r["doc_id"] for r in by_join.collect())
    assert ids_case == ids_join and ids_join
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        r[0] for r in con.sql(mixing.deterministic_sample_sql(
            big, seed=7, default_fraction=0.1)).fetchall())
    assert ids_join == want
    # empty map + use_join=True degrades to the default-fraction filter
    none_kept = mixing.deterministic_sample(
        docs, {}, seed=7, default_fraction=0.0, use_join=True)
    assert none_kept.count() == 0


def test_scrub_pii_and_duckdb_twin(spark):
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    rows = [
        ("1", "mail me at alice.smith+x@example.com or bob@test.org thanks"),
        ("2", "call +1 (555) 123-4567 from 10.0.0.1 today"),
        ("3", "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in mixing.scrub_pii(df, out_col="scrubbed").collect()}
    assert out["1"]["n_pii_email"] == 2
    assert "<EMAIL>" in out["1"]["scrubbed"]
    assert "alice" not in out["1"]["scrubbed"].split("<EMAIL>")[0] + ""
    assert out["2"]["n_pii_phone"] == 1 and out["2"]["n_pii_ipv4"] == 1
    assert "<PHONE>" in out["2"]["scrubbed"] and "<IP>" in out["2"]["scrubbed"]
    assert out["3"]["scrubbed"] == rows[2][1]
    # DuckDB twin agreement on counts and scrubbed text
    con = duckdb.connect()
    import pandas as pd
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    ex = mixing.scrub_pii_sql()
    want = con.sql(
        f"SELECT doc_id, {ex['n_pii_email']} AS e, {ex['n_pii_phone']} AS p,"
        f" {ex['n_pii_ipv4']} AS i, {ex['scrubbed']} AS s FROM t"
    ).fetchall()
    for doc_id, e, p, i, s in want:
        r = out[doc_id]
        assert (e, p, i) == (r["n_pii_email"], r["n_pii_phone"], r["n_pii_ipv4"]), doc_id
        assert s == r["scrubbed"], doc_id


def test_repetition_stats_and_duckdb_twin(spark):
    import duckdb
    import pandas as pd

    rows = [
        ("1", "spam spam spam spam spam"),               # max repetition
        ("2", "all words here are fully distinct ones"), # none
        ("3", "ab cd ab cd ab cd xy"),                   # heavy top bigram
        ("4", ""),                                       # degenerate
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in text.with_repetition_stats(df).collect()}
    assert out["1"]["word_rep_frac"] == 0.8       # 1 - 1/5
    assert out["1"]["top_bigram_frac"] == 1.0     # all bigrams "spam spam"
    assert out["2"]["word_rep_frac"] == 0.0
    assert out["3"]["top_bigram_frac"] == pytest.approx(3 / 6, abs=1e-6)
    assert out["4"]["word_rep_frac"] == 0.0 and out["4"]["top_bigram_frac"] == 0.0
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.sql(text.repetition_stats_sql()).df()
    for _, w in want.iterrows():
        for col in ("word_rep_frac", "top_bigram_frac", "top_trigram_frac",
                    "top_quadgram_frac", "dup_line_frac", "dup_para_frac"):
            assert out[w["doc_id"]][col] == pytest.approx(w[col], abs=1e-9), col


def test_repetition_stats_lines_and_paragraphs(spark):
    """Duplicate-line / duplicate-paragraph fractions (full Gopher rule
    set): blank-line paragraph split, non-blank line filter, and the
    3/4-gram top fractions."""
    import duckdb
    import pandas as pd

    rows = [
        ("1", "line a\nline b\nline a\n\nline c"),        # 1 dup line of 4
        ("2", "para one here\n\npara two here\n\n\npara one here"),  # dup para
        ("3", "x y z x y z x y z"),                       # strong 3-gram
        ("4", "no newlines at all"),
        ("5", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in text.with_repetition_stats(df).collect()}
    assert out["1"]["dup_line_frac"] == pytest.approx(0.25, abs=1e-6)
    assert out["1"]["dup_para_frac"] == 0.0  # paragraphs "a\nb\na" vs "c"
    assert out["2"]["dup_para_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["3"]["top_trigram_frac"] == pytest.approx(3 / 7, abs=1e-6)
    assert out["3"]["top_quadgram_frac"] == pytest.approx(2 / 6, abs=1e-6)
    assert out["4"]["dup_line_frac"] == 0.0
    assert all(out["5"][c] == 0.0 for c in (
        "word_rep_frac", "top_bigram_frac", "top_trigram_frac",
        "top_quadgram_frac", "dup_line_frac", "dup_para_frac"))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.sql(text.repetition_stats_sql()).df()
    for _, w in want.iterrows():
        for col in ("word_rep_frac", "top_bigram_frac", "top_trigram_frac",
                    "top_quadgram_frac", "dup_line_frac", "dup_para_frac"):
            assert out[w["doc_id"]][col] == pytest.approx(w[col], abs=1e-9), (
                w["doc_id"], col)


def test_word_ngrams_short_and_empty_docs(spark):
    """Docs with fewer than n words yield NO grams (previously crashed:
    sequence(0,-1) is descending and slice(start=0) throws)."""
    df = spark.createDataFrame(
        [("1", ""), ("2", "one"), ("3", "two words"), ("4", "three word doc")],
        "doc_id string, text string",
    )
    out = dedup.word_ngrams(df, n=3).collect()
    assert {r["doc_id"] for r in out} == {"4"}
    # and the LSH pipeline survives such docs end-to-end
    assert dedup.minhash_dedup_pairs(df, num_hashes=16, bands=4,
                                     persist=False).count() == 0


# ---------------- round-5 ADVICE regressions ----------------

def test_lang_id_null_text_deterministic(spark):
    """NULL text scores coalesce to 0 on BOTH engines -> first sorted
    language, not NULL (Spark) / last language (DuckDB) — ADVICE r4."""
    import duckdb

    df = spark.createDataFrame([("1", None), ("2", "the cat and the dog")],
                               "doc_id string, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(df).collect()}
    first_lang = sorted(text.LANG_MARKERS)[0]
    assert got["1"] == first_lang
    assert got["2"] == "en"
    con = duckdb.connect()
    con.register("d", df.toPandas())
    want = dict(con.sql(
        f"SELECT doc_id, {text.lang_id_sql('text')} AS lang_pred FROM d"
    ).fetchall())
    assert want == got


def test_block_mean_resize_upsampling_no_zero_fill():
    """Inputs smaller than the target gather real pixels (nearest) instead
    of zero-filling unowned bins — ADVICE r4."""
    from cardinality_estimation_evaluation_framework_spark.functions import (
        png_codec as pc,
    )

    tiny = np.full((2, 3), 200.0)
    out = pc.block_mean_resize(tiny, 8, 8)
    assert out.shape == (8, 8)
    assert (out == 200.0).all()  # every cell averages real pixels
    # mixed direction: shrink rows, grow cols
    rect = np.arange(12, dtype=float).reshape(6, 2)
    out2 = pc.block_mean_resize(rect, 3, 4)
    assert out2.shape == (3, 4) and (out2 > 0).all()
    # pure downsampling path unchanged: exact block means
    quad = np.array([[0.0, 2.0], [4.0, 6.0]])
    assert pc.block_mean_resize(quad, 1, 1)[0, 0] == 3.0


def test_decontam_short_docs_get_zero_rows(spark):
    """Docs with < n words appear with n_grams=0 / contaminated=false in
    the exact path, the Bloom path, AND the DuckDB twin — ADVICE r4."""
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        decontam,
    )

    df = spark.createDataFrame(
        [("1", "tiny"), ("2", "benchmark sentence with many shared words here"),
         ("3", ""), ("4", "benchmark sentence with many shared words here too")],
        "doc_id string, text string",
    )
    bench = df.where(F.col("doc_id") == "2")
    got = {r["doc_id"]: r for r in
           decontam.ngram_overlap_exact(df, bench, n=4).collect()}
    assert set(got) == {"1", "2", "3", "4"}
    for short_id in ("1", "3"):
        assert got[short_id]["n_grams"] == 0
        assert got[short_id]["n_hits"] == 0
        assert got[short_id]["contaminated"] is False
    assert got["2"]["contaminated"] is True

    kernel = decontam.bloom_kernel(m=1 << 16, k=3, seed=5)
    state = decontam.build_benchmark_bloom(bench, n=4, kernel=kernel)
    bloom = {r["doc_id"]: r for r in decontam.flag_contaminated_bloom(
        df, state, kernel, n=4).collect()}
    assert set(bloom) == {"1", "2", "3", "4"}
    assert bloom["1"]["n_grams"] == 0 and bloom["1"]["contaminated"] is False
    # join-free mode keeps the r3 contract: gram-less docs absent
    lean = {r["doc_id"] for r in decontam.flag_contaminated_bloom(
        df, state, kernel, n=4, include_gramless=False).collect()}
    assert lean == {"2", "4"}

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = {r[0]: r for r in con.sql(decontam.ngram_overlap_exact_sql(
        n=4, source_sql="SELECT * FROM documents",
        bench_sql="SELECT * FROM documents WHERE doc_id = '2'",
    )).fetchall()}
    assert set(want) == {"1", "2", "3", "4"}
    for did, row in got.items():
        assert want[did][1] == row["n_grams"] and want[did][2] == row["n_hits"]


def test_decode_stub_unsupported_variant_raises_seam_error():
    """A payload whose header magic matches but whose variant the codec
    rejects surfaces the DOCUMENTED NotImplementedError, never a raw
    ValueError — ADVICE r4."""
    import struct as _struct

    # hand-rolled RIFF/WAVE header claiming 24-bit PCM (width wav_decode
    # rejects) with a data chunk
    fmt = _struct.pack("<HHIIHH", 1, 1, 16_000, 16_000 * 3, 3, 24)
    body = b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", 6) + b"\x00" * 6
    payload = b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    from cardinality_estimation_evaluation_framework_spark.functions import (
        wav_codec,
    )
    assert wav_codec.is_wav(payload)
    with pytest.raises(NotImplementedError, match="unsupported"):
        multimodal.decode_stub(payload, "audio", fake=False)


def test_deterministic_sample_sql_escapes_quotes(spark):
    """Group values containing single quotes survive the SQL twin —
    ADVICE r4 (o'reilly injection)."""
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    df = spark.createDataFrame(
        [(str(i), "o'reilly" if i % 2 else "plain") for i in range(40)],
        "doc_id string, source string",
    )
    fracs = {"o'reilly": 0.5, "plain": 0.25}
    ids = sorted(r["doc_id"] for r in
                 mixing.deterministic_sample(df, fracs, seed=3).collect())
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = sorted(r[0] for r in con.sql(
        mixing.deterministic_sample_sql(fracs, seed=3)).fetchall())
    assert ids == want and len(ids) > 0


# ---------------- exact substring-span dedup ----------------

def _brute_dup_spans(rows, window, min_docs=2):
    """Pure-Python reference: per-doc coverage by W-windows shared across
    >= min_docs distinct docs."""
    import re
    toks = {d: [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]
            for d, t in rows}
    wins = {}  # gram -> set(doc)
    starts = {}  # doc -> [pos]
    for d, ws in toks.items():
        for i in range(len(ws) - window + 1):
            g = " ".join(ws[i:i + window])
            wins.setdefault(g, set()).add(d)
    dup = {g for g, ds in wins.items() if len(ds) >= min_docs}
    out = {}
    for d, ws in toks.items():
        pos = [i for i in range(len(ws) - window + 1)
               if " ".join(ws[i:i + window]) in dup]
        if not pos:
            continue
        covered = set()
        spans = 0
        prev = None
        for p in pos:
            covered.update(range(p, p + window))
            if prev is None or p - prev > window:
                spans += 1
            prev = p
        out[d] = (len(pos), spans, len(covered), len(ws),
                  round(len(covered) / len(ws), 6))
    return out


def test_dup_span_stats_matches_bruteforce(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog and runs far away"),
        ("b", "yesterday the quick brown fox jumps over the lazy dog ran home"),
        ("c", "unrelated text with no shared windows at all in this doc"),
        ("d", "the quick brown fox jumps over the lazy dog and runs far away"),
        ("e", "two islands the quick brown fox jumps apart over the lazy dog and runs far away end"),
        ("f", "tiny"),
        ("g", None),
        ("h", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    for window in (3, 4, 6):
        got = {
            r["doc_id"]: (r["n_dup_windows"], r["n_spans"], r["dup_tokens"],
                          r["n_tok"], round(r["dup_frac"], 6))
            for r in dedup.dup_span_stats(df, window=window).collect()
        }
        assert got == _brute_dup_spans(rows, window), f"window={window}"


def test_dup_span_stats_duckdb_twin_randomized(spark):
    import random
    import duckdb
    import pandas as pd
    rng = random.Random(77)
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(30):
        n = rng.randint(0, 25)
        rows.append((str(i), " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for window in (2, 3, 5):
        got = (dedup.dup_span_stats(df, window=window).toPandas()
               .sort_values("doc_id").reset_index(drop=True))
        want = (con.execute(dedup.dup_span_stats_sql(window=window)).df()
                .sort_values("doc_id").reset_index(drop=True))
        import pandas.testing as pdt
        for c in ("n_dup_windows", "n_spans", "dup_tokens", "n_tok"):
            got[c] = got[c].astype("int64")
            want[c] = want[c].astype("int64")
        pdt.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_dup_span_min_docs_ignores_intra_doc_repeats(spark):
    # "x y z x y z" repeats its own 2-window but shares nothing cross-doc
    df = spark.createDataFrame(
        [("a", "x y z x y z"), ("b", "totally different words here")],
        "doc_id string, text string",
    )
    assert dedup.dup_span_stats(df, window=2).count() == 0
    # min_docs=1 is degenerate by the distinct-doc contract: EVERY window
    # qualifies (count(distinct doc) >= 1 always), so coverage is total
    got = {r["doc_id"]: r["dup_frac"]
           for r in dedup.dup_span_stats(df, window=2, min_docs=1).collect()}
    assert got["a"] == 1.0 and got["b"] == 1.0


def test_filter_dup_spans(spark):
    rows = [
        ("a", "shared shingle run one two three four five six seven"),
        ("b", "shared shingle run one two three four five six seven"),
        ("c", "independent words that appear nowhere else in the corpus"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    kept = {r["doc_id"] for r in
            dedup.filter_dup_spans(df, max_dup_frac=0.5, window=4).collect()}
    assert kept == {"c"}
    # threshold above coverage keeps everyone
    kept_all = dedup.filter_dup_spans(df, max_dup_frac=1.0, window=4).count()
    assert kept_all == 3


def test_dup_span_window_one_and_bad_window(spark):
    df = spark.createDataFrame(
        [("a", "apple banana"), ("b", "banana cherry")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["dup_tokens"]
           for r in dedup.dup_span_stats(df, window=1).collect()}
    assert out == {"a": 1, "b": 1}  # only 'banana' is shared
    with pytest.raises(ValueError):
        dedup.dup_span_stats(df, window=0)


def test_dup_span_blockwise_fold_giant_doc(spark):
    # A giant doc must NOT materialize one array row of all its dup-window
    # starts: the block-wise fold (block_size) keeps per-row arrays bounded.
    # Exactness check: tiny block_size (worst boundary pressure — every
    # block holds ~1-2 starts) == default == brute force, on a doc whose
    # duplicated windows form runs that straddle block boundaries.
    import random
    rng = random.Random(9)
    shared = "lorem ipsum dolor sit amet consectetur adipiscing elit".split()
    body = []
    for _ in range(400):
        if rng.random() < 0.3:
            body.extend(shared)  # duplicated run (shared with doc b)
        body.append(f"u{rng.randrange(10_000)}")  # unique filler
    rows = [("giant", " ".join(body)),
            ("b", " ".join(shared * 3)),
            ("c", "no overlap here whatsoever in this tiny doc")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    want = _brute_dup_spans(rows, window=4)
    for bs in (7, 64, 4096):
        got = {
            r["doc_id"]: (r["n_dup_windows"], r["n_spans"], r["dup_tokens"],
                          r["n_tok"], round(r["dup_frac"], 6))
            for r in dedup.dup_span_stats(df, window=4,
                                          block_size=bs).collect()
        }
        assert got == want, f"block_size={bs}"
    with pytest.raises(ValueError):
        dedup.dup_span_stats(df, window=4, block_size=0)


def test_dup_span_partition_invariant(docs_small):
    docs = docs_small.limit(120)
    a = dedup.dup_span_stats(docs, window=5).toPandas()
    b = dedup.dup_span_stats(docs.repartition(17), window=5).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    import pandas.testing as pdt
    pdt.assert_frame_equal(a, b)


def test_source_overlap_matrix(spark):
    rows = [
        ("1", "alpha beta gamma delta epsilon zeta", "A"),
        ("2", "beta gamma delta foo bar baz", "B"),
        ("3", "alpha beta gamma delta epsilon eta", "A"),
        ("4", "nothing shared here at all folks", "C"),
        ("5", None, "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = {(r["source_a"], r["source_b"]): r
           for r in dedup.source_overlap_matrix(df, n=2).collect()}
    # A-grams: {alpha beta, beta gamma, gamma delta, delta epsilon,
    #           epsilon zeta, epsilon eta} (6); B: 5; shared: beta gamma,
    #           gamma delta (2). C shares nothing -> absent row = zero.
    assert set(out) == {("A", "B")}
    r = out[("A", "B")]
    assert (r["n_common"], r["ga"], r["gb"]) == (2, 6, 5)
    assert abs(r["jaccard"] - 2 / 9) < 1e-6


def test_source_overlap_matrix_duckdb_twin(docs_small):
    import duckdb
    import pandas.testing as pdt
    docs = docs_small.limit(200)
    got = (dedup.source_overlap_matrix(docs, n=2).toPandas()
           .sort_values(["source_a", "source_b"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = (con.execute(dedup.source_overlap_matrix_sql(n=2)).df()
            .sort_values(["source_a", "source_b"]).reset_index(drop=True))
    for c in ("n_common", "ga", "gb"):
        got[c] = got[c].astype("int64")
        want[c] = want[c].astype("int64")
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_deterministic_sample_k(docs_small):
    import duckdb

    from cardinality_estimation_evaluation_framework_spark.operators import (
        mixing,
    )

    docs = docs_small.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source")
    a = mixing.deterministic_sample_k(docs, 5, seed=11)
    ids_a = sorted((r["source"], r["doc_id"]) for r in a.collect())
    # exactly min(k, |group|) per group
    per_group = {r["source"]: r["n"] for r in
                 a.groupBy("source").agg(F.count("*").alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_group == {g: min(5, n) for g, n in totals.items() if n}
    # partition-invariant and seed-sensitive
    ids_b = sorted((r["source"], r["doc_id"]) for r in
                   mixing.deterministic_sample_k(
                       docs.repartition(13), 5, seed=11).collect())
    assert ids_a == ids_b
    ids_c = sorted((r["source"], r["doc_id"]) for r in
                   mixing.deterministic_sample_k(docs, 5, seed=12).collect())
    assert ids_a != ids_c
    # value-exact vs DuckDB twin
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(map(tuple, con.sql(
        "SELECT source, doc_id FROM ("
        + mixing.deterministic_sample_k_sql(5, seed=11) + ")").fetchall()))
    assert ids_a == [(str(s), str(d)) for s, d in want]
    # tiny k and bad k
    one = mixing.deterministic_sample_k(docs, 1, seed=11)
    assert one.count() == len(totals)
    with pytest.raises(ValueError):
        mixing.deterministic_sample_k(docs, 0)


def test_unigram_drift_hand_case(spark):
    import math
    rows = [("1", "a a b", "A"), ("2", "b b", "B"), ("3", None, "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = {r["source"]: r for r in text.unigram_drift(df).collect()}
    # corpus: a:2 b:3 (N=5). A: p=(2/3,1/3); B: p(b)=1.
    a, b = out["A"], out["B"]
    assert (a["n_tokens"], a["n_distinct"]) == (3, 2)
    assert (b["n_tokens"], b["n_distinct"]) == (2, 1)
    kl_a = 2 / 3 * math.log((2 / 3) / (2 / 5)) + 1 / 3 * math.log((1 / 3) / (3 / 5))
    assert abs(a["kl_to_corpus"] - kl_a) < 1e-6
    assert abs(a["tvd_to_corpus"] - 4 / 15) < 1e-6
    assert abs(b["kl_to_corpus"] - math.log(5 / 3)) < 1e-6
    assert abs(b["tvd_to_corpus"] - 2 / 5) < 1e-6


def test_unigram_drift_duckdb_twin(docs_small):
    import duckdb
    import pandas.testing as pdt
    got = (text.unigram_drift(docs_small).toPandas()
           .sort_values("source").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", docs_small.toPandas())
    want = (con.execute(text.unigram_drift_sql()).df()
            .sort_values("source").reset_index(drop=True))
    for c in ("n_tokens", "n_distinct"):
        got[c] = got[c].astype("int64")
        want[c] = want[c].astype("int64")
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=0)


def test_self_information_hand_case(spark):
    import math
    rows = [("1", "a a b", "A"), ("2", "b b", "B"), ("3", "", "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = {r["doc_id"]: r for r in text.with_self_information(df).collect()}
    # corpus: a:2 b:3 (N=5); q(a)=0.4, q(b)=0.6. Empty doc 3 is absent.
    assert set(out) == {"1", "2"}
    bits_a, bits_b = -math.log2(0.4), -math.log2(0.6)
    assert out["1"]["n_tok"] == 3
    assert abs(out["1"]["self_info_bits"] - (2 * bits_a + bits_b) / 3) < 1e-6
    assert out["2"]["n_tok"] == 2
    assert abs(out["2"]["self_info_bits"] - bits_b) < 1e-6


def test_self_information_duckdb_twin(docs_small):
    import duckdb
    import pandas.testing as pdt
    got = (text.with_self_information(docs_small).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", docs_small.toPandas())
    want = (con.execute(text.self_information_sql()).df()
            .sort_values("doc_id").reset_index(drop=True))
    got["n_tok"] = got["n_tok"].astype("int64")
    want["n_tok"] = want["n_tok"].astype("int64")
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=0)


def _winnow_brute(texts, k, w):
    """Pure-Python winnowing reference (leftmost-min rule)."""
    import hashlib
    import re
    out = set()
    for doc_id, txt in texts:
        if txt is None:
            continue
        wd = [x for x in re.split("[^a-z0-9]+", txt.lower()) if x]
        if len(wd) < k:
            continue
        hs = [
            int.from_bytes(
                hashlib.md5(" ".join(wd[i:i + k]).encode()).digest()[:8],
                "big") >> 11
            for i in range(len(wd) - k + 1)
        ]
        wl = min(w, len(hs))
        for j in range(len(hs) - wl + 1):
            win = hs[j:j + wl]
            m = min(win)
            out.add((doc_id, j + win.index(m) + 1, m))
    return out


def test_winnow_fingerprints_brute_and_twin(spark):
    import duckdb
    import pandas as pd
    rows = [("1", "a b c d e f g h i j", "A"), ("2", "x y z", "A"),
            ("3", "a b c", "B"), ("4", "one two", "B"), ("5", None, "B"),
            ("6", "a b c d e f g h i j", "B"),
            ("7", "t t t t t t t", "B")]  # all-equal hashes: tie rule
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    for k, w in [(3, 4), (1, 1), (2, 6), (4, 2)]:
        got = {tuple(r) for r in text.winnow_fingerprints(df, k=k, w=w).collect()}
        assert got == _winnow_brute([(d, t) for d, t, _ in rows], k, w), (k, w)
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
        want = {tuple(r) for r in
                con.execute(text.winnow_fingerprints_sql(k=k, w=w)).fetchall()}
        assert got == want, (k, w)
    # identical docs produce identical fingerprint sets
    g = {tuple(r) for r in text.winnow_fingerprints(df, k=3, w=4).collect()}
    assert {(p, f) for d, p, f in g if d == "1"} == \
           {(p, f) for d, p, f in g if d == "6"}
    with pytest.raises(ValueError):
        text.winnow_fingerprints(df, k=0, w=4)


def test_winnow_match_guarantee(spark):
    # any shared run of >= k+w-1 words must share a fingerprint
    k, w = 3, 4
    shared = "q w e r t y u i o p"  # 10 words >= k+w-1 = 6
    rows = [("1", "aa bb cc " + shared + " dd", "A"),
            ("2", shared + " zz xx", "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    got = text.winnow_fingerprints(df, k=k, w=w).collect()
    fps1 = {r["fp"] for r in got if r["doc_id"] == "1"}
    fps2 = {r["fp"] for r in got if r["doc_id"] == "2"}
    assert fps1 & fps2


def test_winnow_near_dup_pairs(spark):
    import duckdb
    import pandas as pd
    shared = "q w e r t y u i o p a s d f"
    rows = [("1", "aa bb cc " + shared, "A"),
            ("2", shared + " zz xx", "B"),
            ("3", "totally different words here folks indeed", "A"),
            ("4", None, "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = dedup.winnow_near_dup_pairs(df, k=3, w=4, min_shared=2).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [("1", "2")]
    assert out[0]["n_shared"] >= 2
    # DuckDB twin, incl. a tight cap that drops a hot fingerprint
    for cap in (100_000, 1):
        got = sorted(map(tuple, dedup.winnow_near_dup_pairs(
            df, k=3, w=4, min_shared=1, max_bucket_size=cap).collect()))
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(
            rows, columns=["doc_id", "text", "source"]))
        want = sorted(map(tuple, con.execute(dedup.winnow_near_dup_pairs_sql(
            k=3, w=4, min_shared=1, max_bucket_size=cap)).fetchall()))
        assert got == want, cap
    # cap=1 drops every shared fingerprint -> no pairs at all
    assert dedup.winnow_near_dup_pairs(
        df, k=3, w=4, min_shared=1, max_bucket_size=1).count() == 0


def test_zipf_slope(spark):
    import math
    # source A: freqs 4,2,1 (tokens a,b,c) -> exact OLS by hand;
    # source B: single token -> absent (needs 2 points)
    rows = [("1", "a a a a b b c", "A"), ("2", "solo solo solo", "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = {r["source"]: r for r in text.zipf_slope_by_source(df).collect()}
    assert set(out) == {"A"}
    xs = [math.log(1), math.log(2), math.log(3)]
    ys = [math.log(4), math.log(2), math.log(1)]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    sxy = sum(a * b for a, b in zip(xs, ys))
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert out["A"]["n_terms"] == 3
    assert abs(out["A"]["zipf_slope"] - slope) < 1e-6
    assert out["A"]["zipf_slope"] < 0


def test_zipf_slope_midrank_ties_and_constant_freq(spark):
    import math
    # source A: freqs 3,1,1,1 -> tie block of three f=1 terms collapses to
    # midrank 2+(3+1)/2 = 4... wait, c_above=1, midrank = 1+(3+1)/2 = 3.0;
    # f=3 term: midrank 1. Hand OLS on m-weighted block points.
    # source B: every term at the SAME freq -> constant x -> slope NULL.
    rows = [("1", "a a a b c d", "A"), ("2", "x y z x y z", "B")]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    out = {r["source"]: r for r in text.zipf_slope_by_source(df).collect()}
    pts = [(math.log(1.0), math.log(3.0), 1.0),
           (math.log(1 + (3 + 1) / 2), math.log(1.0), 3.0)]  # (x, y, m)
    n = sum(m for _, _, m in pts)
    sx = sum(m * x for x, _, m in pts)
    sy = sum(m * y for _, y, m in pts)
    sxx = sum(m * x * x for x, _, m in pts)
    sxy = sum(m * x * y for x, y, m in pts)
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert out["A"]["n_terms"] == 4
    assert abs(out["A"]["zipf_slope"] - slope) < 1e-6
    assert out["B"]["n_terms"] == 3
    assert out["B"]["zipf_slope"] is None  # undefined, not 0-by-fiat
    # ... and the DuckDB twin agrees on BOTH rows
    import duckdb
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = {r[0]: r for r in con.execute(text.zipf_slope_sql()).fetchall()}
    assert abs(want["A"][2] - slope) < 1e-6
    assert want["B"][2] is None


def test_zipf_slope_duckdb_twin(docs_small):
    import duckdb
    import pandas.testing as pdt
    got = (text.zipf_slope_by_source(docs_small).toPandas()
           .sort_values("source").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", docs_small.toPandas())
    want = (con.execute(text.zipf_slope_sql()).df()
            .sort_values("source").reset_index(drop=True))
    got["n_terms"] = got["n_terms"].astype("int64")
    want["n_terms"] = want["n_terms"].astype("int64")
    pdt.assert_frame_equal(got, want, check_dtype=False, atol=0)
