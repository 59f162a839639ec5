"""The four workloads: seeded inputs, the exact truth, one call, its check,
and the traced run's per-layer passes.

Every input is made from ``--seed`` with numpy's PCG64; the program only
receives the generated data. The truth each check compares against is
computed here, in this process, before the timed loop starts. A call uses
the package's public entry points exactly as a user would; the layer
passes of a traced run call the layers one at a time over the same input.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import shutil
import time

import numpy as np
import pandas as pd

from perfbench.harness import WORK, nproc

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "parameters.json")) as _fh:
    PARAMS = json.load(_fh)

# an estimate further than this many published standard errors from the
# truth is a wrong answer (a two-sided normal tail of about 6e-7)
SIGMAS = 5.0


class CheckFailed(Exception):
    """Set-up returned a wrong answer."""


def zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws of a rank in [0, n) with P(rank k) proportional to (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


def time_it(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    name = ""
    uses_spark = True

    def __init__(self, seed: int, scale: float, tracer):
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.p = PARAMS["workloads"][self.name]
        self.rng = np.random.default_rng(seed)

    def generate(self) -> None:
        """Inputs and truth, from the seed alone."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Cache the inputs in Spark memory."""

    def items_per_call(self) -> int:
        raise NotImplementedError

    def call(self):
        raise NotImplementedError

    def check(self, out) -> tuple[list[float], list[str]]:
        """(|error| / published bound of every estimate checked, what is
        wrong with ``out``); an empty second list means a correct output."""
        raise NotImplementedError

    def layers(self, spark, counter) -> dict[str, float]:
        """Traced run only: time the layers one pass at a time."""
        return {}

    def kernel_values(self) -> np.ndarray:
        """int64 values for the in-process kernel timings."""
        raise NotImplementedError

    def main_states(self):
        """(kernel, states) for the pack / unpack / merge timings."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# shared Spark helpers
# --------------------------------------------------------------------------

def cached_table(spark, name: str, columns: dict, parts: int, *select):
    """Write the generated columns to a parquet file in the work dir, read it
    with Spark, project ``select`` if given, and cache it in memory over
    ``parts`` partitions (a parquet read is many times faster than shipping
    a pandas frame to the JVM)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(WORK, "input", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)
    df = spark.read.parquet(path)
    df = (df.select(*select) if select else df).repartition(parts).persist()
    df.count()
    return df


def arrow_pass(df, cols: list[str]) -> tuple[int, int]:
    """Benchmark-owned Arrow pass-through: every row of ``cols`` crosses
    into Python as in the package's mapInPandas stage 1, and only per-batch
    counts come back. Returns (rows, bytes of the values Python received)."""

    def count(batches):
        for pdf in batches:
            nbytes = 0
            for c in cols:
                col = pdf[c]
                if col.dtype == object:
                    nbytes += sum(getattr(v, "nbytes", len(str(v))) for v in col.to_numpy())
                else:
                    nbytes += col.to_numpy().nbytes
            yield pd.DataFrame({"rows": [len(pdf)], "bytes": [nbytes]})

    rows = df.select(*cols).mapInPandas(count, schema="rows long, bytes long").groupBy().sum().first()
    return int(rows[0] or 0), int(rows[1] or 0)


def suite_kernel():
    from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
    from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
    from cardinality_estimation_evaluation_framework_spark.sketches.suite import SuiteKernel

    return SuiteKernel(
        {
            "hll": HllKernel(p=14, seed=42),
            "cm": CountMinKernel(width=4096, depth=4, seed=1),
            "bloom": BloomKernel(dist_kind="exponential", m=65536, seed=2, decay_rate=10.0),
        }
    )


def tiny_sketch(spark) -> None:
    """The first tiny sketch call of set-up: starts the Python workers."""
    from pyspark.sql import functions as F

    from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

    df = spark.range(8 * nproc(), numPartitions=nproc()).select(
        F.array(F.col("id").cast("int")).alias("tokens")
    )
    k = HllKernel(p=10)
    est = k.estimate(agg.sketch_tokens(df, k))[0]
    if abs(est - 8 * nproc()) > 1:
        raise CheckFailed(f"tiny sketch estimated {est}, expected {8 * nproc()}")


# --------------------------------------------------------------------------
# token_suite
# --------------------------------------------------------------------------

class TokenSuite(Workload):
    name = "token_suite"

    def generate(self):
        p, rng = self.p, self.rng
        self.n_docs = scaled(p["docs"], self.scale, 4 * nproc())
        tpd = p["tokens_per_doc"]
        vocab = rng.choice(2**31 - 1, size=p["vocabulary"], replace=False).astype(np.int32)
        ranks = zipf_ranks(rng, p["vocabulary"], self.n_docs * tpd, p["zipf_s"])
        self.tokens = vocab[ranks].reshape(self.n_docs, tpd)
        flat = self.tokens.ravel()
        uniq, counts = np.unique(flat, return_counts=True)
        self.n_tokens = flat.size
        self.distinct = int(uniq.size)
        top = uniq[np.argsort(-counts, kind="stable")[: p["cm_queries"]["top"]]]
        rand = rng.choice(uniq, size=min(p["cm_queries"]["random"], uniq.size), replace=False)
        self.queries = np.concatenate([top, rand]).astype(np.int64)
        self.query_truth = counts[np.searchsorted(uniq, self.queries)]
        self.kernel = suite_kernel()

    def load(self, spark):
        import pyarrow as pa

        tpd = self.tokens.shape[1]
        offsets = np.arange(0, self.tokens.size + 1, tpd, dtype=np.int32)
        cols = {
            "doc_id": pa.array([f"d{i:07d}" for i in range(self.n_docs)]),
            "tokens": pa.ListArray.from_arrays(offsets, pa.array(self.tokens.ravel())),
            "n_tok": pa.array(np.full(self.n_docs, tpd, dtype=np.int32)),
            "source": pa.array([f"s{i % 8}" for i in range(self.n_docs)]),
        }
        self.df = cached_table(spark, self.name, cols, 2 * nproc())

    def items_per_call(self):
        return self.n_tokens

    def call(self):
        from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg

        with self.tracer.span("aggregate.sketch_tokens"):
            state = agg.sketch_tokens(self.df, self.kernel)
        with self.tracer.span("sketches.query"):
            k = self.kernel.kernels
            return (
                k["hll"].estimate(self.kernel.child(state, "hll"))[0],
                k["cm"].query(self.kernel.child(state, "cm"), self.queries),
                k["bloom"].estimate(self.kernel.child(state, "bloom"))[0],
            )

    def check(self, out):
        hll_est, cm_est, adbf_est = out
        k = self.kernel.kernels
        sigma = k["hll"].std_error()
        z_hll = abs(hll_est - self.distinct) / self.distinct / sigma
        problems = []
        if z_hll > SIGMAS:
            problems.append(f"HLL {hll_est:.0f} vs exact {self.distinct}")
        eps, delta = k["cm"].error_bound()
        over = cm_est - self.query_truth
        if (over < 0).any():
            problems.append("count-min underestimated a point query")
        if np.mean(over > eps * self.n_tokens) > delta:
            problems.append("count-min over eps*N on more than delta of the queries")
        if abs(adbf_est - self.distinct) / self.distinct > 0.05:
            problems.append(f"ADBF {adbf_est:.0f} vs exact {self.distinct}")
        return [z_hll] + list(over / (eps * self.n_tokens)), problems

    def layers(self, spark, counter):
        from pyspark.sql import functions as F

        from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg

        out = {}
        tr = self.tracer
        with tr.span("aggregate.scan"):
            scan = lambda: self.df.select(  # noqa: E731
                F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("s")
            ).groupBy().sum().first()
            out["aggregate.scan_s"], _ = time_it(scan)
        with tr.span("aggregate.handoff"):
            t, (rows, nbytes) = time_it(lambda: arrow_pass(self.df, ["tokens"]))
        out["aggregate.handoff_s"] = max(t - out["aggregate.scan_s"], 0.0)
        out["aggregate.arrow_rows"], out["aggregate.arrow_bytes"] = rows, nbytes
        with tr.span("aggregate.sketch_array_partials"):
            partials = agg.sketch_array_partials(self.df, self.kernel)
            cached = partials.persist()
            out["aggregate.partials_s"], n = time_it(cached.count)
        out["aggregate.partial_count"] = n
        out["aggregate.partial_bytes"] = int(
            cached.select(F.sum(F.length("sketch"))).first()[0] or 0
        )
        # sketch_array_partials records its partition count on the frame so
        # that tree_merge need not plan it again; keep it on the cached copy
        nparts = getattr(partials, "_ceef_nparts", None)
        if nparts is not None:
            cached._ceef_nparts = nparts
        with tr.span("aggregate.tree_merge"):
            out["aggregate.tree_merge_s"], _ = time_it(lambda: agg.tree_merge(cached, self.kernel))
        cached.unpersist(blocking=True)
        return out

    def kernel_values(self):
        return self.tokens.ravel()[:1_000_000].astype(np.int64)

    def main_states(self):
        chunks = np.array_split(self.tokens.ravel().astype(np.int64), 2 * nproc())
        return self.kernel, [self.kernel.update(self.kernel.empty(), c) for c in chunks]


# --------------------------------------------------------------------------
# publisher_reach
# --------------------------------------------------------------------------

class PublisherReach(Workload):
    name = "publisher_reach"

    def generate(self):
        p, rng = self.p, self.rng
        self.n_rows = scaled(p["rows"], self.scale, 1000)
        self.keys = zipf_ranks(rng, p["keys"], self.n_rows, p["key_zipf_s"])
        self.users = rng.integers(0, p["user_universe"], self.n_rows, dtype=np.int64)
        truth = pd.DataFrame({"key": self.keys, "user_id": self.users})
        self.truth = {
            f"pub{k:05d}": n for k, n in truth.groupby("key")["user_id"].nunique().items()
        }
        from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

        self.kernel = HllKernel(p=12, seed=7)

    def load(self, spark):
        import pyarrow as pa

        from pyspark.sql import functions as F

        cols = {"key": pa.array(self.keys.astype(np.int32)), "user_id": pa.array(self.users)}
        self.df = cached_table(
            spark, self.name, cols, 2 * nproc(),
            F.format_string("pub%05d", "key").alias("publisher"), "user_id",
        )

    def items_per_call(self):
        return self.n_rows

    def call(self):
        from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg

        tr = self.tracer
        with tr.span("aggregate.grouped_sketch"):
            sk = agg.grouped_sketch(self.df, self.kernel, ["publisher"], "user_id")
        with tr.span("aggregate.grouped_estimate"):
            est = agg.grouped_estimate(sk, self.kernel, ["publisher"])
        with tr.span("aggregate.grouped_estimate.collect"):
            return {r["publisher"]: r["estimate"] for r in est.collect()}

    def check(self, out):
        if set(out) != set(self.truth):
            return [], [f"{len(out)} keys estimated, {len(self.truth)} exist"]
        sigma = self.kernel.std_error()
        zs = {k: abs(out[k] - t) / t / sigma for k, t in self.truth.items()}
        bad = sorted((k for k, z in zs.items() if z > SIGMAS), key=lambda k: -zs[k])
        problems = [
            f"{len(bad)} keys over {SIGMAS:g} standard errors, worst {b}: "
            f"{out[b]:.0f} vs exact {self.truth[b]} ({zs[b]:.1f})"
            for b in bad[:1]
        ]
        return list(zs.values()), problems

    def layers(self, spark, counter):
        from pyspark.sql import functions as F

        from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg

        out = {}
        tr = self.tracer
        with tr.span("aggregate.scan"):
            out["aggregate.scan_s"], _ = time_it(
                lambda: self.df.select(F.bit_xor(F.xxhash64("publisher", "user_id"))).first()
            )
        with tr.span("aggregate.handoff"):
            t, (rows, nbytes) = time_it(lambda: arrow_pass(self.df, ["publisher", "user_id"]))
        out["aggregate.handoff_s"] = max(t - out["aggregate.scan_s"], 0.0)
        out["aggregate.arrow_rows"], out["aggregate.arrow_bytes"] = rows, nbytes
        with tr.span("aggregate.grouped_sketch_partials"):
            parts = agg.grouped_sketch_partials(self.df, self.kernel, ["publisher"], "user_id")
            parts = parts.persist()
            out["aggregate.grouped_partials_s"], n = time_it(parts.count)
        out["aggregate.partials_s"] = out["aggregate.grouped_partials_s"]
        out["aggregate.grouped_states"] = n
        out["aggregate.grouped_state_bytes"] = int(
            parts.select(F.sum(F.length("sketch"))).first()[0] or 0
        )
        parts.unpersist(blocking=True)
        with tr.span("aggregate.grouped_sketch"):
            sk = agg.grouped_sketch(self.df, self.kernel, ["publisher"], "user_id").persist()
            t_all, _ = time_it(sk.count)
        out["aggregate.grouped_merge_s"] = max(t_all - out["aggregate.grouped_partials_s"], 0.0)
        with tr.span("aggregate.grouped_estimate"):
            out["aggregate.estimate_s"], _ = time_it(
                lambda: agg.grouped_estimate(sk, self.kernel, ["publisher"]).collect()
            )
        sk.unpersist(blocking=True)
        return out

    def kernel_values(self):
        return self.users[:1_000_000]

    def main_states(self):
        order = np.argsort(self.keys, kind="stable")
        _, starts = np.unique(self.keys[order], return_index=True)
        groups = np.split(self.users[order], starts[1:])
        return self.kernel, [self.kernel.update(self.kernel.empty(), g) for g in groups]


# --------------------------------------------------------------------------
# doc_quality
# --------------------------------------------------------------------------

def grams(words: list[str], n: int) -> set[str]:
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: list[str], b: list[str], n: int) -> float:
    ga, gb = grams(a, n), grams(b, n)
    return len(ga & gb) / len(ga | gb)


class DocQuality(Workload):
    name = "doc_quality"

    def generate(self):
        p, rng = self.p, self.rng
        n_docs = scaled(p["docs"], self.scale, 60)
        lo, hi = p["words_per_doc"]
        vocab = np.array([f"w{i}" for i in range(p["vocabulary"])], dtype=object)

        def text(n_words):
            return list(vocab[zipf_ranks(rng, p["vocabulary"], n_words, p["zipf_s"])])

        n_dup = int(n_docs * p["dup_frac"])
        docs: list[list[str]] = []
        self.clusters: list[list[int]] = []
        clo, chi = p["cluster_size"]
        while sum(len(c) - 1 for c in self.clusters) < n_dup:
            base = text(int(rng.integers(lo, hi + 1)))
            members = [len(docs)]
            docs.append(base)
            for _ in range(int(rng.integers(clo, chi + 1)) - 1):
                copy = list(base)
                for pos in rng.choice(len(copy), size=p["edits_per_copy"], replace=False):
                    copy[pos] = vocab[int(rng.integers(p["vocabulary"]))]
                members.append(len(docs))
                docs.append(copy)
            self.clusters.append(members)
        n_singles = n_docs - len(docs)
        singles = list(range(len(docs), len(docs) + n_singles))
        docs.extend(text(int(rng.integers(lo, hi + 1))) for _ in range(n_singles))
        bench = [text(p["bench_words"]) for _ in range(p["bench_docs"])]
        span = p["contam_span_words"]
        self.contaminated = sorted(
            int(i) for i in rng.choice(singles, size=int(n_docs * p["contam_frac"]), replace=False)
        )
        for i in self.contaminated:
            src = bench[int(rng.integers(len(bench)))]
            start = int(rng.integers(len(src) - span + 1))
            pos = int(rng.integers(len(docs[i]) + 1))
            docs[i] = docs[i][:pos] + src[start : start + span] + docs[i][pos:]
        order = rng.permutation(len(docs))  # planted docs are not adjacent ids
        self.ids = [f"doc{int(j):06d}" for j in order]
        self.words = docs
        self.bench = bench
        self.n_docs = len(docs)
        n = p["minhash"]["n"]
        self.pair_truth = {}
        for members in self.clusters:
            for a in range(len(members)):
                for b in range(a + 1, len(members)):
                    ia, ib = sorted((self.ids[members[a]], self.ids[members[b]]))
                    self.pair_truth[(ia, ib)] = jaccard(
                        docs[members[a]], docs[members[b]], n
                    )
        self.by_id = {self.ids[i]: docs[i] for i in range(len(docs))}
        from cardinality_estimation_evaluation_framework_spark.operators import decontam

        b = p["bloom"]
        self.bloom = decontam.bloom_kernel(m=b["m"], k=b["k"], seed=b["seed"])

    def load(self, spark):
        self.docs = cached_table(
            spark, self.name,
            {"doc_id": self.ids, "text": [" ".join(w) for w in self.words]}, 2 * nproc(),
        )
        self.bench_df = cached_table(
            spark, "bench",
            {"doc_id": [f"bench{i:04d}" for i in range(len(self.bench))],
             "text": [" ".join(w) for w in self.bench]}, 1,
        )

    def items_per_call(self):
        return self.n_docs

    def _pairs(self):
        from cardinality_estimation_evaluation_framework_spark.operators import dedup

        m = self.p["minhash"]
        return dedup.minhash_dedup_pairs(
            self.docs, threshold=m["threshold"], num_hashes=m["num_hashes"],
            bands=m["bands"], n=m["n"],
        )

    def call(self):
        from cardinality_estimation_evaluation_framework_spark.operators import decontam, dedup

        tr = self.tracer
        with tr.span("dedup.minhash_dedup_pairs"):
            pairs = self._pairs()
        with tr.span("dedup.minhash_dedup_pairs.collect"):
            pair_rows = [(r["doc_a"], r["doc_b"], r["est_jaccard"]) for r in pairs.collect()]
        with tr.span("dedup.connected_components"):
            cc = dedup.connected_components(pairs)
        with tr.span("dedup.connected_components.collect"):
            reps = {r["doc_id"]: r["rep"] for r in cc.collect()}
        with tr.span("dedup.unpersist_intermediates"):
            dedup.unpersist_intermediates(pairs, blocking=True)
        n = self.p["bloom"]["n"]
        with tr.span("decontam.build_benchmark_bloom"):
            state = decontam.build_benchmark_bloom(self.bench_df, n=n, kernel=self.bloom)
        with tr.span("decontam.flag_contaminated_bloom"):
            flags = decontam.flag_contaminated_bloom(self.docs, state, self.bloom, n=n)
        with tr.span("decontam.flag_contaminated_bloom.collect"):
            flagged = {r["doc_id"] for r in flags.where("contaminated").select("doc_id").collect()}
        return pair_rows, reps, flagged

    def check(self, out):
        pair_rows, reps, flagged = out
        problems = []
        for members in self.clusters:
            ids = [self.ids[i] for i in members]
            if any(i not in reps for i in ids) or len({reps[i] for i in ids}) != 1:
                problems.append(f"planted cluster {ids} not recovered")
        missed = [self.ids[i] for i in self.contaminated if self.ids[i] not in flagged]
        if missed:
            problems.append(f"{len(missed)} planted contaminated docs not flagged")
        n, k = self.p["minhash"]["n"], self.p["minhash"]["num_hashes"]
        errs = []
        for a, b, est in pair_rows:
            key = (a, b) if a < b else (b, a)
            truth = self.pair_truth.get(key)
            if truth is None:
                truth = jaccard(self.by_id[a], self.by_id[b], n)
            errs.append(abs(est - truth) * math.sqrt(k))
        return errs, problems

    def layers(self, spark, counter):
        from cardinality_estimation_evaluation_framework_spark.operators import decontam, dedup

        out = {}
        tr = self.tracer
        m = self.p["minhash"]
        with tr.span("dedup.minhash_signatures"):
            sigs = dedup.minhash_signatures(
                self.docs, num_hashes=m["num_hashes"], n=m["n"]
            ).persist()
            out["dedup.signatures_s"], _ = time_it(sigs.count)
        with tr.span("dedup.minhash_lsh_candidates"):
            out["dedup.candidates_s"], cands = time_it(
                dedup.minhash_lsh_candidates(
                    sigs, m["bands"], m["num_hashes"] // m["bands"]
                ).count
            )
        sigs.unpersist(blocking=True)
        # minhash_dedup_pairs caches its own signatures; this pass starts cold
        with tr.span("dedup.minhash_dedup_pairs"):
            pairs = self._pairs().persist()
            out["dedup.pairs_s"], verified = time_it(pairs.count)
        out["dedup.candidate_pairs"] = cands
        out["dedup.verified_pairs"] = verified
        out["dedup.verify_yield"] = verified / cands if cands else 0.0
        counter.set_group("layer-cc")
        with tr.span("dedup.connected_components"):
            out["dedup.cc_s"], _ = time_it(lambda: dedup.connected_components(pairs).count())
        out["dedup.cc_jobs"] = counter.counts("layer-cc")[0]
        counter.set_group("layers")
        dedup.unpersist_intermediates(pairs, blocking=True)
        pairs.unpersist(blocking=True)
        n = self.p["bloom"]["n"]
        with tr.span("decontam.build_benchmark_bloom"):
            out["decontam.build_s"], state = time_it(
                lambda: decontam.build_benchmark_bloom(self.bench_df, n=n, kernel=self.bloom)
            )
        with tr.span("decontam.flag_contaminated_bloom"):
            out["decontam.probe_s"], flagged = time_it(
                lambda: decontam.flag_contaminated_bloom(self.docs, state, self.bloom, n=n)
                .where("contaminated").count()
            )
        out["decontam.flagged_docs"] = flagged
        return out

    def kernel_values(self):
        return np.array([int(w[1:]) for d in self.words for w in d], dtype=np.int64)

    def main_states(self):
        chunks = np.array_split(self.kernel_values(), 2 * nproc())
        return self.bloom, [self.bloom.update(self.bloom.empty(), c) for c in chunks]


# --------------------------------------------------------------------------
# estimator_eval
# --------------------------------------------------------------------------

class EstimatorEval(Workload):
    name = "estimator_eval"
    uses_spark = False

    def generate(self):
        from cardinality_estimation_evaluation_framework_spark.simulation import configs, estimators

        p = self.p
        self.config = configs.smoke_test(
            num_runs=p["num_runs"],
            universe_size=scaled(p["universe_size"], self.scale, 1000),
            num_sets=p["num_sets"],
        )
        self.estimators = estimators.get_estimator_configs(
            list(p["estimators"]), **p["estimators"]
        )
        rs = np.random.RandomState(0)
        ids_per_run = sum(
            len(s) for sc in self.config.scenario_config_list
            for s in sc.set_generator_factory(rs)
        )
        self.n_ids = ids_per_run * p["num_runs"] * len(self.estimators)
        self.hll_sigma = 1.04 / math.sqrt(2 ** p["estimators"]["hll"]["p"])
        self.reference = None
        self.calls = 0

    def items_per_call(self):
        return self.n_ids

    def _traced_configs(self):
        tr = self.tracer
        if not tr.enabled:
            return self.config, self.estimators

        def setgen(factory):
            def materialized(rs):
                with tr.span("simulation.setgen"):
                    return list(factory(rs))
            return materialized

        def kernel_factory(factory):
            def make(seed):
                k = factory(seed)
                k.update = tr.wrap("simulation.sketch", k.update)
                return k
            return make

        def estimate_noiser(factory):
            return lambda rng: tr.wrap("simulation.noise", factory(rng))

        config = dataclasses.replace(
            self.config,
            scenario_config_list=[
                dataclasses.replace(s, set_generator_factory=setgen(s.set_generator_factory))
                for s in self.config.scenario_config_list
            ],
        )
        ests = [
            dataclasses.replace(
                e,
                kernel_factory=kernel_factory(e.kernel_factory),
                estimator=tr.wrap("simulation.estimate", e.estimator),
                sketch_noiser=e.sketch_noiser and tr.wrap("simulation.noise", e.sketch_noiser),
                estimate_noiser=e.estimate_noiser and estimate_noiser(e.estimate_noiser),
            )
            for e in self.estimators
        ]
        return config, ests

    def call(self):
        from cardinality_estimation_evaluation_framework_spark.simulation.evaluator import Evaluator

        self.calls += 1
        out_dir = os.path.join(WORK, "eval", f"call{self.calls}")
        config, ests = self._traced_configs()
        with self.tracer.span("simulation.evaluator"):
            cells = Evaluator(config, ests, out_dir, workers=nproc(), random_seed=self.seed)()
        return out_dir, cells

    def check(self, out):
        from cardinality_estimation_evaluation_framework_spark.simulation.evaluator import RAW_DF

        out_dir, cells = out
        frames = []
        for cell in cells:
            safe = lambda s: s.replace(":", "~")  # noqa: E731 - the evaluator's path rule
            path = os.path.join(
                out_dir, self.config.name, f"estimator={safe(cell['estimator'])}",
                f"scenario={safe(cell['scenario'])}", RAW_DF,
            )
            frames.append(pd.read_parquet(path))
        shutil.rmtree(out_dir, ignore_errors=True)
        df = pd.concat(frames, ignore_index=True).sort_values(
            ["estimator", "scenario", "run_index", "num_sets"], ignore_index=True
        )
        expected_rows = (
            len(self.estimators) * len(self.config.scenario_config_list)
            * self.config.num_runs * self.p["num_sets"]
        )
        if len(df) != expected_rows:
            return [], [f"{len(df)} result rows, expected {expected_rows}"]
        est, true = df["estimated_cardinality_1"], df["true_cardinality_1"]
        problems = []
        exact = df["estimator"].str.startswith("exact_set")
        if not (est[exact] == true[exact]).all():
            problems.append("exact estimator differs from the truth")
        hll = df["estimator"].str.startswith("hyper_log_log")
        z = ((est[hll] - true[hll]).abs() / true[hll] / self.hll_sigma).to_numpy()
        if z.max() > SIGMAS:
            worst = int(np.argmax(z))
            problems.append(
                f"{int((z > SIGMAS).sum())} HLL estimates over {SIGMAS:g} standard errors, "
                f"worst {est[hll].iloc[worst]:.0f} vs exact {true[hll].iloc[worst]:.0f}"
            )
        if not np.isfinite(est).all():
            problems.append("non-finite estimate")
        cols = ["estimator", "scenario", "run_index", "num_sets", "estimated_cardinality_1"]
        table = df[cols]
        if self.reference is None:
            self.reference = table
        elif not table[cols[:4]].equals(self.reference[cols[:4]]) or not np.allclose(
            table[cols[4]], self.reference[cols[4]], rtol=1e-9, atol=0
        ):
            problems.append("results differ from the first call for the same seed")
        self.cells = cells
        return list(z), problems

    def layers(self, spark, counter):
        cells = self.cells
        return {
            "simulation.cell_wall_s": sum(c["wall_sec"] for c in cells),
            "simulation.cell_cpu_s": sum(c["cpu_sec"] for c in cells),
        }

    def kernel_values(self):
        rs = np.random.RandomState(self.seed)
        sets = self.config.scenario_config_list[0].set_generator_factory(rs)
        return np.concatenate([np.asarray(s, dtype=np.int64) for s in sets])

    def main_states(self):
        from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

        k = HllKernel(p=self.p["estimators"]["hll"]["p"], seed=self.seed)
        rs = np.random.RandomState(self.seed)
        sets = self.config.scenario_config_list[0].set_generator_factory(rs)
        return k, [k.update(k.empty(), np.asarray(s, dtype=np.int64)) for s in sets]


WORKLOADS = {w.name: w for w in (TokenSuite, PublisherReach, DocQuality, EstimatorEval)}
