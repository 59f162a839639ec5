"""Tests for the benchmark itself (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload end to end on tiny inputs, so they
start Spark several times and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import Span, Tracer, call_coverage, self_times, union_length  # noqa: E402
from perfbench.workloads import WORKLOADS as ALL_WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# the smoke runs cover every workload, listed in BENCHMARK.json or not
WORKLOADS = list(ALL_WORKLOADS)
LISTED = [w["name"] for w in SPEC["workloads"]]
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


# --------------------------------------------------------------------------
# self-time arithmetic
# --------------------------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # touching intervals, a contained one, and clipping to the parent
    assert union_length([(0, 2), (2, 4), (1, 1.5), (9, 12)], 0, 10) == 5
    assert union_length([(-5, -1), (11, 12)], 0, 10) == 0


def test_self_time_with_overlapping_children():
    spans = [
        Span(1, "call", 0.0, 10.0, None, 0),
        Span(2, "a", 1.0, 4.0, 1, 0),
        Span(3, "b", 3.0, 6.0, 1, 0),  # overlaps a: union of a and b is 5 s
        Span(4, "c", 2.0, 3.0, 2, 0),  # grandchild, counts against a only
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert call_coverage(spans) == pytest.approx(0.5)


def test_tracer_attributes_worker_threads_to_the_call():
    tr = Tracer(True)
    with tr.span("root", call=7):
        with tr.span("main"):
            pass
        t = threading.Thread(target=lambda: tr.wrap("worker", lambda: None)())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    root = by_name["root"]
    assert root.parent is None and root.call == 7
    assert by_name["main"].parent == root.id
    assert by_name["worker"].parent == root.id
    assert all(s.call == 7 for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", call=1):
        assert tr.wrap("y", lambda: 3)() == 3
    assert tr.spans == []


# --------------------------------------------------------------------------
# the program defect that keeps publisher_reach and estimator_eval unlisted
# --------------------------------------------------------------------------

@pytest.mark.xfail(strict=True, reason=(
    "HllKernel.estimate leaves linear counting at the HLL++ threshold without "
    "HLL++ bias correction; once fixed, list publisher_reach and estimator_eval "
    "in BENCHMARK.json again"))
@pytest.mark.parametrize("p, n", [(12, 3200), (12, 6000), (14, 12000), (14, 20000)])
def test_hll_estimate_within_five_standard_errors_above_threshold(p, n):
    import numpy as np

    from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

    k = HllKernel(p=p, seed=7)
    values = np.random.default_rng(0).choice(2**40, size=n, replace=False)
    est = k.estimate(k.update(k.empty(), values))[0]
    assert abs(est - n) / n <= 5 * k.std_error()


# --------------------------------------------------------------------------
# end-to-end smoke runs on tiny inputs
# --------------------------------------------------------------------------

def run_bench(workload: str, trace: int, seed: int = 3, cwd: str = ROOT, scale: str = "0.02"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def last_json(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def test_listed_workloads_exist():
    assert LISTED and set(LISTED) <= set(WORKLOADS)


@pytest.fixture(scope="module")
def traced():
    return {w: last_json(run_bench(w, 1)) for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_untraced_prints_every_end_to_end_metric(workload):
    out = last_json(run_bench(workload, 0))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == E2E
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float)
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_prints_every_per_layer_metric(traced, workload):
    out = traced[workload]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == LAYER
    # layer spans cover the calls: at least 90% of call time is attributed
    assert out["metrics"]["trace.coverage"]["value"] >= 0.9


def test_spark_counts_repeat_exactly(traced):
    again = last_json(run_bench("token_suite", 1))
    for name in ("aggregate.spark_jobs", "aggregate.spark_stages", "aggregate.tasks",
                 "aggregate.arrow_rows", "aggregate.partial_count"):
        first = traced["token_suite"]["metrics"][name]["value"]
        assert first > 0, name
        assert again["metrics"][name]["value"] == first, name


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "records"))
    proc = run_bench("token_suite", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
