"""Seeded sketch-engine benchmark.

    python3 perfbench/run.py --workload token_suite --seed 1 --seconds 10 --trace 0

Runs one named workload on local[nproc] from this single Python process,
in a closed loop: one caller waits for each call before sending the next.
Set-up (session start plus a first tiny sketch call) is timed twice
first: once starting the JVM, once rebuilding the session in it. Then the
inputs are cached, untimed warm-up calls run for at least WARMUP_S and
WARMUP_CALLS calls, and timed calls repeat until ``--seconds`` have passed.
Every call's output is checked against a truth computed from the seed
before timing; a wrong or failed call counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` records spans
around the calls into each layer, runs the per-layer passes after the
loop, and prints the per-layer metrics instead. Either way, the last line
of standard output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cardinality_estimation_evaluation_framework_spark"
SETUP_SAMPLES = 2
# untimed warm-up calls repeat until both this much time and this many
# calls have passed: the first calls of a fresh session run slower while the
# JVM compiles the hot paths (doc_quality's first three calls each run
# about 15% faster than the one before)
WARMUP_S = 5.0
WARMUP_CALLS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the tests run tiny inputs)")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def setup_probe(seed: int) -> None:
    """Child process of one estimator_eval set-up sample: import, then one
    tiny evaluation. Prints the two times as JSON."""
    from perfbench.trace import Tracer
    from perfbench.workloads import CheckFailed, EstimatorEval

    t0 = time.perf_counter()
    from cardinality_estimation_evaluation_framework_spark.simulation import (  # noqa: F401
        evaluator,
    )

    t1 = time.perf_counter()
    wl = EstimatorEval(seed, 0.02, Tracer(False))
    wl.generate()
    wl.config.num_runs = 1
    _, problems = wl.check(wl.call())
    if problems:
        raise CheckFailed("; ".join(problems))
    print(json.dumps({"start": t1 - t0, "warmup": time.perf_counter() - t1}))


def spark_setup(trace: bool):
    """SETUP_SAMPLES timed set-ups. The first starts the JVM; each later one
    stops the session and builds it again in the same JVM, which starts new
    Python workers. Returns (spark, [(total, start, warmup), ...])."""
    from perfbench import harness
    from perfbench.workloads import tiny_sketch

    samples, spark = [], None
    for _ in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = harness.start_spark(event_log=trace)
        t1 = time.perf_counter()
        tiny_sketch(spark)
        t2 = time.perf_counter()
        samples.append((t2 - t0, t1 - t0, t2 - t1))
    return spark, samples


def probe_setup(seed: int):
    samples = []
    env = dict(os.environ, PYTHONPATH=ROOT)
    for _ in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", "--workload",
             "estimator_eval", "--seed", str(seed), "--seconds", "0"],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        )
        total = time.perf_counter() - t0
        inner = json.loads(proc.stdout.strip().splitlines()[-1])
        samples.append((total, total - inner["warmup"], inner["warmup"]))
    return samples


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def run(args, e2e_units: dict[str, str], layer_units: dict[str, str]) -> dict:
    from perfbench import harness
    from perfbench.trace import Tracer, call_coverage, layer_table, self_times
    from perfbench.workloads import WORKLOADS

    harness.prepare_work_dir()
    tracer = Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](args.seed, args.scale, tracer)
    wl.generate()
    log("inputs and truth generated")

    spark = counter = None
    if wl.uses_spark:
        spark, setups = spark_setup(args.trace == 1)
        log("set-up samples " + " ".join(f"{s[0]:.2f}" for s in setups))
        counter = harness.JobCounter(spark)
        wl.load(spark)
        log("inputs cached")
    else:
        setups = probe_setup(args.seed)
        log("set-up samples " + " ".join(f"{s[0]:.2f}" for s in setups))

    attempted = failed = 0

    def checked_call(group: str, call_id: int | None):
        """(wall s, process CPU s, mean and max of |error| / bound) of one call, or None
        if it raised. A wrong output is counted in ``failed`` but its
        time still counts: the call did the work."""
        nonlocal attempted, failed
        attempted += 1
        if counter is not None:
            counter.set_group(group)
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if call_id is None:
                out = wl.call()
            else:
                with tracer.span(f"{wl.name}.call", call=call_id):
                    out = wl.call()
        except Exception:  # noqa: BLE001 - a failed call is counted, the loop goes on
            failed += 1
            traceback.print_exc()
            return None
        wall, cpu = time.perf_counter() - t0, time.process_time() - cpu0
        call_errs, problems = wl.check(out)
        if problems:
            failed += 1
            print(f"wrong output ({group}): {'; '.join(problems)}", file=sys.stderr)
        return wall, cpu, mean(call_errs), max(call_errs, default=0.0)

    warmup_end = time.perf_counter() + WARMUP_S
    warmups = 0
    while warmups < WARMUP_CALLS or time.perf_counter() < warmup_end:
        checked_call(f"warmup-{warmups}", None)
        warmups += 1
    calls = []
    deadline = time.perf_counter() + args.seconds
    while True:
        calls.append(checked_call(f"call-{len(calls)}", len(calls)))
        if time.perf_counter() >= deadline:
            break
    ok = [c for c in calls if c is not None]
    rss_by_pid = harness.peak_rss_mb()
    rss = sum(rss_by_pid.values())
    log("loop done, call seconds " + " ".join(f"{c[0]:.3f}" if c else "error" for c in calls)
        + "; peak RSS MB by process " + " ".join(f"{v:.0f}" for v in rss_by_pid.values()))

    walls = [c[0] for c in ok]
    e2e = {
        "setup_s": (harness.median([s[0] for s in setups]), "s"),
        "items_per_s": (wl.items_per_call() * len(walls) / sum(walls) if walls else 0.0,
                        f"{wl.p['items']}/s"),
        "call_p50_s": (harness.median(walls), "s"),
        "peak_rss_mb": (rss, "MB"),
        "err_over_bound": (harness.median([c[2] for c in ok]), "ratio"),
        "err_max_over_bound": (harness.median([c[3] for c in ok]), "ratio"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    print(f"workload {wl.name} seed {args.seed} nproc {harness.nproc()} "
          f"trace {args.trace} calls {len(calls)} (+{warmups} warm-up)")
    for name, (value, unit) in e2e.items():
        extra = f"  (n={len(walls)} calls)" if name == "call_p50_s" else ""
        print(f"  {name:<16} {value:>14.6g} {unit}{extra}")

    layer: dict[str, float] = {}
    if args.trace:
        layer["session.start_s"] = harness.median([s[1] for s in setups])
        layer["session.warmup_s"] = harness.median([s[2] for s in setups])
        if counter is not None:
            jobs = [counter.counts(f"call-{i}") for i in range(len(calls))]
            for j, key in enumerate(("spark_jobs", "spark_stages", "tasks")):
                layer[f"aggregate.{key}"] = harness.median([c[j] for c in jobs])
            counter.set_group("layers")
        layer.update(wl.layers(spark, counter))
        layer.update(kernel_timings(wl, tracer))
        selfs = self_times(tracer.spans)
        for span_name, key in (
            ("simulation.setgen", "simulation.setgen_s"),
            ("simulation.sketch", "simulation.sketch_s"),
            ("simulation.noise", "simulation.noise_s"),
            ("simulation.estimate", "simulation.estimate_s"),
        ):
            per_call = [
                sum(selfs[s.id] for s in tracer.spans if s.name == span_name and s.call == i)
                for i in range(len(calls))
            ]
            layer[key] = harness.median(per_call)
        if not wl.uses_spark:
            layer["simulation.thread_efficiency"] = harness.median(
                [c[1] / (c[0] * harness.nproc()) for c in ok]
            )
        layer["trace.coverage"] = call_coverage(tracer.spans)

    started = harness.descendants(os.getpid())
    if spark is not None:
        harness.stop_spark(spark)
    harness.reap(started + harness.descendants(os.getpid()))
    log("stopped")

    if args.trace:
        if wl.uses_spark:
            by_group = harness.shuffle_bytes_by_group()
            per_call = [by_group.get(f"call-{i}", (0, 0)) for i in range(len(calls))]
            layer["aggregate.shuffle_write_bytes"] = harness.median([w for w, _ in per_call])
            layer["aggregate.shuffle_read_bytes"] = harness.median([r for _, r in per_call])
        tracer.write(os.path.join(harness.WORK, "spans.json"))
        print("per-layer table (self time excludes child spans; passes run once after the loop)")
        print(f"  {'span':<44} {'count':>6} {'total_s':>10} {'self_s':>10}")
        for row in layer_table(tracer.spans):
            print(f"  {row['layer']:<44} {row['count']:>6} {row['total_s']:>10.4f} {row['self_s']:>10.4f}")
        print("per-layer metrics")
        for name in layer_units:
            print(f"  {name:<36} {layer.get(name, 0.0):>14.6g}")

    with open(os.path.join(harness.WORK, "result.json"), "w") as fh:
        json.dump({"end_to_end": {k: v[0] for k, v in e2e.items()}, "per_layer": layer,
                   "attempted": attempted, "failed": failed}, fh, indent=1)
    if args.trace:
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in layer_units.items()}
    else:
        metrics = {name: {"value": float(e2e[name][0]), "unit": unit}
                   for name, unit in e2e_units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def kernel_timings(wl, tracer) -> dict[str, float]:
    """Kernel costs in this process, over the workload's own generated values."""
    from perfbench.harness import median
    from perfbench.workloads import suite_kernel, time_it
    from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
    from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
    from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel

    vals = wl.kernel_values()
    kernels = {
        "hll": HllKernel(p=14, seed=42),
        "countmin": CountMinKernel(width=4096, depth=4, seed=1),
        "bloom": BloomKernel(dist_kind="exponential", m=65536, seed=2, decay_rate=10.0),
        "suite": suite_kernel(),
    }
    out = {}
    for name, k in kernels.items():
        with tracer.span(f"sketches.update.{name}"):
            ts = [time_it(lambda: k.update(k.empty(), vals))[0] for _ in range(3)]
        out[f"sketches.update_ns_per_item.{name}"] = median(ts) / len(vals) * 1e9
    kernel, states = wl.main_states()
    with tracer.span("sketches.pack"):
        out["sketches.pack_s"], packed = time_it(lambda: [kernel.pack(s) for s in states])
    with tracer.span("sketches.unpack"):
        out["sketches.unpack_s"], _ = time_it(lambda: [kernel.unpack(b) for b in packed])
    with tracer.span("sketches.merge_packed"):
        out["sketches.merge_s"], _ = time_it(lambda: kernel.merge_packed(packed))
    out["sketches.state_bytes"] = sum(len(b) for b in packed)
    return out


def declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.setup_probe:
        setup_probe(args.seed)
        return 0
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args, *declared_units())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
