"""Run the benchmark over several seeds and record each end-to-end
metric's median and quartiles per workload.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/records/set_a.json
    python3 perfbench/steadiness.py --seeds 1-3 --overhead --out perfbench/records/overhead.json

Runs are sequential, one benchmark process at a time. The spread is the
distance between the first and third quartile (``statistics.quantiles``,
n=4) as a share of the median. ``--overhead`` runs each seed untraced and
traced and records the traced run's end-to-end metrics minus the
untraced run's, as a share of the untraced value.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT = os.path.join(ROOT, ".perfbench_work", "result.json")


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    with open(RESULT) as fh:
        result = json.load(fh)
    result["run_wall_s"] = time.perf_counter() - t0
    result["last_line"] = json.loads(proc.stdout.strip().splitlines()[-1])
    return result


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default="")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    e2e = [m["name"] for m in spec["end_to_end"]]
    record = {"nproc": len(os.sched_getaffinity(0)), "seconds": spec["run_seconds"],
              "seeds": args.seeds, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for w in workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(w, seed, spec["run_seconds"], 0)
            entry = {"seed": seed, "run_wall_s": r["run_wall_s"], "attempted": r["attempted"],
                     "failed": r["failed"], "metrics": {m: r["end_to_end"][m] for m in e2e}}
            if args.overhead:
                t = run_once(w, seed, spec["run_seconds"], 1)
                entry["traced"] = {m: t["end_to_end"][m] for m in e2e}
                entry["traced_run_wall_s"] = t["run_wall_s"]
            runs.append(entry)
            print(w, seed, json.dumps(entry), flush=True)
        out = {"runs": runs,
               "run_wall_s": summary([r["run_wall_s"] for r in runs]),
               "metrics": {m: summary([r["metrics"][m] for r in runs]) for m in e2e}}
        if args.overhead:
            out["overhead"] = {
                m: summary([(r["traced"][m] - r["metrics"][m]) / r["metrics"][m] for r in runs])
                for m in e2e
            }
        record["workloads"][w] = out
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    for w, out in record["workloads"].items():
        for m, s in out["metrics"].items():
            print(f"{w:<16} {m:<16} median {s['median']:<12.6g} spread {s['spread']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
