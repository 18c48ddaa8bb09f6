#!/usr/bin/env python3
"""Steadiness report: runs the benchmark once per seed and puts each
end-to-end metric's spread across the runs beside its bound.

    python3 annbench/steady.py --workload NAME [--workload NAME ...] --seeds 1-10

The spread is the distance between the first and third quartiles
(statistics.quantiles, n=4) as a share of the median. A metric is steady
when its spread is under a third of its bound. Runs are untraced and last
BENCHMARK.json's run_seconds. The report is also written as JSON to
results/ under the build directory.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one(workload, seed, seconds):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(lines[-1])
    print(f"  {workload} seed {seed}: {time.time() - t:.0f} s, correct {res['correct']}, "
          f"failed {res['failed']}/{res['attempted']}", flush=True)
    return res


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", default="1-10")
    a = p.parse_args()
    spec = json.loads(run.SPEC.read_text())
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {}
    steady = True
    for w in a.workload:
        runs = [one(w, s, seconds) for s in seeds(a.seeds)]
        rows = {}
        print(f"{w}: {len(runs)} runs of {seconds} s")
        print(f"  {'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            flag = ""
            if bound is not None and spread >= bound / 3:
                flag = "  > bound/3"
                steady = False
            print(f"  {name:36s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
                  f"{bound if bound is not None else '-':>6}{flag}")
            rows[name] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                          "spread": spread, "bound": bound}
        report[w] = {"seeds": seeds(a.seeds), "seconds": seconds, "metrics": rows,
                     "all_correct": all(r["correct"] for r in runs)}
    out = run.build_dir() / "results" / f"steadiness-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=2))
    print(f"report {out}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
