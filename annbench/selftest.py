#!/usr/bin/env python3
"""Self-tests of the annotate benchmark, at tiny size.

    python3 annbench/selftest.py

1. The Spark-free unit checks in src/SelfTest.scala: the generator is
   deterministic for a seed, planted phrases sit at their offsets, the
   layer replay reproduces matchDoc, and every output check trips on a
   corrupted annotation.
2. Each workload, untraced and traced, on tiny inputs: the last stdout line
   has exactly the keys correct, attempted, failed and metrics, the run is
   correct, and every BENCHMARK.json metric is there with its unit.
3. In a directory holding only BENCHMARK.json and the benchmark, the
   command fails without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

failures = []


def check(name, ok, detail=""):
    print(f"{'ok  ' if ok else 'FAIL'} {name}{'' if ok else ': ' + detail}", flush=True)
    if not ok:
        failures.append(name)


def unit_tests():
    jars = run.spark_jars()
    classes = run.build(jars)
    cp = os.pathsep.join([str(c) for c in classes] + [f"{jars}/*"])
    r = subprocess.run(["java", *run.JVM_FLAGS, "-Xmx1g", "-cp", cp, "annbench.SelfTest"],
                       capture_output=True, text=True, timeout=300)
    sys.stdout.write(r.stdout)
    check("unit self-tests", r.returncode == 0, r.stderr[-2000:])


def tiny_runs():
    spec = json.loads(run.SPEC.read_text())
    for w in spec["workloads"]:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                                "--seed", "3", "--seconds", "4", "--trace", str(trace), "--tiny"],
                               cwd=ROOT, capture_output=True, text=True, timeout=300)
            name = f"{w['name']} trace {trace}"
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                check(name, False, f"exit {r.returncode}: {r.stderr[-1500:]}")
                continue
            last = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            check(f"{name}: result keys", sorted(last) == ["attempted", "correct", "failed", "metrics"],
                  str(sorted(last)))
            check(f"{name}: correct, nothing failed", last["correct"] and last["failed"] == 0
                  and last["attempted"] >= 1, str({k: last[k] for k in ("correct", "attempted", "failed")}))
            check(f"{name}: every metric with its unit", got == want,
                  f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                  f"units {[k for k in want if k in got and got[k] != want[k]]}")
            check(f"{name}: values are numbers",
                  all(isinstance(v["value"], (int, float)) for v in last["metrics"].values()))


def bare_directory():
    bare = run.build_dir() / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(run.SPEC, bare / "BENCHMARK.json")
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads(run.SPEC.read_text())
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    r = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                                          "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180, env=env)
    shutil.rmtree(bare, ignore_errors=True)
    check("bare directory: non-zero exit, no result", r.returncode != 0 and "{" not in r.stdout,
          f"exit {r.returncode}, stdout {r.stdout[-300:]}")


if __name__ == "__main__":
    unit_tests()
    tiny_runs()
    bare_directory()
    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)
