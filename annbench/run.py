#!/usr/bin/env python3
"""Annotate benchmark: builds the engine and the benchmark from source,
runs one workload, checks its output and prints its metrics.

    python3 annbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics; metrics are the
BENCHMARK.json end_to_end metrics (--trace 0) or per_layer metrics
(--trace 1). The full result, with input properties, environment and
checks, is kept under the build directory in results/. The exit code is
non-zero when a check fails or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = ROOT / "BENCHMARK.json"
MAIN_SOURCES = ROOT / "src" / "main" / "scala"
# a run must end within 180 s; the JVM gets what is left after the build
JVM_TIMEOUT_S = 170
HEAP = "3g"
# no hsperfdata file in the system temp directory: nothing is written
# outside the checkout
JVM_FLAGS = ["-XX:-UsePerfData"]
# Spark on JDK 17 needs these outside spark-submit (as build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BenchError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")
        d = Path(m.group(1))
    if not list(d.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Scala compiler among the Spark jars in {d}")
    return d


def compile_stage(name, srcs, classpath, jars):
    """Compiles `srcs` into build_dir()/classes/<name> unless they are
    unchanged since the last build of that stage; returns the directory
    and the stamp that identifies its sources."""
    h = hashlib.sha256()
    for c in classpath:
        h.update((c / ".stamp").read_bytes())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes" / name
    if (out / ".stamp").exists() and (out / ".stamp").read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / f"sources-{name}.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cp = os.pathsep.join([str(c) for c in classpath] + [f"{jars}/*"])
    print(f"[annbench] compiling {len(srcs)} {name} sources", file=sys.stderr, flush=True)
    r = subprocess.run(["java", *JVM_FLAGS, "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", str(out), f"@{argfile}"],
                       stdout=sys.stderr, timeout=700)
    if r.returncode != 0:
        raise BenchError(f"compiling the {name} sources failed")
    (out / ".stamp").write_text(stamp)
    return out


def build(jars):
    """Builds the engine (src/main/scala) from source, then the benchmark
    against it; returns the class directories."""
    if not MAIN_SOURCES.is_dir():
        raise BenchError(f"engine sources not found: {MAIN_SOURCES.relative_to(ROOT)}")
    main = compile_stage("main", sorted(MAIN_SOURCES.rglob("*.scala")), [], jars)
    bench = compile_stage("bench", sorted((HERE / "src").glob("*.scala")), [main], jars)
    return [main, bench]


def expected_metrics(trace):
    spec = json.loads(SPEC.read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classes, jars, a):
    bd = build_dir()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-tiny' if a.tiny else ''}"
    work = bd / "work" / f"{tag}-{os.getpid()}"
    results = bd / "results"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{tag}.json"
    if out.exists():
        out.unlink()
    # a fixed heap, no resizing while measuring; the parallel collector
    # has no concurrent phases to compete with the measured threads; the
    # heap is touched at start, so no page fault lands in a measured phase,
    # and backed by huge pages, for fewer TLB misses on the dictionary's
    # hash tables
    cmd = ["java", *JVM_FLAGS, "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join([str(c) for c in classes] + [f"{jars}/*"]), "annbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(out)]
    if a.tiny:
        cmd.append("--tiny")
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"the run did not end within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not out.exists():
        raise BenchError(f"the run wrote no result (exit code {r.returncode})")
    return json.loads(out.read_text()), out


def report(res, trace):
    want = expected_metrics(trace)
    got = res["per_layer" if trace else "end_to_end"]
    missing = [k for k in want if k not in got]
    wrong_unit = [k for k in want if k in got and got[k]["unit"] != want[k]]
    if missing or wrong_unit:
        raise BenchError(f"metrics missing {missing}, with another unit {wrong_unit}")
    print(f"workload {res['workload']}  seed {res['seed']}  seconds {res['seconds']}  trace {int(trace)}")
    print("inputs " + json.dumps(res["inputs"], sort_keys=True))
    print("env    " + json.dumps(res["env"], sort_keys=True))
    print("checks " + json.dumps(res["checks"], sort_keys=True))
    for p in res["problems"]:
        print("FAILED " + p)
    for section in ("end_to_end", "per_layer"):
        for k, m in res[section].items():
            print(f"{section:10s} {k:36s} {m['value']:>16.6g} {m['unit']}")
    print(f"ops_failed_ratio {res['ops_failed_ratio']:.6g} ({res['failed']} of {res['attempted']})")
    return {k: {"value": got[k]["value"], "unit": want[k]} for k in want}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tiny", action="store_true", help="small inputs, for self-tests")
    a = p.parse_args(argv)
    try:
        jars = spark_jars()
        classes = build(jars)
        res, path = run_jvm(classes, jars, a)
        metrics = report(res, a.trace == 1)
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        print(f"[annbench] error: {e}", file=sys.stderr)
        return 2
    print(f"result file {path.relative_to(ROOT) if path.is_relative_to(ROOT) else path}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
