#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload etl_drift --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's Scala code from source on first use
(sbt, offline), then runs one closed-loop measurement in a fresh JVM and prints,
as the last line, one JSON object with the metrics BENCHMARK.json declares
for the mode (end_to_end for --trace 0, per_layer for --trace 1). Exits
nonzero when the build fails, a declared metric is missing, or an output
check fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(BUILD, "launch.json")


def sources():
    """Every file whose change needs a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                yield p


def digest():
    """Hash of every source path with its size and mtime, so that a changed,
    added or removed file triggers a rebuild."""
    h = hashlib.sha256()
    for p in sorted(sources()):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt and record the classpath and JVM options to run with."""
    want = digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            launch = json.load(f)
        if launch.get("sources") == want:
            return launch
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources next to perfbench/ - run from a checkout root")
    env = dict(os.environ, SPARK_DRIVER_MEM="4g")
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "writeLaunch"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0 or not os.path.exists(STAMP):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(STAMP) as f:
        launch = json.load(f)
    launch["sources"] = want
    with open(STAMP, "w") as f:
        json.dump(launch, f)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    launch = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + launch["jvm_options"] +
           [f"-Djava.io.tmpdir={tmp}", "-cp", launch["classpath"], "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK,
            "--expected", os.path.join(HERE, "expected", "gate_mix.json")])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    last = None
    try:
        for line in p.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
    finally:
        p.stdout.close()
        code = p.wait()
    try:
        result = json.loads(last or "")
    except ValueError:
        if last:
            print(last)
        sys.exit(f"perfbench: the benchmark program exited {code} without a result")
    missing = [m["name"] for m in declared if m["name"] not in result["metrics"]]
    if missing:
        sys.exit(f"perfbench: metrics missing from the result: {missing}")
    print(json.dumps({
        "correct": bool(result["correct"]) and code == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
