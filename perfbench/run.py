#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload agent_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (into target/ directories of the checkout)
and records the JVM launch line; later runs reuse it until a source file
changes. The benchmark JVM writes its outcome to .bench_build/perfbench/;
this script prints the full breakdown, then, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics: the end_to_end metrics of BENCHMARK.json when --trace is 0, the
per_layer metrics when it is 1. It exits 0 when every output check passed,
1 when one failed, and with another non-zero code, printing no result,
when it cannot build or run the benchmark.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(WORK, "build.stamp")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
HEAP = "-Xmx3g"


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to ROOT, in a stable order."""
    out = []
    for top in ("build.sbt", "project", os.path.join("src", "main"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project"),
                os.path.join("perfbench", "src")):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last build."""
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            die(4, f"build timed out after {BUILD_LIMIT_S}s; see {log}")
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(4, f"build failed (sbt exit {rc}); see {log}")
    with open(STAMP, "w") as f:
        f.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die(2, "BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(2, f"engine sources missing ({need}); run from the root of a full checkout")

    os.makedirs(WORK, exist_ok=True)
    build()
    started = time.monotonic()

    with open(LAUNCH) as f:
        launch = f.read().split("\n")
    launch = [x for x in launch if x]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", HEAP, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + launch + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", run_dir, "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as jvm_out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jvm_out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    with open(log) as f:
        tail = f.read()[-6000:]
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc is None:
        sys.stderr.write(tail)
        die(5, "benchmark JVM ran out of time and was stopped")
    if rc not in (0, 1) or not os.path.exists(out):
        sys.stderr.write(tail)
        die(5, f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        res = json.load(f)

    key = "per_layer" if a.trace else "end_to_end"
    got = {m["name"]: m for m in res["metrics"]}
    metrics = {}
    for m in spec[key]:
        have = got.pop(m["name"], None)
        if have is None or have["unit"] != m["unit"]:
            die(5, f"{key} metric {m['name']} [{m['unit']}] missing or in another unit")
        metrics[m["name"]] = {"value": have["value"], "unit": m["unit"]}
    if got:
        die(5, f"metrics not declared in BENCHMARK.json {key}: {sorted(got)}")

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    for k, v in res["env"].items():
        print(f"  env {k} = {v}")
    for m in res["table"]:
        print(f"  {m['name']:<34} {m['value']:>16.6f} {m['unit']}")
    for msg in res["failures"]:
        print(f"  FAILED CHECK: {msg}")
    trace_file = out[:-len(".json")] + ".trace.json"
    if a.trace and os.path.exists(trace_file):
        with open(trace_file) as f:
            trace = json.load(f)
        print(f"  trace written to {os.path.relpath(trace_file, ROOT)}; span self times:")
        for t in trace["self_times"]:
            print(f"    {t['name']:<32} {t['calls']:>5} calls {t['total_ms']:>12.1f} ms total "
                  f"{t['self_ms']:>12.1f} ms self")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
