#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark from the checkout's sources (once;
later runs reuse the build while the sources are unchanged), generates the
workload's inputs from the seed, runs the workload in one JVM on
local[nproc], checks every result outside the timed region, and prints as
its last line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a separate traced run.
The lines before it are the run manifest and the workload's full report.
Exits non-zero, without a result line, when the checkout cannot be built
or run, and non-zero after the result line when a check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

STATE = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 840
RUN_MARGIN_S = 140


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every input to the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile the library and the benchmark; returns (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: nothing to build")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.json")
    digest = source_digest()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)[:2]):
            return stamp["classpath"], stamp["java_options"]
    try:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "show javaOptions"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    jo = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    if not cp or not jo:
        fail("could not read the classpath from the build", 3)
    stamp = {"digest": digest, "classpath": cp[-1], "java_options": jo}
    with open(stamp_file, "w") as f:
        json.dump(stamp, f)
    return stamp["classpath"], stamp["java_options"]


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def manifest(a, props, result, load0, cpu0):
    cpu1 = cpu_times()
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "seed": a.seed, "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "git_commit": commit, "source_sha256": source_digest(),
        "nproc": os.cpu_count(), "load1_start": load0, "load1_end": os.getloadavg()[0],
        # CPU time the hypervisor gave to other guests while the run lasted
        "cpu_steal_frac": (None if cpu0 is None or cpu1 is None or cpu1[1] == cpu0[1]
                           else (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])),
        "jvm": result.get("jvm"), "spark": result.get("spark"),
        "inputs": props,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    classpath, java_opts = build()

    import gen
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    props = gen.generate(a.seed, a.workload, data)
    props["input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                               for d, _, fs in os.walk(data) for f in fs)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = shutil.which("java") or fail("java not found on PATH")
    cmd = [java, *java_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--dir", data, "--work", run_dir,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed)]
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=a.seconds + RUN_MARGIN_S)
        except subprocess.TimeoutExpired:
            fail("workload run timed out", 4)
    result_file = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.isfile(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"workload run failed (exit {p.returncode})", 4)
    with open(result_file) as f:
        result = json.load(f)

    result["phases"]["jvm_wall_s"] = time.time() - t_jvm
    result["phases"]["before_jvm_s"] = t_jvm - t_start
    # correctness: named invariants from the run, and the DuckDB oracle on
    # every served result the run kept
    checks = dict(result["invariants"])
    check_dir = result["check_dir"]
    if os.path.isfile(os.path.join(check_dir, "oracle_sql.json")):
        oracle = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                                 data, check_dir], cwd=run_dir, capture_output=True, text=True,
                                timeout=60)
        with open(os.path.join(run_dir, "oracle.log"), "w") as f:
            f.write(oracle.stdout + oracle.stderr)
        checks["duckdb_oracle"] = oracle.returncode == 0
        summary = [l for l in oracle.stdout.splitlines() if "oracle-matched" in l]
        print("perfbench oracle:", summary[-1] if summary else oracle.stdout[-500:])
    result["phases"]["total_s"] = time.time() - t_start
    correct = all(checks.values()) and result["attempted"] > 0
    if not correct:
        print("perfbench failed checks:", sorted(k for k, v in checks.items() if not v))

    print("perfbench manifest:", json.dumps(manifest(a, props, result, load0, cpu0), sort_keys=True))
    print("perfbench report:", json.dumps({
        "workload": a.workload, "end_to_end": result["end_to_end"], "report": result["report"],
        "ops_measured": result["ops_measured"], "samples_per_round_op": result["samples_per_round_op"],
        "op_typical_ms": result["op_typical_ms"],
        "setup_runs_s": result["setup_runs_s"], "phases": result["phases"], "checks": checks}, sort_keys=True))
    if a.trace:
        got = result["per_layer"]
        if set(got) != {m["name"] for m in bench["per_layer"]}:
            fail("per-layer metrics of the run differ from BENCHMARK.json: "
                 f"{sorted(set(got) ^ {m['name'] for m in bench['per_layer']})}", 5)
        metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result["end_to_end"][m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    missing = sorted(k for k, v in metrics.items() if v["value"] is None)
    if missing:
        fail(f"no measurement for {missing}: an op never completed within the run", 5)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    # keep the run's result, logs and trace; drop the bulky inputs and tables
    for d in os.listdir(run_dir):
        path = os.path.join(run_dir, d)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
