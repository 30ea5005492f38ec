#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the library
and the harness with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run then starts one fresh
JVM with one SparkSession (local[nproc], shuffle partitions = nproc) that
generates its inputs from the seed, measures a fixed number of passes of
the workload's work (set by --seconds) and checks its outputs. Every run
gets its own work directory (tmpdir, warehouse, outputs) under
.bench_build/, removed afterwards.

The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). A run record with the raw samples, the
session settings and the host-noise figures goes to stderr as one JSON
line and, with --trace 1, the spans to .bench_build/traces/. A traced
run's overhead (trace.overhead_s) is its wall minus the untraced wall_s
of the same workload and seed from an earlier run in this checkout
(.bench_build/history.jsonl). Exit code 1 when an output check fails, 2
when the checkout cannot be built or run.
"""

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import benchlib  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
MANIFEST = os.path.join(HERE, "target", "bench-manifest.txt")
STAMP = os.path.join(BUILD, "build-stamp")
HEAP = "3g"
JVM_TIMEOUT = 150
WORKLOADS = ("etl_release", "ops_churn")


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("run from the root of a graft source checkout (src/main/scala/graft, build.sbt)")
    stamp = source_stamp()
    if os.path.isfile(MANIFEST) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("run.py: building (sbt benchManifest)", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchManifest"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0 or not os.path.isfile(MANIFEST):
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_command():
    cp, opts = [], []
    with open(MANIFEST) as f:
        for line in f:
            kind, _, val = line.rstrip("\n").partition("\t")
            (cp if kind == "cp" else opts).append(val)
    # the library's forked-JVM options, with the heap sized for a shared
    # host and fixed (-Xms = -Xmx), so heap resizing does not vary by run
    opts = [o for o in opts if not o.startswith(("-Xmx", "-Xms"))] + [f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + opts, os.pathsep.join(cp)


RUNNING = []


def stop_running(signum, _frame):
    """Kill a JVM still running when run.py itself is stopped."""
    for j in RUNNING:
        j.kill()
    sys.exit(128 + signum)


class Jvm:
    """One benchmark JVM in its own process group; `ready_s` is the time
    from launch to its READY line (set-up)."""

    def __init__(self, work, args):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd, cp = java_command()
        cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
                "graftbench.Main", "--work", work] + args
        self.log_path = os.path.join(work, "jvm.log")
        self.log = open(self.log_path, "w")
        self.ready_s = None
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=self.log,
                                  stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        RUNNING.append(self)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.p.stdout:
            if line.strip() == "READY" and self.ready_s is None:
                self.ready_s = time.perf_counter() - self.t0

    def wait(self, timeout):
        try:
            rc = self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            rc = None
        self.reader.join(timeout=10)
        self.log.close()
        RUNNING.remove(self)
        return rc

    def kill(self):
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.p.wait()

    def log_tail(self, n=40):
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def read(path):
    with open(path) as f:
        return f.read()


def run_jvm(work, args, timeout):
    j = Jvm(work, args)
    rc = j.wait(timeout)
    if rc != 0 or j.ready_s is None:
        print(j.log_tail(), file=sys.stderr)
        fail(f"benchmark JVM failed (exit {rc})")
    return j


def untraced_wall(history, workload, seed):
    """The untraced wall_s a traced run is compared with: the same
    workload and seed from an earlier --trace 0 run in this checkout,
    else the median over its seeds; None when there is none."""
    if not os.path.isfile(history):
        return None
    rows = [json.loads(line) for line in read(history).splitlines() if line.strip()]
    rows = [r for r in rows if r["workload"] == workload]
    same = [r["wall_s"] for r in rows if r["seed"] == seed]
    return benchlib.median(same or [r["wall_s"] for r in rows])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_running)
    signal.signal(signal.SIGINT, stop_running)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found: run from the checkout root")
    spec = json.loads(read(bench_json))
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    undocumented = [m["name"] for m in spec["end_to_end"] if m["name"] not in layers["end_to_end"]]
    undocumented += [m["name"] for m in spec["per_layer"] if m["name"] not in layers["per_layer"]]
    if undocumented:
        fail(f"metrics without an entry in perfbench/layers.json: {undocumented}")
    build()

    os.makedirs(BUILD, exist_ok=True)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    stat0, load0 = benchlib.parse_stat(read("/proc/stat")), os.getloadavg()[0]
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    try:
        work = os.path.join(run_dir, "main")
        rec_path = os.path.join(run_dir, "record.json")
        main_jvm = run_jvm(work, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--cache", os.path.join(BUILD, "cache"),
                                  "--out", rec_path], JVM_TIMEOUT)
        record = json.loads(read(rec_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    own_cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    noise = benchlib.host_noise(stat0, benchlib.parse_stat(read("/proc/stat")), load0,
                                os.getloadavg()[0], own_cpu)

    expected_path = os.path.join(HERE, "expected", f"{a.workload}.json")
    expected = json.loads(read(expected_path)) if os.path.isfile(expected_path) else {}
    history = os.path.join(BUILD, "history.jsonl")
    res = benchlib.evaluate(a.workload, a.seed, record, main_jvm.ready_s, noise, expected, layers,
                            untraced_wall(history, a.workload, a.seed))
    if not a.trace and res["correct"]:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "wall_s": res["metrics"]["wall_s"]}) + "\n")
    section = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    values = {name: res["metrics"][name] for name in units}

    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(record.get("trace", {}), f)
    print(json.dumps({"record": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "settings": record["settings"], "harness": record["harness"],
        "host": noise, "check_s": record["check_s"],
        "ops": [[o["kind"], o["name"], o["s"]] for o in record["passes"][0]["ops"]],
        "checks": res["checks"], "all_metrics": res["metrics"]}}), file=sys.stderr)
    print(benchlib.metric_line(res["correct"], res["attempted"], res["failed"], values, units))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
