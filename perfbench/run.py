#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It builds the engine
together with the harness in perfbench/ (sbt, first run only), runs one
workload in one JVM, checks the outputs untimed (DuckDB), and prints as its
last stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics. Lines before it
name every SPARK_GRAFT_* setting the run saw and the workload's own metrics.
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
WORKLOADS = ("vacancy_daily", "registry_mix")
# Dev-only injections and overrides that change what the program does; a
# recorded run must never carry them.
REFUSED_PREFIXES = ("SPARK_GRAFT_BENCH_",)
REFUSED = ("SPARK_GRAFT_ONLY", "GRAFT_STREAM_STATE_PARTS", "GRAFT_STREAM_CODEGEN")
# registry_mix reads the engine's read-only testdata (TESTDATA.md).
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")
JVM_DEADLINE_S = 150
BUILD_DEADLINE_S = 840
# packages Spark needs opened on JDK 17 (shared with build.sbt's tests)
with open(os.path.join(HERE, "add-opens.txt")) as _fh:
    ADD_OPENS = [line.strip() for line in _fh if line.strip()]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work_root):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log = os.path.join(work_root, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_DEADLINE_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
    if rc != 0:
        die(f"build failed (see {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found: set SPARK_HOME")
    os.environ["SPARK_HOME"] = home
    return home


def run_jvm(classes, args, work, deadline):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_home()}/jars/*", "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), work,
            str(os.cpu_count() or 1), SF_DIR, os.path.join(HERE, "registry_mix.tsv")]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the run overran its deadline", 3)
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        die(f"JVM exited {rc}:\n{tail}", 3)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    refused = sorted(k for k in os.environ
                     if k in REFUSED or any(k.startswith(p) for p in REFUSED_PREFIXES))
    if refused:
        die(f"refusing to run with dev-only settings: {', '.join(refused)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found: run from the root of a checkout of the repository")
    if args.workload == "registry_mix" and not os.path.isdir(SF_DIR):
        die(f"testdata not found at {SF_DIR}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    spark_home()
    classes = build(work_root)
    t_built = time.time()  # the run's deadlines count from here: a first run also builds

    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # engine-side staging stays inside the work dir, whatever tmpfs the host has
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.makedirs(os.environ["SPARK_GRAFT_SCRATCH"])
    stamp = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}
    print("env " + json.dumps(stamp, sort_keys=True))
    try:
        res = run_jvm(classes, args, work, t_built + JVM_DEADLINE_S)
        t_check = time.time()
        import checks
        failed, notes, extra = checks.check(args.workload, res, SF_DIR)
        for n in notes:
            print("check " + n)
        print(f"timing build_s={t_built - t_start:.1f} jvm_s={t_check - t_built:.1f} check_s={time.time() - t_check:.1f}")
        if args.trace:
            src = os.path.join(work, "spans.jsonl")
            if os.path.exists(src):
                shutil.copy(src, os.path.join(work_root, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = dict(res["summary"])
    summary.update(extra)
    summary["setup_s"] = res["end_to_end"]["setup_s"]
    attempted = int(res["attempted"])
    summary["error_rate"] = {"value": failed / max(1, attempted), "unit": "fraction"}
    for k, v in summary.items():
        print(f"metric {args.workload} {k} {v['value']!r} {v['unit']}")
    for k, v in res["info"].items():
        if isinstance(v, (int, float, str)) and len(str(v)) < 200:
            print(f"info {k} {v}")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        source = res["per_layer"]
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        source = res["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    metrics, absent = {}, []
    for n in names:
        if n in source:
            metrics[n] = {"value": source[n]["value"], "unit": units[n]}
        else:
            # a layer this workload does not exercise
            absent.append(n)
            metrics[n] = {"value": 0.0, "unit": units[n]}
    if absent:
        print("absent " + " ".join(absent))
    if not args.trace and absent:
        die("end-to-end metrics missing: " + ", ".join(absent), 3)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
