#!/usr/bin/env python3
"""Indexer benchmark: one command per workload run.

    python3 perfbench/run.py --workload {indexer,registry} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The Scala side (perfbench.Main)
generates the seeded workload, drives the program's public entry points and
checks the store and API results; this script adds the DuckDB oracle check
of the registry slice (through the repository's dev/compare.py) and prints
the result. The last line of stdout is the result JSON; the line before it
lists the workload's named end-to-end metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("indexer", "registry")
# The registry slice reads the corpus described in TESTDATA.md (read only).
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
JVM_TIMEOUT_S = 170
OUT = os.path.join(ROOT, ".bench_out")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            if os.sep + "target" in d:
                continue
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    cp_file = os.path.join(HERE, "target", "run-classpath.txt")
    stamp_file = os.path.join(HERE, "target", "run-classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp_file
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp_file


def trace_file(args):
    d = os.path.join(OUT, "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}")


def run_jvm(cp_file, args, work):
    with open(cp_file) as fh:
        lines = fh.read().splitlines()
    add_opens, cp = lines[:-1], lines[-1]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + add_opens +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--sf-dir", SF_DIR, "--trace-out", trace_file(args) + ".spans.jsonl"])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the JVM ran longer than {JVM_TIMEOUT_S} s")
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    fail(f"no result from the JVM (exit {proc.returncode})")


def oracle_check(pairs):
    """Hash-compare each registry result with its DuckDB oracle through the
    repository's own comparison (dev/compare.py). Returns mismatching names."""
    if not pairs:
        return []
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    from compare import compare
    outdir = os.path.dirname(pairs[0][1])
    with open(os.path.join(outdir, "oracle_sql.json"), "w") as fh:
        json.dump({name: sql for name, _, sql in pairs}, fh)
    res = compare(outdir, SF_DIR, {name for name, _, _ in pairs})
    bad = [n for n, _, _ in pairs if not res.get(n, "missing").startswith("OK")]
    for n in bad:
        print(f"perfbench: oracle check of {n}: {res.get(n, 'missing')}", file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if args.workload == "registry" and not os.path.exists(os.path.join(ROOT, "dev", "compare.py")):
        fail("the oracle comparison (dev/compare.py) is not in this checkout")
    if args.workload == "registry" and not os.path.isdir(SF_DIR):
        fail(f"registry corpus {SF_DIR} not found")

    cp_file = build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp_file, args, work)
        bad = oracle_check(res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"] + len(bad)
    for name in bad:
        print(f"perfbench: registry result of {name} differs from its DuckDB oracle", file=sys.stderr)
    attempted = max(1, res["attempted"])
    report = dict(res["report"])
    report["error_rate"] = {"value": failed / attempted, "unit": "ratio"}

    gated = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]]
    if any(n not in res["e2e"] for n in gated):
        fail("the run ended without its end-to-end metrics")
    if args.trace:
        metrics = res["layers"]
        with open(trace_file(args) + ".layers.json", "w") as fh:
            json.dump(metrics, fh, indent=1, sort_keys=True)
    else:
        metrics = res["e2e"]
    print("report " + json.dumps({"workload": args.workload, "seed": args.seed, "metrics": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
