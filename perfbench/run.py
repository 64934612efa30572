#!/usr/bin/env python3
"""graft benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload <connector|curation>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark together
with the checkout's own sources (sbt, into .bench_build/); later runs reuse
the build while the sources are unchanged. Scratch data lives in .bench_run/
and is removed when the run ends. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json when --trace 0, and its
per-layer metrics when --trace 1. See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CONFIG = os.path.join(ROOT, "conf", "config.sample.yaml")
WORKLOADS = ("connector", "curation")
DEADLINE_S = 170  # whole-run budget once the build exists

sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark build, compiling first if the sources moved."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, args, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out, "--config", CONFIG]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-6000:])
        fail("benchmark process %s" % ("timed out" if rc is None else "exited with %d" % rc))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"), CONFIG, oracle.TOOLS):
        if not os.path.exists(need):
            fail("%s is missing: run from the root of a graft checkout" % os.path.relpath(need, ROOT))
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    start = time.time()
    work = os.path.join(RUNS, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "raw.json")
        run_jvm(cp, args, work, out, start + DEADLINE_S)
        with open(out) as f:
            raw = json.load(f)
        failures = list(raw["failures"])
        failed = raw["failed"]
        if args.workload == "curation":
            bad = oracle.check_run(raw, work)
            failures += bad
            failed += len(bad)
        for msg in failures:
            print("check failed: " + msg, file=sys.stderr)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = metrics.per_layer(raw) if args.trace else metrics.end_to_end(raw)
        result = {
            "correct": not failures,
            "attempted": int(raw["attempted"]),
            "failed": int(failed),
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                        for m in wanted},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
