#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload weather_nc --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source with sbt when the
sources changed since the last build, prepares the seed-independent
inputs once per build, then runs the workload in one JVM on local[4].
The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Other modes:
    --selftest                 the benchmark's own tests (checkers reject
                               corrupted outputs; tiny smoke run of each
                               workload)
    --record-fingerprints F    write the registry's result fingerprints to F
    --lake-stats DIR           value distributions and per-query rows and
                               warm times of the lake in DIR, to compare
                               it with the generated lake under
                               .bench_build/perfbench/data-*/sf

All state lives under .bench_build/perfbench in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("weather_nc", "registry")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def stamp(files, roots=()):
    """Hash of the given files and of every file under `roots`."""
    h = hashlib.sha256()
    files = list(files)
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(key):
    """Compile library + benchmark; return the runtime classpath."""
    cp_file = os.path.join(STATE, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def java(cp, work, args, timeout):
    """Run perfbench.Main (or another main) in a JVM confined to `work`;
    return its standard output."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}", "-cp", cp] + args
    proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True, timeout=timeout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"JVM exited with {proc.returncode}")
    return proc.stdout


def prepare(cp, key):
    """Seed-independent inputs, once per generator version: the
    sf0.1-shaped lake."""
    data = os.path.join(STATE, f"data-{key}")
    if os.path.exists(os.path.join(data, "READY")):
        return data
    for old in os.listdir(STATE):
        if old.startswith("data-"):
            shutil.rmtree(os.path.join(STATE, old))
    log("generating inputs")
    work = os.path.join(STATE, "prepare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java(cp, work, ["perfbench.Main", "--prepare", "1", "--work", work, "--data", data], 600)
    shutil.rmtree(work)
    open(os.path.join(data, "READY"), "w").close()
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-fingerprints")
    ap.add_argument("--lake-stats")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.record_fingerprints or a.lake_stats):
        ap.error("one of --workload, --selftest, --record-fingerprints, --lake-stats is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("run from the root of a checkout: library sources not found")

    # the build depends on every source and build file; the generated
    # inputs only on their generators
    cp = build(stamp([os.path.join(ROOT, "build.sbt"),
                      os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")],
                     [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]))
    scala = os.path.join(ROOT, "src", "main", "scala", "graft")
    data = prepare(cp, stamp([os.path.join(BENCH, "src", "main", "scala", "perfbench", "TableGen.scala"),
                              os.path.join(scala, "sources", "Tables.scala")]))
    name = ("selftest" if a.selftest else "record" if a.record_fingerprints
            else "lake-stats" if a.lake_stats else a.workload)
    work = os.path.join(STATE, f"run-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["perfbench.Main", "--work", work, "--data", data]
    if a.selftest:
        print(java(cp, work, args + ["--selftest", "1"], 900), end="")
        print("selftest passed")
    elif a.lake_stats:
        print(java(cp, work, args + ["--lake-stats", os.path.abspath(a.lake_stats)], 900), end="")
    elif a.record_fingerprints:
        java(cp, work, args + ["--record", os.path.abspath(a.record_fingerprints)], 900)
    else:
        out = java(cp, work, args + ["--workload", a.workload, "--seed", str(a.seed),
                                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                   RUN_TIMEOUT_S)
        lines = out.splitlines()
        result = None
        for i in range(len(lines) - 1, -1, -1):
            try:
                obj = json.loads(lines[i])
            except ValueError:
                continue
            if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = lines[i]
                break
        sys.stderr.write("\n".join(l for l in lines if l != result) + "\n")
        if result is None:
            raise SystemExit("no result line")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(STATE, f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
        print(result, flush=True)


if __name__ == "__main__":
    main()
