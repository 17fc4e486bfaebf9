#!/usr/bin/env python3
"""Standing benchmark runner.

    python3 graftbench/run.py --workload serve|churn --seed N \
        --seconds S --trace 0|1 [--toy] [--rows N] [--dim N]

Run from the root of a checkout. Builds the library and the harness
from source on first use (sbt, into .bench_build/), then runs one JVM
per call. The harness prints a `# record` diagnostics line; this script
checks the result line against BENCHMARK.json and prints it last.
Everything a run writes lands under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "graftbench")
OUT = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(OUT, "sbt-target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
# class-data sharing archive of the harness JVM: written at the exit of
# the first run after a build, mapped by every later run (faster start)
CDS = os.path.join(OUT, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:disable",
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("[graftbench] building", file=sys.stderr)
    if os.path.exists(CDS):
        os.remove(CDS)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.forcestart=false", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, extra, timeout):
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cds = (f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS)
           else f"-XX:ArchiveClassesAtExit={CDS}")
    cmd = ["java", *JVM_OPTS, cds, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graftbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work,
           "--data", os.path.join(BENCH, "data"), *extra]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        traces = os.path.join(run_dir, "traces")
        if os.path.isdir(traces):
            dest = os.path.join(OUT, "traces")
            os.makedirs(dest, exist_ok=True)
            for f in os.listdir(traces):
                shutil.move(os.path.join(traces, f), os.path.join(dest, f))
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out.splitlines()


def validate(result, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in
            spec["per_layer" if trace else "end_to_end"]}
    got = result.get("metrics", {})
    problems = [f"metric set differs: missing {sorted(set(want) - set(got))}, "
                f"extra {sorted(set(got) - set(want))}"] if set(want) != set(got) else []
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            problems.append(f"{name}: unit {m.get('unit')} != {unit}")
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: value {m.get('value')} is not a number")
    return problems


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--toy", action="store_true",
                   help="toy shapes: every workload in seconds")
    p.add_argument("--rows", type=int, help="corpus rows (default shape: 6000)")
    p.add_argument("--dim", type=int, help="vector dims (default shape: 48)")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    extra = (["--toy"] if args.toy else []) + [
        a for k in ("rows", "dim") if getattr(args, k)
        for a in (f"--{k}", str(getattr(args, k)))]
    build()
    # the run-time guard holds for the benchmark's own shapes; a larger
    # corpus asked for by hand may build for many minutes
    code, lines = run_jvm(args, extra,
                          None if args.rows or args.dim else RUN_TIMEOUT_S)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"harness exited with {code}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"last line is not a result: {lines[-1][:200]}")
    problems = validate(result, args.trace == 1)
    if problems:
        fail("; ".join(problems))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
