#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the engine and the harness with
sbt (the `perfbench` build compiles the repo's own build one directory up);
later runs reuse the build while no source file changed. The workload runs
in one JVM (`graft.perfbench.PerfBench`, local[<cores>] Spark) with every
scratch file under perfbench/.work. The last stdout line is the result JSON;
it is printed only when it names exactly the metrics BENCHMARK.json declares
for the mode. Exit code: 0 = all outputs correct, 1 = an output check
failed, 2 = cannot build or run here.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The heap is capped, not pre-sized. The serial collector sizes it from the
# live data alone (G1 grows it by its GC-time target, which varies with the
# host's speed), and two malloc arenas keep native memory from varying with
# thread scheduling: peak RSS then follows the program from run to run.
JVM = ["-Xmx3g", "-XX:+UseSerialGC"]
ENV = {"MALLOC_ARENA_MAX": "2"}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Digest of every input the build reads: the engine's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties", "Register"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded source digest still matches."""
    digest = source_hash()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")).strip()
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid(result, trace):
    """The result line names exactly the declared metrics, with their units."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return "result keys"
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return "attempted"
    want = declared(trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        return f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}"
    bad = [k for k, v in result["metrics"].items() if not isinstance(v.get("value"), (int, float))]
    return f"non-numeric values {bad}" if bad else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Jobs.scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repo")
    build()

    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *jvm_opts, *JVM,
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           "-Dderby.system.home=" + run_dir,
           "-cp", classpath, "graft.perfbench.PerfBench",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", os.path.join(run_dir, "data"),
           "--fixture", os.path.join(HERE, "fixture"),
           "--spans", os.path.join(WORK, f"{a.workload}.spans.jsonl")]
    log_path = os.path.join(WORK, f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                env=dict(os.environ, **ENV))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(log_path) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)

    lines = [x for x in out.splitlines() if x.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line (exit {proc.returncode}, log: {log_path})")
    problem = valid(result, a.trace)
    if problem:
        fail(f"invalid result line: {problem}")
    print(json.dumps(result))
    if proc.returncode != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
