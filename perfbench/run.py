#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program from
../src/main/scala together with the harness in perfbench/src (sbt, offline,
output under .bench_build/); later runs reuse the build until a source file
changes. Each run then starts one JVM with
a fixed heap on all the cores this process may use, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

as its last stdout line: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. It exits non-zero when a
correctness check failed, and without a result when the program cannot be
built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
HEAP = "1536m"
RUN_TIMEOUT_S = 170
# -XX:-UsePerfData: no hsperfdata file in the system temp directory
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.server.autostart=false "
            "-XX:-UsePerfData -Xmx2g")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness unless the stamped build is current."""
    if not os.path.isdir(PROGRAM):
        sys.exit(f"run.py: program sources not found at {PROGRAM}")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"run.py: build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(cp, cores, tmp, main_args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:+AlwaysPreTouch: the whole heap is touched at start-up, so pages the
    # VM's host must first back (freed memory a host may have reclaimed) cost
    # set-up time once, not measured time in whichever run grows into them
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-XX:ActiveProcessorCount={cores}", "-XX:-UsePerfData"] +
            opens +
            [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Main"] + main_args)


def run_java(cmd, cwd, timeout):
    """Runs the JVM, passing its stderr through; returns (rc, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"run.py: run exceeded {timeout} s")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full-result", help="also write every metric the run measured to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"run.py: unknown workload {a.workload}")
    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
        f"cores={cores} heap={HEAP}")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir]
        rc, lines = run_java(java_cmd(cp, cores, tmp, args), run_dir, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    results = [l for l in lines if l.startswith("{")]
    if rc not in (0, 1) or not results:
        sys.exit(f"run.py: the benchmark process failed (rc={rc})")
    res = json.loads(results[-1])
    for path in [os.path.join(run_dir, "result.json")] + ([a.full_result] if a.full_result else []):
        with open(path, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        sys.exit(f"run.py: metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
