#!/usr/bin/env python3
"""Run one workload of the VCF cohort benchmark.

    python3 perfbench/run.py --workload load_cohort --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all --seed 1
    python3 perfbench/run.py --smoke

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs start the JVM directly. The
last line of standard output is the result JSON. --all runs the three
workloads untraced, one after another, and ends with one JSON line whose
metric names are prefixed by the workload. --smoke runs a tiny
pass of every workload, untraced and traced, on a JVM whose default
locale writes decimal commas, and checks that every result parses and
carries the metrics BENCHMARK.json lists.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
WORKLOADS = ["load_cohort", "lookup_serve", "prs_workbench"]
# A run must end within 180 s, and the first run in a checkout, which
# builds, within 900 s: the JVM gets what is left of that after the build
# check, so a slow host ends the run with an error rather than overrunning.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
STARTED = time.time()

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return max(os.path.getmtime(p) for p in paths)


def classpath():
    """Build with sbt unless a classpath newer than every source exists.
    Returns the classpath and whether this call built it. Entries inside
    the checkout are cached relative to it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_source():
        cp = [os.path.join(ROOT, p) for p in open(CLASSPATH).read().strip().split(os.pathsep)]
        if all(os.path.exists(p) for p in cp):
            return os.pathsep.join(cp), False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=f, text=True,
                timeout=BUILD_LIMIT_S - RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        f.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(os.pathsep.join(
            os.path.relpath(p, ROOT) if os.path.abspath(p).startswith(ROOT + os.sep) else p
            for p in cp.split(os.pathsep)) + "\n")
    return cp, True


def run(cp, workload, seed, seconds, trace, size="full", extra_jvm=(), limit=RUN_LIMIT_S):
    """Run one workload, stopping it after `limit` seconds; returns (exit
    code, stdout lines)."""
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           # a fixed heap and young generation, and few malloc arenas (env
           # below), keep the process's peak RSS from swinging run to run
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + list(extra_jvm) +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--size", size,
            "--work", work, "--out", os.path.join(BUILD, "trace")])
    with open(log, "w") as err:
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
            print(f"perfbench: {workload} stopped at its time limit ({limit:.0f}s); see {log}",
                  file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 124, []
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        print(f"perfbench: {workload} exited {p.returncode}; see {log}", file=sys.stderr)
    return p.returncode, out.splitlines()


def smoke(cp):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    german = ["-Duser.language=de", "-Duser.country=DE"]
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            code, lines = run(cp, w, 7, 1, trace, size="tiny", extra_jvm=german)
            try:
                res = json.loads(lines[-1])
                got = set(res["metrics"])
                good = (code == 0 and res["correct"] and got == want[trace]
                        and all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()))
            except (IndexError, ValueError, KeyError, TypeError):
                good, got = False, set()
            print(f"smoke {w} trace={trace}: {'ok' if good else 'FAILED'} "
                  f"({time.time() - t0:.1f}s)" +
                  ("" if good else f" missing={sorted(want[trace] - got)} extra={sorted(got - want[trace])}"))
            ok = ok and good
    return 0 if ok else 1


def run_all(cp, seed, seconds):
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, lines = run(cp, w, seed, seconds, 0)
        for line in lines[:-1]:
            print(line)
        worst = worst or code
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            total["correct"] = False
            continue
        total["correct"] = total["correct"] and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{w}.{k}"] = v
    print(json.dumps(total))
    return worst


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not (a.smoke or a.all or a.workload):
        ap.error("--workload, --all or --smoke is required")
    cp, built = classpath()
    if a.smoke:
        sys.exit(smoke(cp))
    if a.all:
        sys.exit(run_all(cp, a.seed, a.seconds))
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - STARTED)
    code, lines = run(cp, a.workload, a.seed, a.seconds, a.trace, limit=limit)
    for line in lines:
        print(line)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
