#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <build|analyze_suite> --seed <n> \
        --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness from source
with sbt (offline) into .bench_build/; later runs reuse the build while the
sources are unchanged. The harness (perfbench/src) runs the workload in one
JVM and writes result.json; this script adds the suite's DuckDB oracle
check and prints the final line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. BENCHMARK.json names both sets.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
CHECK_ORACLE = os.path.join(ROOT, "scripts", "check_oracle.py")
# every run must end within 180 s; leave room to report
DEADLINE_S = 175
# what a run needs after the harness JVM exits: the suite's oracle check
CHECK_RESERVE_S = 12

# the same list as build.sbt's jdk17AddOpens: Spark 4 on JDK 17 needs them
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", flush=True)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(d, "*.sbt")) + glob.glob(os.path.join(d, "*.properties"))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Build the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("run.py: the program's sources (build.sbt, src/main/scala) are not "
                 "next to perfbench/; run from the root of a checkout")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("digest") == digest and all(os.path.exists(p) for p in st["classpath"]):
            return st["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # sbt's own state goes into the checkout too; the dependency caches are
    # only read
    env["SBT_OPTS"] += (f" -Dsbt.global.base={BUILD}/sbt-global -Dsbt.server.autostart=false"
                        f" -Djava.io.tmpdir={BUILD}/tmp")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log("building the program and the harness with sbt")
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export perfbench/Runtime/fullClasspath"],
                      cwd=HERE, env=env, deadline=deadline, capture=True)
    lines = [l.strip() for l in out.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        sys.stderr.write(out[-4000:])
        sys.exit("run.py: sbt did not print a classpath")
    cp = lines[-1].split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_bounded(cmd, cwd, env=None, deadline=None, capture=False):
    """Run cmd in its own process group; kill the group at the deadline,
    or when this script is told to stop."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None,
                            stderr=subprocess.STDOUT if capture else None, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run.py: stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run.py: {cmd[0]} did not finish in time; killed")
    finally:
        # no process of the run may outlive it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        if capture:
            sys.stderr.write(out[-4000:])
        sys.exit(f"run.py: {cmd[0]} exited with code {proc.returncode}")
    return out or ""


def java_cmd(cp, tmp, main_class, args):
    """The harness JVM: a fixed 4 GB heap, temporary files under tmp."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join(cp), main_class] + args


def check_suite(run_dir, deadline):
    """Compare the query results of each pass the harness marked with an
    oracle_sql.json with their oracleSql twins in DuckDB, through the repo's
    scripts/check_oracle.py."""
    attempted = failed = 0
    for f in sorted(glob.glob(os.path.join(run_dir, "suite", "pass*", "oracle_sql.json"))):
        d = os.path.dirname(f)
        p = subprocess.run([sys.executable, CHECK_ORACLE, DATA, d], capture_output=True,
                           text=True, timeout=max(1.0, deadline - time.time()))
        m = re.search(r"^(\d+)/(\d+) queries match$", p.stdout, re.M)
        if not m:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            sys.exit(f"run.py: {CHECK_ORACLE} printed no 'N/M queries match' line")
        ok, n = int(m.group(1)), int(m.group(2))
        attempted += n
        failed += n - ok
        if ok != n:
            log(f"ORACLE MISMATCH in {os.path.relpath(d, run_dir)}:\n" + p.stdout.strip())
    log(f"suite oracle: {attempted - failed}/{attempted} results match DuckDB")
    return attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "analyze_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build(deadline=time.time() + 850)
    # the first run of a checkout builds; the run's own time starts here
    deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        cmd = java_cmd(cp, tmp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", run_dir, "--data", DATA,
            "--budget-s", f"{deadline - time.time() - CHECK_RESERVE_S:.1f}"])
        t0 = time.time()
        run_bounded(cmd, cwd=run_dir, deadline=deadline)
        log(f"harness JVM ran {time.time() - t0:.1f} s")
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "analyze_suite":
            t0 = time.time()
            at, fa = check_suite(run_dir, deadline)
            log(f"suite oracle check took {time.time() - t0:.1f} s")
            attempted, failed = attempted + at, failed + fa
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        metrics = res["layers"]
        declared = spec["per_layer"]
    else:
        metrics = {k: {"value": statistics.median(res[k]), "unit": "s"}
                   for k in ("setup_s", "pass_s")}
        declared = spec["end_to_end"]
    got = sorted((k, m["unit"]) for k, m in metrics.items())
    if got != sorted((m["name"], m["unit"]) for m in declared):
        sys.exit("run.py: the metrics measured differ from those BENCHMARK.json declares")
    log(f"fail_ratio={failed / attempted:.4f} ({failed} of {attempted} operations and checks)")
    for k in ("setup_s", "pass_s"):
        log(f"{k}: " + " ".join(f"{v:.3f}" for v in res[k]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
