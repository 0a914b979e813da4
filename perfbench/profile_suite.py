#!/usr/bin/env python3
"""Profile every SparkEntry query once per pass, the evidence behind the
analyze_suite workload's pinned query set.

Usage, from the root of a checkout:

    python3 perfbench/profile_suite.py [--passes 2] [--out perfbench/suite_profile.tsv]

It builds like run.py, runs perfbench.SuiteProfile over data/sf0.01 in one
JVM with the benchmark's session, and writes a TSV with one line per query
and pass (wall, jobs, task seconds, single-task stage wall, storage left
behind). It then prints each query's share of the suite's wall, taken from
the last pass, and the share the pinned set covers.
"""
import argparse
import csv
import os
import shutil
import time

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(run.HERE, "suite_profile.tsv"))
    a = ap.parse_args()
    cp = run.build(deadline=time.time() + 850)
    work = os.path.join(run.BUILD, "profile")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        run.run_bounded(run.java_cmd(cp, tmp, "perfbench.SuiteProfile",
                                     [run.DATA, work, str(a.passes)]),
                        cwd=work, deadline=time.time() + 400 * a.passes)
        shutil.copyfile(os.path.join(work, "profile.tsv"), a.out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summarize(a.out, a.passes)


def summarize(path, last_pass):
    with open(path) as fh:
        rows = [r for r in csv.DictReader(fh, delimiter="\t") if r["pass"] == str(last_pass)]
    total = sum(float(r["wall_s"]) for r in rows)
    jobs = sum(int(r["jobs"]) for r in rows)
    print(f"pass {last_pass}: {len(rows)} queries, {total:.1f} s, {jobs} jobs")
    for r in sorted(rows, key=lambda r: -float(r["wall_s"])):
        mark = "*" if r["pinned"] == "1" else " "
        print(f"{mark} {r['query']:<32} {float(r['wall_s']):7.3f} s "
              f"{float(r['wall_s']) / total:6.1%} {int(r['jobs']):5d} jobs "
              f"storage {float(r['storage_mb']):8.2f} MB")
    sel = [r for r in rows if r["pinned"] == "1"]
    print(f"pinned set (*): {len(sel)} queries, "
          f"{sum(float(r['wall_s']) for r in sel) / total:.1%} of the wall, "
          f"{sum(int(r['jobs']) for r in sel) / jobs:.1%} of the jobs")


if __name__ == "__main__":
    main()
