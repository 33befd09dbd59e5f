#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of each workload must pass its
checks with no failed operation, and the same outputs with one planted
wrong answer (a perturbed expected value; in the ingest corpus, a planted
duplicate doc or a missing doc the pipeline must accept) must fail them.

  python3 perfbench/selftest.py [workload ...]
"""
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # a run leaves nothing beside the sources
sys.path.insert(0, HERE)
import check  # noqa: E402
import run  # noqa: E402


def main():
    workloads = sys.argv[1:] or ["dashboard", "suite", "ingest"]
    ok = True
    for w in workloads:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "1", "--size", "tiny", "--keep"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        work = max(glob.glob(os.path.join(HERE, "target", "work", f"{w}-7-*")),
                   key=os.path.getmtime, default=None)
        clean = res is not None and res["correct"] and res["failed"] == 0
        if w == "dashboard":
            planted = check.check_dashboard(
                work, json.load(open(os.path.join(work, "requests.json"))), plant=True)
        elif w == "suite":
            planted = check.check_suite(work, run.QUERIES, plant=True)
        else:
            # a duplicate in the corpus, and a clean doc missing from it
            planted = all(check.check_ingest(work, plant=k) for k in ("duplicate", "rejected"))
        print(f"{w}: tiny run {'passes' if clean else 'FAILS'} its checks; "
              f"planted wrong answer {'caught' if planted else 'NOT caught'}")
        if not clean:
            sys.stderr.write(p.stderr[-3000:])
        ok = ok and clean and bool(planted)
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
