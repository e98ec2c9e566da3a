#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 perfbench/selftest.py

1. The harness unit tests (percentile refusal, span nesting and self time,
   counter sanity rules) under sbt.
2. A smoke run of every workload on the sf0.001 reference tables,
   untraced and traced (10 s: the stream then has the 40 latency samples
   its p75 needs). A traced
   run fails when a span lies outside its parent or when an op's counters
   are not sane (no job, fewer tasks than stages, CPU above wall x cores),
   so passing smoke runs also check those rules on real runs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    run.build()
    failed = []
    if subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "test"],
                      cwd=HERE, env=run.sbt_env()).returncode != 0:
        failed.append("harness unit tests")
    for w in sorted(run.WORKLOADS):
        for trace in ("0", "1"):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "10", "--trace", trace,
                                "--sf", "0.001"],
                               cwd=run.ROOT, capture_output=True, text=True, timeout=400)
            lines = r.stdout.strip().splitlines()
            ok = r.returncode == 0 and lines and json.loads(lines[-1])["correct"]
            print(f"{'ok  ' if ok else 'FAIL'} smoke {w} trace={trace}")
            if not ok:
                print(r.stdout[-2000:] + r.stderr[-2000:])
                failed.append(f"smoke {w} trace={trace}")
    print("self-tests passed" if not failed else f"self-tests FAILED: {failed}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
