#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 graftbench/selftest.py        # from the repository root

Runs each workload once with --corrupt 1, which alters one value of the
first output its checks see after set-up, and requires that the check
catches it: the run must report correct=false with at least one failed
operation and exit non-zero. Exits 0 when every workload's check fired.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ts_train_feed", "ts_feature_store", "ann_graph_store")


def main():
    ok = True
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt", "1"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        r = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        caught = (p.returncode != 0 and r is not None and not r["correct"] and r["failed"] >= 1)
        reason = [l for l in p.stderr.splitlines() if "check failed" in l]
        print(f"{w}: {'caught' if caught else 'NOT CAUGHT'} (exit {p.returncode}, "
              f"failed {r and r['failed']}) {reason[0] if reason else ''}")
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
