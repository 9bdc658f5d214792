#!/usr/bin/env python3
"""Run one graftbench workload and print its metrics.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source when needed (graftbench/build.py), then runs the workload in a
fresh JVM on local[nproc]. Each run gets its own scratch directory under
.bench_run/ (java.io.tmpdir, Spark warehouse and local dirs, generated
inputs), removed when the run ends. The last stdout line is the JSON
result; the exit code is non-zero if the build, an operation or a check
failed.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("ts_train_feed", "ts_feature_store", "ann_graph_store")
TIMEOUT_S = 170


def loadavg():
    return ",".join(f"{x:.2f}" for x in os.getloadavg())


def commit(root):
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root, text=True,
                                  capture_output=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="corrupt the first checked output (self-test of the checks)")
    a = ap.parse_args()

    root = os.getcwd()
    load_start = loadavg()
    try:
        b = build.ensure_built(root)
    except build.BuildError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(root, ".bench_run", f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = b.java(tmp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--dir", os.path.join(run_dir, "data"), "--corrupt", str(a.corrupt)])
    err_path = os.path.join(run_dir, "jvm.err")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                out, _ = proc.communicate()
                print(f"graftbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
                proc.returncode = 3
        lines = out.splitlines()
        result = lines[-1] if lines and lines[-1].startswith("{") else None
        for line in lines[:-1] if result else lines:
            print(line)
        print(f"graftbench env: nproc={os.cpu_count()} load_start={load_start} "
              f"load_end={loadavg()} heap={build.HEAP} commit={commit(root)} src={b.key[:12]}")
        if proc.returncode != 0:
            with open(err_path) as fh:
                tail = fh.read().splitlines()[-80:]
            print("\n".join(tail), file=sys.stderr)
        if result:
            print(result)
        return proc.returncode if result or proc.returncode != 0 else 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
