"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 12 --trace 0

Builds on first use (see build.py), runs one workload in one JVM, prints
every metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def run_jvm(cmd, log):
    with open(log, "w") as err:
        try:
            return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: timed out after {RUN_TIMEOUT_S} s; log {log}\n")
            raise SystemExit(3)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes = build.build()
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    r = run_jvm(build.java_command(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", build.OUT]), log)
    lines = r.stdout.rstrip("\n").split("\n")
    result = None
    if r.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"perfbench: the run failed (exit {r.returncode}); log {log}\n")
        return r.returncode or 1
    sys.stdout.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
