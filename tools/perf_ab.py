#!/usr/bin/env python3
"""Same-box A/B of two commits on perfbench, in alternating pairs.

Usage (from the repository root):

    python3 tools/perf_ab.py --scratch DIR [--base REV] [--head REV]
        [--workload pipeline] [--seed 1] [--pairs 10] [--trace 0]
        [--metric cycle_p50_s] [--metric ...]

Each side is exported with `git archive` into DIR/<side>-<sha>/ and built
once (perfbench/build.py) before anything is timed. `--head` defaults to
the working tree: uncommitted changes to tracked and staged files are
included, through a `git stash create` commit that no ref points to.
Then, per workload and seed, N pairs of `perfbench/run.py` runs alternate
base and head, base first in even pairs and head first in odd ones, so a
steady drift of the host favours neither side. Each run lasts the
benchmark's own `run_seconds` from BENCHMARK.json.

Printed per run: every end-to-end metric, plus the host calibration
(`host.calib_cpu_s`) and the hypervisor's `steal_share` read from the run's
artifact (None for a run that failed). Printed per workload, seed and metric: each side's median and
quartiles, the pairs the head won (by the metric's `better` direction in
BENCHMARK.json), whether the medians differ by more than the base's
interquartile range, and the acceptance verdict against the metric's
relative `bound` in BENCHMARK.json: `WORSE` when the head's median is
worse than the base's by more than the bound, else `unresolved` when
either side's interquartile range exceeds the bound (the runs cannot
tell a change of that size from noise), else `within`. Then the count
of runs that were not correct, per side. With `--trace 1` the runs
report the per-layer metrics instead; name the ones to summarise with
`--metric` (their direction is taken as lower-is-better; they have no
bound, so their verdict reads `-`). All runs also go to
DIR/ab-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, text=True, **kw).stdout.strip()


def resolve(rev):
    """The commit to export; None means the working tree."""
    if rev is not None:
        return git("rev-parse", "--verify", rev + "^{commit}")
    return git("stash", "create") or git("rev-parse", "HEAD")


def export(sha, scratch, side):
    """A checkout of `sha` under scratch, built; reused when present."""
    d = os.path.join(scratch, f"{side}-{sha[:12]}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"perf_ab: git archive {sha} failed")
        os.rename(tmp, d)
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=d, check=True,
                   stdout=subprocess.DEVNULL)
    return d


def run_once(checkout, workload, seed, seconds, trace):
    art = os.path.join(checkout, "perfbench", "out", "artifacts",
                       f"{workload}-seed{seed}-trace{trace}.json")
    # a failed run must not report the artifact an earlier run left
    if os.path.exists(art):
        os.remove(art)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    out = {"returncode": r.returncode, "calib_cpu_s": None, "steal_share": None}
    try:
        res = json.loads(r.stdout.rstrip("\n").split("\n")[-1])
        out.update(correct=res["correct"], attempted=res["attempted"],
                   failed=res["failed"],
                   metrics={k: v["value"] for k, v in res["metrics"].items()})
    except (ValueError, KeyError, IndexError):
        sys.stderr.write(r.stderr[-3000:])
        out.update(correct=False, metrics={})
        return out
    if r.returncode == 0:
        try:
            with open(art) as f:
                host = json.load(f)["host"]
            out.update(calib_cpu_s=host["calib_cpu_s"],
                       steal_share=host["steal_share"])
        except (OSError, ValueError, KeyError):
            pass
    return out


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(bmed, biqr, hmed, hiqr, sign, bound):
    """Acceptance against a relative bound: WORSE, unresolved or within
    (see the module doc); `-` for a metric without a bound."""
    if bound is None or not bmed or not hmed:
        return "-"
    if sign * (hmed - bmed) / abs(bmed) < -bound:
        return "WORSE"
    if (biqr[1] - biqr[0]) / abs(bmed) > bound or (hiqr[1] - hiqr[0]) / abs(hmed) > bound:
        return "unresolved"
    return "within"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--scratch", required=True,
                    help="directory for the two checkouts and the run log")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--head", default=None, help="default: the working tree")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed", type=int, action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metric", action="append",
                    help="metrics to summarise (default: every end-to-end metric)")
    a = ap.parse_args()
    workloads = a.workload or ["pipeline"]
    seeds = a.seed or [1]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"] if "bound" in m}
    seconds = bench["run_seconds"]
    metrics = a.metric or list(better)

    os.makedirs(a.scratch, exist_ok=True)
    shas = {"base": resolve(a.base), "head": resolve(a.head)}
    dirs = {side: export(sha, a.scratch, side) for side, sha in shas.items()}
    print(f"base {shas['base'][:12]}  {dirs['base']}")
    print(f"head {shas['head'][:12]}  {dirs['head']}")

    runs = []
    for w in workloads:
        for seed in seeds:
            for i in range(a.pairs):
                order = ("base", "head") if i % 2 == 0 else ("head", "base")
                for side in order:
                    r = run_once(dirs[side], w, seed, seconds, a.trace)
                    r.update(workload=w, seed=seed, pair=i, side=side)
                    runs.append(r)
                    vals = "  ".join(f"{m}={r['metrics'][m]:.4g}"
                                     for m in metrics if m in r["metrics"])
                    print(f"{w} seed {seed} pair {i} {side}: {vals}  "
                          f"calib_cpu_s={r['calib_cpu_s']}  "
                          f"steal_share={r['steal_share']}  "
                          f"correct={r['correct']}", flush=True)

    log = os.path.join(a.scratch, time.strftime("ab-%Y%m%d-%H%M%S.json"))
    with open(log, "w") as f:
        json.dump({"base": shas["base"], "head": shas["head"], "runs": runs}, f,
                  indent=1)

    print("\nworkload seed metric: base median [q1, q3] -> head median [q1, q3]"
          "  head/base  pairs won  beyond base IQR  verdict")
    for w in workloads:
        for seed in seeds:
            rs = [r for r in runs if r["workload"] == w and r["seed"] == seed]
            for m in metrics:
                pairs = {}
                for r in rs:
                    if m in r["metrics"]:
                        pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"][m]
                full = [p for p in pairs.values() if len(p) == 2]
                if not full:
                    continue
                b = [p["base"] for p in full]
                h = [p["head"] for p in full]
                bq1, bmed, bq3 = quartiles(b)
                hq1, hmed, hq3 = quartiles(h)
                sign = -1 if better.get(m, "lower") == "lower" else 1
                won = sum(1 for p in full if sign * (p["head"] - p["base"]) > 0)
                ratio = hmed / bmed if bmed else float("nan")
                beyond = abs(hmed - bmed) > (bq3 - bq1)
                print(f"{w} {seed} {m}: {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] -> "
                      f"{hmed:.4g} [{hq1:.4g}, {hq3:.4g}]  {ratio:.3f}  "
                      f"{won}/{len(full)}  {beyond}  "
                      f"{verdict(bmed, (bq1, bq3), hmed, (hq1, hq3), sign, bounds.get(m))}")
            for side in ("base", "head"):
                ran = [r for r in rs if r["side"] == side]
                bad = sum(1 for r in ran if not r["correct"])
                print(f"{w} {seed} {side}: {bad} of {len(ran)} runs not correct")
    print(f"runs: {log}")


if __name__ == "__main__":
    main()
