#!/usr/bin/env python3
"""Paired A/B runs of the graft benchmark, and the comparison of two results.

    python3 graftbench/ab.py run --parent REV --change REV [--workload NAME ...]
                                 [--pairs 10] [--seconds N] [--seed N]
    python3 graftbench/ab.py compare A.json B.json

`run` exports both revisions from git into .bench_build/ab/, copies this
benchmark (graftbench/ and BENCHMARK.json) into both so they are measured by
identical code, then runs them in alternating pairs: pair i runs seed+i on
both sides, parent first in even pairs and change first in odd ones. For each
workload and end-to-end metric it prints the medians and quartiles of both
sides, how many pairs the change won, and a verdict:

  gain          the change won at least 9 in 10 pairs and the medians differ
                by more than the parent's interquartile range
  regression    the change's median is worse than the parent's by more than
                the metric's bound
  unresolved    the parent's own spread is wider than the bound, and not every
                change run beats every parent run
  no regression otherwise

`compare` prints the end-to-end metrics of two saved reports side by side,
and refuses reports that ran at different core counts or scales.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def comparable(a, b):
    """Raise unless two reports measured the same configuration."""
    for key in ("cores", "scale", "workload", "seconds"):
        if a.get(key) != b.get(key):
            raise SystemExit(f"ab: refusing to compare: {key} differs ({a.get(key)} vs {b.get(key)})")


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change):
    """The verdict of one workload x metric from paired values."""
    sign = 1 if metric["better"] == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    better = sign * (cm - pm) > 0
    if better and wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1):
        v = "gain"
    elif sign * (pm - cm) > metric["bound"] * abs(pm):
        v = "regression"
    elif pm and (p3 - p1) / abs(pm) > metric["bound"] and not (
            min(change) > max(parent) if sign > 0 else max(change) < min(parent)):
        v = "unresolved"
    else:
        v = "no regression"
    return {"parent": [p1, pm, p3], "change": [c1, cm, c3], "wins": wins, "pairs": len(parent),
            "verdict": v}


def export(rev, dest):
    """A source tree of `rev` with this benchmark copied in."""
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", rev], cwd=REPO, check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "graftbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "graftbench"),
                    ignore=shutil.ignore_patterns("target", "project/target", "project/project"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), dest)


def run_one(tree, workload, seed, seconds):
    r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"ab: {tree} {workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"ab: {tree} {workload} seed {seed} gave wrong results: {report['failures']}")
    return report


def cmd_run(a):
    s = spec()
    workloads = a.workload or [w["name"] for w in s["workloads"]]
    seconds = a.seconds or s["run_seconds"]
    base = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "ab")
    trees = {"parent": os.path.join(base, "parent"), "change": os.path.join(base, "change")}
    export(a.parent, trees["parent"])
    export(a.change, trees["change"])
    out = {}
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_one(trees[side], w, a.seed + i, seconds))
            comparable(runs["parent"][-1], runs["change"][-1])
            print(f"{w} pair {i + 1}/{a.pairs} done", file=sys.stderr)
        out[w] = {m["name"]: verdict(m, [r[m["name"]] for r in runs["parent"]],
                                     [r[m["name"]] for r in runs["change"]])
                  for m in s["end_to_end"]}
    print(json.dumps({"parent": a.parent, "change": a.change, "pairs": a.pairs, "results": out}, indent=1))


def cmd_compare(a):
    with open(a.a) as fa, open(a.b) as fb:
        ra, rb = json.load(fa), json.load(fb)
    comparable(ra, rb)
    for m in spec()["end_to_end"]:
        print(f"{m['name']:>16} {ra[m['name']]:>14.6g} {rb[m['name']]:>14.6g} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", action="append")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seconds", type=int)
    r.add_argument("--seed", type=int, default=1000)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_compare(a)


if __name__ == "__main__":
    main()
