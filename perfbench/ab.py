#!/usr/bin/env python3
"""Paired A/B runs of two commits on one workload.

    python3 perfbench/ab.py --parent HEAD~1 --change HEAD --workload vectors

Run from the repository root. Both commits are exported with `git archive`
into separate directories under --scratch, and the benchmark of the
current working tree (BENCHMARK.json and perfbench/) is copied over both,
so the two sides differ only in the program. Each side is built once.
Then --pairs pairs of untraced runs alternate which side goes first; pair
i uses seed --seed0 + i on both sides. --traced-pairs traced runs per side
give the per-layer count deltas.

A run is ok when it printed a result with correct=true. For every
end-to-end metric it prints each side's median and quartiles over its ok
runs, the share of all pairs run that the change wins (a pair is won only
when both runs are ok and the change is better; ties and failed runs count
as losses), and a verdict:
  failing     a change run is not ok, or the change failed more operations
              than the parent: no timing can count as a gain
  gain        the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own quartile distance
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's own quartile distance exceeds the bound
  no change   otherwise
Running a commit against itself measures the machine's noise floor.
All runs are also written to <scratch>/ab_<workload>_<time>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def git(*args):
    return subprocess.check_output(["git"] + list(args), cwd=ROOT, text=True).strip()


def export(side, sha, scratch):
    d = os.path.join(scratch, "%s-%s" % (side, sha[:10]))
    if not os.path.isdir(d):
        os.makedirs(d)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", d], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit("git archive %s failed" % sha)
    # identical benchmark code on both sides
    shutil.rmtree(os.path.join(d, "perfbench"), ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(d, "BENCHMARK.json"))
    return d


def run(side_dir, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": (p.stderr or "")[-500:], "exit": p.returncode}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def ok(r):
    return "metrics" in r and r.get("correct") is True


def value(r, name):
    return r["metrics"][name]["value"] if ok(r) else None


def verdict(pairs, better, bound, failing):
    """pairs: (parent value, change value) for every pair run, None where
    that run was not ok."""
    parent = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    wins = sum(1 for p, c in pairs if p is not None and c is not None and
               (c < p if better == "lower" else c > p))
    if failing or not parent or not change:
        return wins, "failing" if failing else "no data"
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = statistics.median(change)
    worse = (c_med - p_med) if better == "lower" else (p_med - c_med)
    if wins >= 0.9 * len(pairs) and abs(c_med - p_med) > (p_q3 - p_q1):
        return wins, "gain"
    if p_med and worse > bound * abs(p_med):
        return wins, "regression"
    if p_med and (p_q3 - p_q1) > bound * abs(p_med):
        return wins, "unresolved"
    return wins, "no change"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--traced-pairs", type=int, default=2)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--scratch", default=os.path.join(".bench_build", "ab"))
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than 10 pairs cannot support a claim", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    scratch = os.path.abspath(a.scratch)
    sides = {}
    for name, rev in (("parent", a.parent), ("change", a.change)):
        sha = git("rev-parse", rev)
        d = export(name, sha, scratch)
        subprocess.check_call([sys.executable, "perfbench/run.py", "--build-only"], cwd=d)
        sides[name] = {"rev": rev, "sha": sha, "dir": d, "runs": [], "traced": []}

    for i in range(a.pairs + a.traced_pairs):
        traced = i >= a.pairs
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            r = run(sides[name]["dir"], a.workload, a.seed0 + i, seconds, int(traced))
            sides[name]["traced" if traced else "runs"].append(r)
            print("pair %d %s%s: %s" % (i, name, " traced" if traced else "",
                                        json.dumps(r.get("metrics", r))[:200]),
                  file=sys.stderr)

    print("A/B %s: parent %s (%s) vs change %s (%s), %d pairs, %gs runs" % (
        a.workload, a.parent, sides["parent"]["sha"][:10], a.change,
        sides["change"]["sha"][:10], a.pairs, seconds))
    failed = {}
    for name in ("parent", "change"):
        runs = sides[name]["runs"]
        failed[name] = sum(r.get("failed", 0) for r in runs)
        print("  %s: %d of %d runs ok, %d operations failed of %d attempted" % (
            name, sum(map(ok, runs)), len(runs), failed[name],
            sum(r.get("attempted", 0) for r in runs)))
    failing = (failed["change"] > failed["parent"] or
               not all(map(ok, sides["change"]["runs"])))
    print("%-16s %-5s %30s %30s %6s  %s" % ("metric", "unit", "parent median [q1, q3]",
                                           "change median [q1, q3]", "wins", "verdict"))
    for m in spec["end_to_end"]:
        pairs = [(value(p, m["name"]), value(c, m["name"]))
                 for p, c in zip(sides["parent"]["runs"], sides["change"]["runs"])]
        wins, v = verdict(pairs, m["better"], m["bound"], failing)
        ps = [p for p, _ in pairs if p is not None] or [float("nan")]
        cs = [c for _, c in pairs if c is not None] or [float("nan")]
        pq, cq = quartiles(ps), quartiles(cs)
        print("%-16s %-5s %12.4f [%7.4f, %7.4f] %12.4f [%7.4f, %7.4f] %3d/%-2d  %s" % (
            m["name"], m["unit"], pq[1], pq[0], pq[2], cq[1], cq[0], cq[2],
            wins, len(pairs), v))
    tp = [r for r in sides["parent"]["traced"] if ok(r)]
    tc = [r for r in sides["change"]["traced"] if ok(r)]
    if tp and tc:
        print("\nper-layer medians of %d/%d traced runs (counts marked * differ "
              "between runs of one side)" % (len(tp), len(tc)))
        for m in spec["per_layer"]:
            n = m["name"]
            pv = [r["metrics"][n]["value"] for r in tp]
            cv = [r["metrics"][n]["value"] for r in tc]
            unstable = m["unit"] in ("count", "bytes") and (len(set(pv)) > 1 or len(set(cv)) > 1)
            pm, cm = statistics.median(pv), statistics.median(cv)
            print("  %-34s %-6s %16.4f %16.4f  delta %+.4f%s" % (
                n, m["unit"], pm, cm, cm - pm, " *" if unstable else ""))

    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, "ab_%s_%s.json" % (
        a.workload, time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())))
    with open(out, "w") as f:
        json.dump({k: {kk: vv for kk, vv in v.items() if kk != "dir"}
                   for k, v in sides.items()}, f, indent=1)
    print("\nall runs: %s" % out)


if __name__ == "__main__":
    main()
