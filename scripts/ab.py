#!/usr/bin/env python3
"""Interleaved A/B of two commits on the perfbench workloads.

Run from the repository root:

    python3 scripts/ab.py BASE CHANGE --workdir DIR --workload serve \
        --workload curate [--pairs 5] [--out FILE]

Each commit is exported (`git archive`) into its own directory under
--workdir, outside the repository, and built once by a `perfbench/run.py
--gencheck` call. Then, per workload, it runs --pairs pairs of
`perfbench/run.py --workload W --seed N --seconds S --trace 0`, one run per
side, alternating which side goes first from pair to pair, so a drift of
the box over the session falls on both sides alike. Pair N reads seed N on
both sides, and S is BENCHMARK.json's `run_seconds`. BASE and CHANGE are
any commit names; `git stash create` names an uncommitted working tree.

For each end-to-end metric listed in BENCHMARK.json it prints each side's
median [q1, q3], the change's median relative to the base, the number of
pairs the change won, and whether the change's median is inside the
metric's bound; and per side the share of failed operations. A metric whose
base runs spread wider than its bound (interquartile range over median) is
`unresolved`, unless every change run beats every base run. Only
`perfbench/run.py` is called: the benchmark itself is not touched. --out
writes every run's metrics as JSON.
"""

import argparse
import json
import os
import subprocess
import sys
import time


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def export(commit, workdir):
    """The commit's tree in workdir/<sha>, exported once."""
    sha = git("rev-parse", "--verify", commit + "^{commit}")
    dest = os.path.join(workdir, sha[:12])
    if not os.path.isdir(dest):
        tmp = dest + ".partial"
        os.makedirs(tmp, exist_ok=True)
        tree = subprocess.run(["git", "archive", sha], check=True,
                              capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=tree, check=True)
        os.rename(tmp, dest)
    return sha, dest


def run_py(checkout, *args, timeout=1200):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=checkout, capture_output=True, text=True,
                          timeout=timeout)


def bench(checkout, workload, seed, seconds):
    """One run's {"attempted", "failed", "metrics"}; a run that fails or
    prints no result line counts as one failed operation."""
    t0 = time.time()
    r = run_py(checkout, "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0")
    last = next((l for l in reversed(r.stdout.splitlines())
                 if l.startswith("{")), None)
    if r.returncode != 0 or last is None:
        sys.stderr.write(r.stderr[-2000:])
        return {"attempted": 1, "failed": 1, "metrics": {}, "exit": r.returncode,
                "wall_s": time.time() - t0}
    out = json.loads(last)
    return {"attempted": out["attempted"], "failed": out["failed"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "exit": r.returncode, "wall_s": time.time() - t0}


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def report(workload, metrics, runs):
    print(f"\n== {workload}: {len(runs)} pairs (base, change)")
    for side in ("base", "change"):
        att = sum(p[side]["attempted"] for p in runs)
        fl = sum(p[side]["failed"] for p in runs)
        print(f"  {side:6s} failed share {fl}/{att}")
    print(f"  {'metric':18s} {'base median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'change/base':>11s} {'wins':>5s}  bound")
    for m in metrics:
        name, better, bound = m["name"], m["better"], m["bound"]
        pairs = [(p["base"]["metrics"].get(name), p["change"]["metrics"].get(name))
                 for p in runs]
        pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
        if not pairs:
            print(f"  {name:18s} no complete pair")
            continue
        a, b = [x for x, _ in pairs], [y for _, y in pairs]
        ma, mb = quantile(a, 0.5), quantile(b, 0.5)
        wins = sum(1 for x, y in pairs if (y < x if better == "lower" else y > x))
        ratio = mb / ma if ma else float("nan")
        worse = (ratio - 1) if better == "lower" else (1 - ratio)
        fmt = lambda xs: (f"{quantile(xs, 0.5):.4g} "
                          f"[{quantile(xs, 0.25):.4g}, {quantile(xs, 0.75):.4g}]")
        spread = (quantile(a, 0.75) - quantile(a, 0.25)) / ma if ma else float("inf")
        beats = (max(b) < min(a)) if better == "lower" else (min(b) > max(a))
        if spread > bound and not beats:
            verdict = "unresolved"
        else:
            verdict = "inside" if worse <= bound else "OUTSIDE"
        print(f"  {name:18s} {fmt(a):>30s} {fmt(b):>30s} {ratio:11.3f} "
              f"{wins:2d}/{len(pairs):<2d}  {verdict} {bound}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", choices=["serve", "curate"],
                    required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics, seconds = spec["end_to_end"], spec["run_seconds"]
    os.makedirs(a.workdir, exist_ok=True)
    sides = {}
    for side, commit in (("base", a.base), ("change", a.change)):
        sha, checkout = export(commit, a.workdir)
        r = run_py(checkout, "--gencheck")
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            sys.exit(f"ab: building {side} ({sha[:12]}) failed")
        sides[side] = checkout
        print(f"{side}: {sha[:12]} built in {checkout}", flush=True)
    results = {}
    for w in a.workload:
        runs = []
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                pair[side] = bench(sides[side], w, i + 1, seconds)
            runs.append(pair)
            print(f"{w} pair {i + 1}/{a.pairs} ({order[0]} first): " + ", ".join(
                f"{s} tput {pair[s]['metrics'].get('throughput_per_s', 'n/a')}"
                for s in ("base", "change")), flush=True)
        results[w] = runs
        report(w, metrics, runs)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"base": a.base, "change": a.change, "seconds": seconds,
                       "runs": results}, f, indent=1)


if __name__ == "__main__":
    main()
