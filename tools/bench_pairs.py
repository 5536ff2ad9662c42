#!/usr/bin/env python3
"""Interleaved A/B of one benchmark workload: the checkout against a parent.

    python3 tools/bench_pairs.py --workload train_stream --seeds 11-20 [--parent REF]

Extracts the parent's committed files into a temporary directory outside
the checkout (`git archive`, so an interrupted run leaves no worktree
registered in `.git`) and runs `benchmark/run.py --trace 0` for
BENCHMARK.json's `run_seconds` in both trees once per seed, the parent
first on even-numbered pairs and the checkout first on odd ones, so that
drift of the machine's load falls on both sides.

Prints each pair's end-to-end metrics (the ones BENCHMARK.json lists), then
per metric each side's median and quartiles, the pairs the checkout wins,
`gain` where it wins at least nine in ten pairs by more than the parent's
interquartile range, and whether each pair's seed-determined values (the
record's `repeatable`, e.g. `train_stream`'s epoch orders) are equal.
Exits 1 if any run exits non-zero, is not correct or has failed operations.

`--parent` defaults to HEAD when tracked files have uncommitted changes
(the change under test is the working tree), otherwise to HEAD~1. Each tree
builds its own engine on its first run (in its `.bench_build/`); the
temporary tree is removed when done. Writes nothing under `benchmark/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def parse_seeds(text):
    """`11-20`, `3,5,9` or a mix such as `1-3,7`."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(tree, workload, seed, seconds):
    """One untraced run in `tree`: (metrics, correct, failed, repeatable, error)."""
    cmd = [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, False, None, None, f"exit {p.returncode}: {p.stderr.strip()[-2000:]}"
    out = json.loads(lines[-1])
    saved = os.path.join(tree, ".bench_build", "runs", f"{workload}-seed{seed}-trace0.json")
    with open(saved) as f:
        repeatable = json.load(f)["record"].get("repeatable")
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    return metrics, out["correct"], out["failed"], repeatable, None


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 11-20 or 1,4,9")
    p.add_argument("--parent", help="git ref of the parent (see above for the default)")
    p.add_argument("--workdir", help="where the parent tree goes (default: a new temp dir)")
    a = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    parent = a.parent or ("HEAD" if git("status", "--porcelain", "--untracked-files=no")
                          else "HEAD~1")
    parent_sha = git("rev-parse", "--verify", parent + "^{commit}")
    print(f"parent {parent} ({parent_sha[:12]}) vs checkout {REPO}; "
          f"{a.workload}, seeds {a.seeds}, {seconds:g} s a run", flush=True)

    base = tempfile.mkdtemp(prefix="bench-pairs-", dir=a.workdir)
    tree = os.path.join(base, "parent")
    os.makedirs(tree)
    bad = []
    pairs = []  # (seed, parent metrics, change metrics, repeatable equal)
    try:
        archive = subprocess.Popen(["git", "archive", parent_sha], cwd=REPO,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {parent} failed")
        for i, seed in enumerate(a.seeds):
            sides = [("parent", tree), ("change", REPO)]
            got = {}
            for side, where in (sides if i % 2 == 0 else sides[::-1]):
                m, correct, failed, rep, err = run(where, a.workload, seed, seconds)
                if err or not correct or failed:
                    bad.append(f"seed {seed} {side}: " +
                               (err or f"correct={correct} failed={failed}"))
                got[side] = (m, rep)
                shown = " ".join(f"{k}={v:.4g}" for k, v in (m or {}).items())
                print(f"  seed {seed:3d} {side:6s} {shown or 'no metrics'}", flush=True)
            if got["parent"][0] and got["change"][0]:
                pairs.append((seed, got["parent"][0], got["change"][0],
                              got["parent"][1] == got["change"][1]))
    finally:
        shutil.rmtree(base, ignore_errors=True)

    if pairs:
        print(f"\n{len(pairs)} pairs ({a.workload})")
        for name, better in metrics:
            par = [pp[name] for _, pp, _, _ in pairs]
            chg = [cc[name] for _, _, cc, _ in pairs]
            wins = sum((c < q) if better == "lower" else (c > q) for q, c in zip(par, chg))
            (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
            delta = (cmed - pmed) / pmed * 100 if pmed else float("nan")
            # a gain: better in 9/10 of the pairs, by more than the parent's IQR
            gain = wins >= 0.9 * len(pairs) and abs(cmed - pmed) > pq3 - pq1
            print(f"  {name:12s} parent {pmed:9.4g} [{pq1:.4g}, {pq3:.4g}] IQR {pq3 - pq1:.3g} | "
                  f"change {cmed:9.4g} [{cq1:.4g}, {cq3:.4g}] IQR {cq3 - cq1:.3g} | "
                  f"{delta:+6.1f}% | change better in {wins}/{len(pairs)}"
                  f"{' | gain' if gain else ''}")
        differ = [seed for seed, _, _, same in pairs if not same]
        print("  seed-determined values equal on both sides: " +
              ("all pairs" if not differ else f"NO for seeds {differ}"))
    for b in bad:
        print("FAILED " + b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
