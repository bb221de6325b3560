#!/usr/bin/env python3
"""Alternating parent/change A/B pairs of one benchmark workload.

    python3 tools/ab_pairs.py --workload alaska_publish --parent HEAD~1 \
        [--pairs 10] [--seed0 11] [--seconds 5] [--out ab.json]

Run from the repository root. The parent side is ``git archive <parent>``
unpacked in a temp dir; the change side is the working tree. Pair ``i`` runs
``perfbench/run.py --seed <seed0 + i> --trace 0`` once on each side, the
parent first in even pairs and the change first in odd ones. Each side has
its own ``CARGO_TARGET_DIR`` (built once, on its first run).

For every end-to-end metric in ``BENCHMARK.json`` it prints each side's
median and quartiles, the change's wins out of the pairs (ties count for
neither side), and whether a gain claim holds: at least nine tenths of the
pairs won and the medians apart, in the better direction, by more than the
parent's interquartile range. Python standard library only.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def archive(rev, dest):
    os.makedirs(dest)
    tar = subprocess.run(["git", "archive", rev], check=True,
                         stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)
    return dest


def run_once(tree, target, workload, seed, seconds):
    """One ``perfbench/run.py`` run: its final JSON line, or None."""
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(metrics, runs):
    """One row per metric: (name, parent stats, change stats, wins, holds)."""
    pairs = [(a, b) for a, b in zip(runs["parent"], runs["change"])
             if a is not None and b is not None]
    rows = []
    for m in metrics if pairs else []:
        name, higher = m["name"], m["better"] == "higher"
        ps = [a["metrics"][name]["value"] for a, _ in pairs]
        cs = [b["metrics"][name]["value"] for _, b in pairs]
        wins = sum(1 for p, c in zip(ps, cs) if (c > p if higher else c < p))
        pm, cm = statistics.median(ps), statistics.median(cs)
        pq, cq = quartiles(ps), quartiles(cs)
        gap = (cm - pm) if higher else (pm - cm)
        holds = wins * 10 >= 9 * len(pairs) and gap > pq[1] - pq[0]
        rows.append((name, pm, pq, cm, cq, wins, len(pairs), holds))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True, help="git rev of the parent")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", help="write every run's JSON here")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    with tempfile.TemporaryDirectory(prefix="ab_pairs-") as tmp:
        runs = pairs(a, root, tmp)
    report(metrics, a, runs)


def pairs(a, root, tmp):
    """Runs the pairs; returns each side's run results, in pair order."""
    trees = {"parent": archive(a.parent, os.path.join(tmp, "parent")),
             "change": root}
    targets = {side: os.path.join(tmp, f"build-{side}") for side in trees}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(trees[side], targets[side], a.workload, seed,
                         a.seconds)
            runs[side].append(r)
            status = ("failed" if r is None else
                      f"correct={r['correct']} pass_s="
                      f"{r['metrics']['pass_s']['value']:.3f}")
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: {status}",
                  flush=True)
        if a.out:
            with open(a.out, "w") as fh:
                json.dump({"args": vars(a), "runs": runs}, fh, indent=1)
    return runs


def report(metrics, a, runs):
    n = len(runs["parent"])
    print(f"\n{a.workload}: {n} pairs, seeds {a.seed0}..{a.seed0 + n - 1}, "
          f"parent {a.parent}")
    print(f"{'metric':<14}{'parent median [q1, q3]':<36}"
          f"{'change median [q1, q3]':<36}{'wins':<7} gain holds")
    for name, pm, pq, cm, cq, wins, n, holds in summarize(metrics, runs):
        print(f"{name:<14}" + f"{pm:.4g} [{pq[0]:.4g}, {pq[1]:.4g}]".ljust(36)
              + f"{cm:.4g} [{cq[0]:.4g}, {cq[1]:.4g}]".ljust(36)
              + f"{wins}/{n}".ljust(8) + ("yes" if holds else "no"))
    failed = {s: sum(1 for r in rs if r is None) for s, rs in runs.items()}
    wrong = {s: sum(1 for r in rs if r is not None and not r["correct"])
             for s, rs in runs.items()}
    print(f"failed runs {failed}, incorrect runs {wrong}")


if __name__ == "__main__":
    main()
