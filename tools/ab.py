"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload compile_loop \
        --seed 301 --pairs 10 [--seconds 35] [--trace 0] [--out runs.json]

Pair ``i`` runs ``perfbench/run.py`` with identical arguments (seed
``--seed + i``) in each checkout, parent first in even pairs and change first
in odd ones, so drift of the host lands on both sides alike. Each run's last
stdout line is its result. For every metric it then prints each side's
median [q1, q3], the pairs the change won (ties count for neither side), and
whether a gain holds: the change won at least nine tenths of the pairs and
the medians differ, in the better direction, by more than the parent's
interquartile range. A metric with a bound in the parent's BENCHMARK.json
is flagged when the change's median is worse than the parent's by more than
that bound. Runs that report ``correct: false`` or a failed step are listed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout: str, args, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(runs: list[dict], spec: dict) -> list[str]:
    """One line per metric the runs share, in BENCHMARK.json's order."""
    better = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    names = [n for n in better if all(n in r[side]["metrics"] for r in runs for side in ("parent", "change"))]
    lines = [f"{'metric':34} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32} "
             f"{'wins':>6} gain"]
    for name in names:
        lower = better[name]["better"] == "lower"
        p = [r["parent"]["metrics"][name]["value"] for r in runs]
        c = [r["change"]["metrics"][name]["value"] for r in runs]
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(p), quartiles(c)
        gap = (pm - cm) if lower else (cm - pm)
        gain = wins >= 0.9 * len(runs) and gap > pq3 - pq1
        note = "yes" if gain else "no"
        bound = better[name].get("bound")
        if bound is not None and pm and -gap / abs(pm) > bound:
            note += f"  WORSE by {-gap / abs(pm):.0%} > bound {bound:.0%}"
        lines.append(f"{name:34} {pm:>12.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(67)
                     + f" {cm:>12.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(33)
                     + f" {wins:>3}/{len(runs):<2} {note}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True, help="seed of pair 0; pair i uses seed + i")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=35)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="write every run's result here as JSON")
    args = p.parse_args(argv)
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(getattr(args, side), args, seed)
        runs.append(pair)
        print(f"pair {i} seed {seed} ({order[0]} first) done", file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    bad = [f"pair {i} {side}: correct={r[side]['correct']} failed={r[side]['failed']}"
           for i, r in enumerate(runs) for side in ("parent", "change")
           if not r[side]["correct"] or r[side]["failed"]]
    print(f"workload {args.workload}, {len(runs)} pairs, seeds {args.seed}..{args.seed + len(runs) - 1}")
    print("\n".join(report(runs, spec)))
    for line in bad:
        print("FAILED RUN", line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
