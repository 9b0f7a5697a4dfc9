"""Paired, interleaved A/B of two checkouts on one perfbench workload.

    python scripts/perfbench_ab.py BASE_DIR CHANGE_DIR --workload html_crawl --seeds 11-20

For every seed it runs ``perfbench/run.py --trace 0`` once in each checkout
(each from its own root, for ``BENCHMARK.json``'s ``run_seconds``),
alternating which side goes first so that host drift does not land on one
side. It prints one row per pair, then q1/median/q3 of each side and the
number of pairs the change won (ties count for neither) for every
end-to-end metric in ``BENCHMARK.json``. Each metric also gets a verdict
under the claim rule: a gain is ``resolved`` when the change wins at least
9 of every 10 pairs and its median beats the base median by more than the
base's interquartile range (``gap`` and ``iqr``, in the metric's unit, a
positive gap being better). Exits non-zero if any run fails or is not
``correct``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def _run(root: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{root}: seed {seed} exited {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) == 1:
        return xs * 3
    return statistics.quantiles(xs, n=4, method="inclusive")


def _verdict(base: list[float], change: list[float], better: str):
    """(wins, gap, iqr, resolved) of one metric under the claim rule."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    gap = sign * (statistics.median(change) - statistics.median(base))
    q1, _, q3 = _quartiles(base)
    iqr = q3 - q1
    return wins, gap, iqr, 10 * wins >= 9 * len(base) and gap > iqr


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 11,13,15-17")
    args = ap.parse_args()

    with open(os.path.join(args.base_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    sides = {"base": os.path.abspath(args.base_dir), "change": os.path.abspath(args.change_dir)}

    values = {side: {name: [] for name, _ in metrics} for side in sides}
    all_correct = True
    print("seed  first   " + "  ".join(f"{name:>24}" for name, _ in metrics))
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        results = {side: _run(sides[side], args.workload, seed, bench["run_seconds"]) for side in order}
        cells = []
        for name, _ in metrics:
            b, c = (results[side]["metrics"][name]["value"] for side in ("base", "change"))
            values["base"][name].append(b)
            values["change"][name].append(c)
            cells.append(f"{b:>10.4g} -> {c:<10.4g}")
        wrong = [side for side in order if not results[side]["correct"]]
        all_correct &= not wrong
        note = f"  NOT CORRECT: {', '.join(wrong)}" if wrong else ""
        print(f"{seed:<5} {order[0]:<7} " + "  ".join(cells) + note, flush=True)

    n = len(values["base"][metrics[0][0]])
    print(
        f"\n{args.workload}: {n} pairs, base q1/median/q3 -> change q1/median/q3, "
        "median gap vs base IQR, verdict, change wins"
    )
    for name, better in metrics:
        base, change = values["base"][name], values["change"][name]
        wins, gap, iqr, resolved = _verdict(base, change, better)
        qb, qc = ("/".join(f"{q:.4g}" for q in _quartiles(v)) for v in (base, change))
        verdict = "resolved" if resolved else "unresolved"
        print(
            f"{name:>16}  {qb:>24} -> {qc:<24}  gap {gap:+.4g} iqr {iqr:.4g}  "
            f"{verdict:<10}  {wins}/{n}"
        )
    if not all_correct:
        sys.exit("some runs were not correct")


if __name__ == "__main__":
    main()
