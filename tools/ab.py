#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on the crawl benchmark.

    python3 tools/ab.py PARENT CHANGE --workload deep-crawl --seed 1 \
        --pairs 10 [--seconds 10] [--trace 0]

Runs ``python3 perfbench/run.py`` in each checkout, from that checkout's
root, so each side builds from its own source. The side that runs first
alternates from pair to pair, so a drift in host load falls on both
sides alike. ``--trace 1`` compares the per-layer metrics (phase walls,
CPU, shuffle, Python bytes, spill) instead of the end-to-end ones.

Prints one line per metric: each side's median and interquartile range,
the number of pairs the change won, and whether the claim rule holds —
the change wins at least 9 in 10 of the pairs and its median beats the
parent's by more than the parent's IQR. Ties count for neither side;
which direction is better comes from the change's ``BENCHMARK.json``.
The last line sums each side's failed and attempted operations (a
deep-crawl operation is one leg's round, so it also counts the legs).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, args: argparse.Namespace) -> dict | None:
    """One benchmark run; its result line, or None if the run failed."""
    cmd = [
        sys.executable, "perfbench/run.py",
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(f"[ab] {checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return None
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(xs: list[float]) -> tuple[float, float]:
    """(median, interquartile range)."""
    if len(xs) < 2:
        return (xs[0] if xs else float("nan")), 0.0
    q1, _q2, q3 = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q3 - q1


def claim_holds(wins: int, n: int, parent_med: float, change_med: float,
                parent_iqr: float, higher: bool) -> bool:
    """The claim rule: the change wins at least 9 in 10 of the ``n``
    pairs, and its median is better than the parent's by more than the
    parent's interquartile range."""
    gain = (change_med - parent_med) if higher else (parent_med - change_med)
    return n > 0 and 10 * wins >= 9 * n and gain > parent_iqr


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        decl = json.load(fh)
    higher = {
        m["name"]: m["better"] == "higher"
        for m in decl["end_to_end"] + decl.get("per_layer", [])
    }

    pairs: list[dict[str, dict | None]] = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {side: run_once(sides[side], args) for side in order}
        pairs.append(pair)
        print(f"[ab] pair {i + 1}/{args.pairs} done ({order[0]} first)", file=sys.stderr)

    def value(res: dict | None, name: str) -> float | None:
        m = (res or {}).get("metrics", {}).get(name)
        return None if m is None else m["value"]

    names = sorted({n for p in pairs for r in p.values() if r for n in r["metrics"]})
    print(
        f"{'metric':<32}{'parent med':>12}{'IQR':>10}{'change med':>12}{'IQR':>10}"
        "  wins  claim"
    )
    for name in names:
        vals = {s: [v for p in pairs if (v := value(p[s], name)) is not None] for s in sides}
        wins = n = 0
        for p in pairs:
            a, b = value(p["parent"], name), value(p["change"], name)
            if a is None or b is None:
                continue
            n += 1
            wins += (b > a) if higher.get(name, False) else (b < a)
        (pm, pi), (cm, ci) = spread(vals["parent"]), spread(vals["change"])
        holds = claim_holds(wins, n, pm, cm, pi, higher.get(name, False))
        claim = "holds" if holds else "no"
        print(f"{name:<32}{pm:>12.4g}{pi:>10.3g}{cm:>12.4g}{ci:>10.3g}  {wins}/{n}  {claim}")
    def total(side: str, key: str) -> int:
        return sum((p[side] or {"failed": 1, "attempted": 1})[key] for p in pairs)

    print(
        "failed operations: "
        + ", ".join(f"{s} {total(s, 'failed')} of {total(s, 'attempted')}" for s in sides)
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
