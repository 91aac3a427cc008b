#!/usr/bin/env python3
"""A/B of two source checkouts on one perfbench workload.

    python3 scripts/perf_ab.py PARENT_DIR CHANGE_DIR --workload serve-batch \\
        --seeds 11-20 [--seconds 8] [--out ab.json]

Runs ``perfbench/run.py --trace 0`` from the root of each checkout, one
parent/change pair per seed, alternating the order: the parent runs first
in odd pairs (1st, 3rd, ...) and the change first in even ones, so a drift
of the host over the session hits both sides alike. Runs are sequential;
never start a second benchmark process next to this one.

Each run's last stdout line is perfbench's JSON object. For every
end-to-end metric of the change's ``BENCHMARK.json`` the script prints the
parent's and the change's median with Q1/Q3, the relative move of the
median, the pairs the change won (strictly better, in the metric's
direction), and whether the gap between the medians exceeds the parent's
interquartile range. Runs with a non-zero ``failed`` are listed, and so
are runs that printed no JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(items: list[str]) -> list[int]:
    """``["11-13", "20"]`` → ``[11, 12, 13, 20]``."""
    seeds = []
    for item in items:
        for part in item.split(","):
            lo, _, hi = part.partition("-")
            seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int,
             seconds: float) -> dict | None:
    """One untraced perfbench run → its JSON object (None if it printed
    none)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3); a single value is all three."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(pairs: list[dict], metrics: list[dict]) -> list[str]:
    """One report line per end-to-end metric over the complete pairs."""
    done = [p for p in pairs if p["parent"] and p["change"]]
    lines = [f"{len(done)} complete pairs of {len(pairs)}"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name]["value"] for p in done]
        b = [p["change"]["metrics"][name]["value"] for p in done]
        if not a:
            continue
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        move = (b2 / a2 - 1.0) if a2 else 0.0
        gap = abs(b2 - a2) > (a3 - a1)
        lines.append(
            f"{name:22s} parent {a2:10.4g} [{a1:.4g}, {a3:.4g}]  "
            f"change {b2:10.4g} [{b1:.4g}, {b3:.4g}]  "
            f"move {move:+.1%} (bound {m['bound']})  "
            f"wins {wins}/{len(done)}  gap>parent IQR {gap}")
    for p in pairs:
        for side in ("parent", "change"):
            r = p[side]
            if r is None:
                lines.append(f"seed {p['seed']} {side}: no JSON line")
            elif r["failed"]:
                lines.append(f"seed {p['seed']} {side}: failed={r['failed']}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", nargs="+", required=True,
                    help="seeds or inclusive ranges, e.g. 11-20 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", help="write every run's JSON object here")
    args = ap.parse_args()

    dirs = {"parent": os.path.abspath(args.parent),
            "change": os.path.abspath(args.change)}
    with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    pairs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(dirs[side], args.workload, seed,
                                  args.seconds)
            r = pair[side]
            print(f"pair {i + 1} seed {seed} {side}: " + (
                "no result" if r is None else
                " ".join(f"{k}={v['value']:.4g}"
                         for k, v in r["metrics"].items())
                + f" failed={r['failed']}"), flush=True)
        pairs.append(pair)
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"workload": args.workload, "dirs": dirs,
                           "pairs": pairs}, f, indent=1)
    print("\n".join(summarize(pairs, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
