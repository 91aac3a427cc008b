#!/usr/bin/env python3
"""Per-operation Spark job breakdown of a traced perfbench run.

    python3 scripts/trace_jobs.py .perfbench_out/trace-serve-batch-5.json

A traced run (``perfbench/run.py --trace 1``) dumps its spans and the
Spark status API's job list. For each ``op`` span (one result page or one
batch) this prints the jobs submitted inside it: start offset from the
op's start, duration, task count and call site. It closes with the
median jobs per op and, per call site and occurrence within an op (a
broadcast join side and the scan it feeds share a call site), the number
of jobs and their median duration.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir, "perfbench"))
from spans import _rest_time  # noqa: E402


def op_jobs(trace: dict) -> list[tuple[dict, list[dict]]]:
    """[(op span, [jobs submitted inside it, by submission time])]."""
    jobs = sorted((j for j in trace["jobs"] if j.get("t") is not None),
                  key=lambda j: j["t"])
    return [(op, [j for j in jobs if op["start"] <= j["t"] <= op["end"]])
            for op in sorted(trace["spans"], key=lambda s: s["start"])
            if op["name"] == "op"]


def job_ms(job: dict) -> float | None:
    done = _rest_time(job.get("completionTime"))
    return None if done is None else (done - job["t"]) * 1000.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="a .perfbench_out/trace-*.json file")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        trace = json.load(f)
    by_site: dict[tuple[str, int], list[float]] = {}
    ops = op_jobs(trace)
    for i, (op, jobs) in enumerate(ops):
        print(f"op {i}: {op['dur'] * 1000:.0f} ms, {len(jobs)} jobs")
        nth: dict[str, int] = {}
        for j in jobs:
            ms, site = job_ms(j), j.get("name", "")
            nth[site] = nth.get(site, 0) + 1
            print(f"  +{(j['t'] - op['start']) * 1000:6.0f} ms"
                  f"  {'?' if ms is None else f'{ms:.0f}':>6} ms"
                  f"  {j.get('numTasks', '?'):>4} tasks  {site}")
            if ms is not None:
                by_site.setdefault((site, nth[site]), []).append(ms)
    if ops:
        per_op = [len(jobs) for _, jobs in ops]
        print(f"{len(ops)} ops, jobs per op median "
              f"{statistics.median(per_op):g} (min {min(per_op)}, "
              f"max {max(per_op)})")
    for (site, n), ms in sorted(by_site.items(), key=lambda kv: kv[0]):
        print(f"{len(ms):5d} jobs  median {statistics.median(ms):7.1f} ms"
              f"  {site} [#{n} in op]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
