#!/usr/bin/env python3
"""Per-span Spark job breakdown of a traced perfbench run.

    python3 scripts/trace_jobs.py .perfbench_out/trace-serve-batch-5.json \
        [--span op]

A traced run (``perfbench/run.py --trace 1``) dumps its spans and the
Spark status API's job list. For each span named ``--span`` (default
``op``: one result page or one batch; others are e.g.
``query_bm25.open``, ``ingest`` and ``build``) this prints the jobs
submitted inside it: start offset from the span's start, duration, task
count and call site. It closes with the median jobs per span and, per
call site and occurrence within a span (a broadcast join side and the
scan it feeds share a call site), the number of jobs and their median
duration.
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


def span_jobs(trace: dict, name: str) -> list[tuple[dict, list[dict]]]:
    """[(span named ``name``, [jobs submitted inside it, by submission
    time])]."""
    jobs = sorted((j for j in trace["jobs"] if j.get("t") is not None),
                  key=lambda j: j["t"])
    return [(sp, [j for j in jobs if sp["start"] <= j["t"] <= sp["end"]])
            for sp in sorted(trace["spans"], key=lambda s: s["start"])
            if sp["name"] == name]


def job_ms(job: dict) -> float | None:
    done = _rest_time(job.get("completionTime"))
    return None if done is None else (done - job["t"]) * 1000.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="a .perfbench_out/trace-*.json file")
    ap.add_argument("--span", default="op",
                    help="span name to break down (default: op)")
    args = ap.parse_args(argv)
    with open(args.trace) as f:
        trace = json.load(f)
    by_site: dict[tuple[str, int], list[float]] = {}
    spans = span_jobs(trace, args.span)
    for i, (sp, jobs) in enumerate(spans):
        print(f"{args.span} {i}: {sp['dur'] * 1000:.0f} ms, "
              f"{len(jobs)} jobs")
        nth: dict[str, int] = {}
        for j in jobs:
            ms, site = job_ms(j), j.get("name", "")
            nth[site] = nth.get(site, 0) + 1
            print(f"  +{(j['t'] - sp['start']) * 1000:6.0f} ms"
                  f"  {'?' if ms is None else f'{ms:.0f}':>6} ms"
                  f"  {j.get('numTasks', '?'):>4} tasks  {site}")
            if ms is not None:
                by_site.setdefault((site, nth[site]), []).append(ms)
    if spans:
        per = [len(jobs) for _, jobs in spans]
        print(f"{len(spans)} {args.span} spans, jobs per span median "
              f"{statistics.median(per):g} (min {min(per)}, "
              f"max {max(per)})")
    for (site, n), ms in sorted(by_site.items(), key=lambda kv: kv[0]):
        print(f"{len(ms):5d} jobs  median {statistics.median(ms):7.1f} ms"
              f"  {site} [#{n} in {args.span}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
