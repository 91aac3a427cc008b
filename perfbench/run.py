#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-seq --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Starts a local Spark session on
``local[<cores>]``, generates the workload's corpus from ``--seed`` into
``.perfbench_work/`` under the checkout, runs the workload for
``--seconds``, checks the engine's outputs and prints, as its last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the spans and Spark job data of the run are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

An untraced run leaves its operation latencies in
``.perfbench_out/ops-<workload>-<seed>.json``; a traced run of the same
workload and seed in the same checkout compares its own latencies over the
same operations with them and prints the tracing overhead on its log line
(and in its trace file).

Workloads, sizes, and which end-to-end metric each layer metric should
move are recorded in ``perfbench/spec.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import MemSampler, SparkRest, Tracer, descendants  # noqa: E402


def start_spark(work: str, traced: bool):
    """Local session sized to this machine, with every scratch path inside
    the work dir. The status UI (and its REST API) is on only when
    traced."""
    from search_engine_tr_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so both point inside
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    extra = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata files: the JVM would write them under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": str(traced).lower(),
    }
    if traced:
        extra.update({"spark.ui.port": "0",
                      "spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.ui.retainedTasks": "1000"})
    return get_spark(app="perfbench", cores=cores, shuffle_partitions=cores,
                     extra=extra)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this host so far, from /proc/stat:
    time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tracing_overhead(out_dir: str, workload: str, seed: int,
                     op_lat: list[float]) -> float | None:
    """Percent by which this traced run's median operation latency exceeds
    the untraced run's of the same seed, over the operations both sent
    (the same queries, since the stream depends only on the seed); None
    when no untraced run of this seed has left its record here."""
    try:
        with open(os.path.join(out_dir, f"ops-{workload}-{seed}.json")) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        return None
    n = min(len(untraced), len(op_lat))
    if n == 0:
        return None
    return 100.0 * (statistics.median(op_lat[:n])
                    / statistics.median(untraced[:n]) - 1.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default",
                    help="size profile from spec.json (smoke: tests)")
    args = ap.parse_args()

    with open(os.path.join(HERE, "spec.json")) as f:
        sizes = json.load(f)["sizes"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import search_engine_tr_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tracer = Tracer(traced)
    steal0 = steal_ticks()
    try:
        with MemSampler() as mem:
            t0 = time.perf_counter()
            spark = start_spark(work, traced)
            session_s = time.perf_counter() - t0
            try:
                run = workloads.Run(
                    spark=spark, work=work, seed=args.seed,
                    seconds=args.seconds, size=sizes[args.size],
                    tracer=tracer,
                    rest=SparkRest(spark.sparkContext) if traced else None)
                e2e = workloads.WORKLOADS[args.workload](run)
                e2e["setup_s"] += session_s
                if traced:
                    jobs, stages = run.rest.snapshot()
                    metrics = workloads.layer_metrics(run, jobs, stages)
                    metrics["setup.session_s"] = session_s
                    run.report["trace_overhead_pct"] = tracing_overhead(
                        out_dir, args.workload, args.seed, run.op_lat)
                    tracer.dump(os.path.join(
                        out_dir, f"trace-{args.workload}-{args.seed}.json"),
                        {"jobs": jobs, "metrics": metrics,
                         "op_lat": run.op_lat, **run.report})
            finally:
                stop_spark(spark)
        e2e["peak_pss_mb"] = mem.peak_mb
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a run on a host whose CPUs were partly stolen reads slow throughout
    stolen, total = (b - a for a, b in zip(steal0, steal_ticks()))
    run.report["host_steal_share"] = stolen / max(1, total)
    for e in run.errors:
        print(f"perfbench: failed: {e}")
    named = ", ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                      for k, v in run.report.items())
    print(f"perfbench: {args.workload} seed={args.seed} {named}")
    if not traced:
        metrics = e2e
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"ops-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(run.op_lat, f)
    units = {m["name"]: m["unit"]
             for m in listed["per_layer" if traced else "end_to_end"]}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
