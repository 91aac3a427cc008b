"""Tracing and resource probes for the benchmark.

- ``Tracer``: spans (name, start, end, parent, op id) recorded from the
  benchmark's own code around its calls into the engine. Spans stay in
  memory and are written out once, when the run ends. A disabled tracer
  records nothing, so the untraced run pays one attribute check per call.
- ``traced_parquet_writes``: wraps Spark's public ``DataFrameWriter.parquet``
  for the length of a ``with`` block, so each table write inside
  ``build_index`` gets its own span without touching engine code.
- ``SparkRest``: job and stage metrics from the local status REST API
  (traced runs only; the untraced session runs with the UI off), attributed
  to spans by job submission time.
- ``MemSampler``: peak memory of this process and all of its descendants
  (the JVM and its Python workers), as proportional set size.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its record (or None when disabled) so
        the caller can attach counts measured inside it. A span opened on
        a helper thread with no open span of its own is parented to the
        main thread's innermost open span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = (stack[-1] if stack
                  else self._main_stack[-1] if self._main_stack else None)
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else None, **attrs}
        if rec["op"] is None:
            rec["op"] = rec["id"]
        stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["op"] == span["op"]
                and span["start"] <= s["start"] <= span["end"]]

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["id"]),
                       **(extra or {})}, f)


@contextmanager
def traced_parquet_writes(tracer: Tracer):
    """Span every ``DataFrameWriter.parquet`` call inside the block as
    ``write:<last path component>`` (the index table name)."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        with tracer.span("write:" + os.path.basename(str(path).rstrip("/"))):
            return orig(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads the driver's status REST API on localhost."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.cores = sc.defaultParallelism
        # bypass any proxy settings: the status API is on this host
        self._open = urllib.request.build_opener(
            urllib.request.ProxyHandler({})).open

    def _get(self, path: str):
        with self._open(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        """All jobs and stages, once the listener has caught up (no job
        still running and the job count stable across two reads)."""
        prev = -1
        for _ in range(40):
            jobs = self._get("/jobs")
            if len(jobs) == prev and all(j["status"] != "RUNNING"
                                         for j in jobs):
                break
            prev = len(jobs)
            time.sleep(0.25)
        stages = {s["stageId"]: s for s in self._get("/stages")
                  if s["status"] == "COMPLETE"}
        for j in jobs:
            j["t"] = _rest_time(j.get("submissionTime"))
        return jobs, stages

    def span_totals(self, spans: list[dict], jobs: list[dict],
                    stages: dict[int, dict]) -> dict:
        """Jobs submitted inside any of ``spans`` → summed stage metrics."""
        seen: set[int] = set()
        n_jobs = 0
        for j in jobs:
            if j["t"] is not None and any(s["start"] <= j["t"] <= s["end"]
                                          for s in spans):
                n_jobs += 1
                seen.update(i for i in j["stageIds"] if i in stages)
        st = [stages[i] for i in seen]
        wall = sum(s["dur"] for s in spans)
        run_s = sum(s["executorRunTime"] for s in st) / 1000.0
        return {
            "jobs": n_jobs,
            "tasks": sum(s["numCompleteTasks"] for s in st),
            "executor_run_s": run_s,
            "core_busy_ratio": run_s / (wall * self.cores) if wall else 0.0,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 1e6,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in st) / 1e6,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemSampler:
    """Polls the summed proportional set size (PSS) of this process tree
    every 200 ms; ``peak_mb`` is the highest sum seen. PSS splits a page
    shared by n processes n ways, so the Python workers Spark forks from
    one daemon (their number at a given moment depends on task timing) add
    only their private memory; a sum of RSS counted the shared pages once
    per worker and swung by a quarter between identical runs."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="mem-sampler")

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.2):
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
