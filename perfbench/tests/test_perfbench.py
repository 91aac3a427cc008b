"""Tests of the benchmark itself: its query generator, its description
files, a smoke run of every workload at a small size (both the untraced
and the traced run), and its refusal to run without the engine.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)
with open(os.path.join(BENCH, "spec.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


REF = ["haber", "istanbul spor ekonomi", "İZMİR", "ve ve", "zzzzz qqqqq",
       "Güzel, yeni!"]


def test_query_shapes_follow_the_reference_queries():
    from querygen import query_shapes

    shapes = query_shapes(REF, ["haber", "istanbul", "spor", "ekonomi",
                                "izmir", "ve", "güzel", "yeni"])
    assert [len(s) for s in shapes] == [1, 3, 1, 2, 2, 2]
    assert shapes[2] == [("draw", "upper", "")]
    assert shapes[3][1] == (("repeat", 0), "lower", "")
    assert shapes[4] == [(("nohit", 5), "lower", "")] * 2
    assert shapes[5] == [("draw", "title", ","), ("draw", "lower", "!")]


def test_zipf_stream_is_seeded():
    from querygen import zipf_stream

    vocab = [f"w{i}" for i in range(500)] + ["haber", "izmir"]
    a, b, c = (zipf_stream(s, vocab, ["haber", "İZMİR"]) for s in (1, 1, 2))
    qa = [next(a) for _ in range(200)]
    assert qa == [next(b) for _ in range(200)]
    assert qa != [next(c) for _ in range(200)]
    assert all(q.strip() for q in qa)
    assert any(q.isupper() for q in qa) and any(q.islower() for q in qa)
    # each round of two holds each reference shape once
    assert all(qa[i].isupper() != qa[i + 1].isupper()
               for i in range(0, 200, 2))


def test_distinct_batch_is_distinct_and_avoids_folded_words():
    from querygen import FOLDED, distinct_batch

    vocab = [f"w{i}" for i in range(400)] + ["kapı", "dağ", "şeker"]
    qs = distinct_batch(3, 0, vocab, REF, 300, head=50)
    assert len(qs) == len(set(qs)) == 300
    assert qs == distinct_batch(3, 0, vocab, REF, 300, head=50)
    assert qs != distinct_batch(3, 1, vocab, REF, 300, head=50)
    assert not any(FOLDED & set(q) for q in qs)
    head = set(vocab[:50])
    assert not any(head & set(q.split()) for q in qs)
    assert {len(q.split()) for q in qs} <= {1, 2, 3}


def test_benchmark_json_and_spec_describe_the_same_benchmark():
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert set(BENCHMARK["paths"]) == {"perfbench"}
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(
        SPEC["workloads"])
    e2e = {m["name"]: m for m in BENCHMARK["end_to_end"]}
    assert set(e2e) == set(SPEC["end_to_end"])
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    layers = {m["name"]: m for m in BENCHMARK["per_layer"]}
    assert set(layers) == set(SPEC["per_layer"])
    for name, m in layers.items():
        assert set(m) == {"name", "unit", "better"}
        assert set(SPEC["per_layer"][name]["moves"]) <= set(e2e)
        assert set(SPEC["per_layer"][name]["on"]) <= set(SPEC["workloads"])
    names = [*e2e, *layers, *(w["name"] for w in BENCHMARK["workloads"])]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in [*e2e.values(),
                                               *layers.values()])


def _run(cwd, workload, trace, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_smoke_run_emits_every_metric_and_passes_checks(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stdout
    assert out["attempted"] >= 1
    listed = BENCHMARK["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float)
               for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "serve-seq", 0, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
