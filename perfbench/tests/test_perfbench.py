"""Tests of the benchmark itself: percentile rule, span arithmetic,
seeded inputs and operation streams, BENCHMARK.json consistency, and a
small-scale smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench import metrics as M  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.spans import Tracer, self_times, tail  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")


@pytest.fixture
def scratch(request):
    """A fresh directory inside the checkout's ignored `.perfbench/`."""
    d = os.path.join(ROOT, ".perfbench", "test", request.node.name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_tail_is_the_11th_largest_sample():
    vals = [float(v) for v in range(1, 41)]  # 40 samples
    assert tail(vals) == (75.0, 30.0)  # 31..40 lie beyond it
    assert tail(vals[:11]) == (100.0 / 11, 1.0)
    # ten samples or fewer: no percentile has ten beyond it
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail(vals[:10]) == (100.0, 10.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x") as rec:
        assert rec is None
    assert tr.spans == []


def test_units_alternate_tracing_per_key():
    run = W.Run(None, Tracer(), "", "", 0, {})
    run.alternate = True
    seen = []
    for key in ("a", "b", "a", "b", "a"):
        with run.unit(key):
            seen.append(run.tr.enabled)
    assert seen == [False, True, True, False, False]
    assert [u[:2] for u in run.units] == [
        ("a", False), ("b", True), ("a", True), ("b", False), ("a", False)]
    assert not run.tr.enabled
    run.alternate = False
    with run.unit("a"):
        pass
    assert len(run.units) == 5


def test_overhead_pairs_units_of_the_same_key():
    from perfbench.run import overhead
    units = [("a", False, 1.0), ("a", True, 1.2), ("a", False, 3.0),
             ("b", True, 4.0), ("b", False, 3.0), ("c", True, 9.0)]
    # medians: a untraced 2.0, traced 1.2; b 3.0 and 4.0; c has one side
    pairs, pct = overhead(units)
    assert pairs == 2
    assert pct == pytest.approx(100.0 * (5.2 / 5.0 - 1.0))
    assert overhead([("c", True, 1.0)])[0] == 0


def _tables(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_inputs_are_a_function_of_the_seed(scratch):
    a = inputs.write_inputs(os.path.join(scratch, "a"), 5, 0.001)
    inputs.write_inputs(os.path.join(scratch, "b"), 5, 0.001)
    inputs.write_inputs(os.path.join(scratch, "c"), 6, 0.001)
    assert a["lineitem"] == 6000 and a["documents"] == 500
    ta, tb, tc = (_tables(os.path.join(scratch, x)) for x in "abc")
    assert ta == tb
    assert ta["lineitem.parquet"] != tc["lineitem.parquet"]
    assert len(ta) == len(W.TABLE_NAMES)


def test_operation_streams_are_a_function_of_the_seed():
    rows = {"customer": 150, "events": 1000, "embeddings": 500}

    def h(name, seed):
        run = W.Run(None, Tracer(), "", "", seed, rows)
        return W.spec_hash(W.WORKLOADS[name].specs(run))

    for name in W.WORKLOADS:
        assert h(name, 1) == h(name, 1)
        assert h(name, 1) != h(name, 2)


@pytest.mark.parametrize("name, mix", [("serving_reads", W.READ_MIX),
                                       ("nightly_refresh", W.REFRESH_MIX)])
def test_operation_mix_follows_the_weights(name, mix):
    run = W.Run(None, Tracer(), "", "", 3, {"customer": 150, "events": 1000, "embeddings": 500})
    wl = W.WORKLOADS[name]
    specs = wl.specs(run)
    kinds = [wl.kind_of(next(specs)) for _ in range(10 * wl.block)]
    assert {k: kinds.count(k) for k in mix} == {k: 10 * w for k, w in mix.items()}


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == M.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in M.per_layer().items()}


def _run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    return p, p.stdout.strip().splitlines()


# serving_reads also covers the default tiered JIT used for cross-checks
@pytest.mark.parametrize("workload, jit", [
    ("nightly_refresh", "c1"), ("analytics_batch", "c1"), ("serving_reads", "tiered")])
def test_smoke_run(workload, jit):
    p, lines = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
                     "--trace", "0", "--scale", "0.001", "--jit", jit])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: v[0] for k, v in M.END_TO_END.items()}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_reports_every_layer():
    p, lines = _run(["--workload", "nightly_refresh", "--seed", "2", "--seconds", "1",
                     "--trace", "1", "--scale", "0.001"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(lines[-1])
    assert out["correct"]
    assert set(out["metrics"]) == set(M.per_layer())
    assert out["metrics"]["plans.pricing_summary.build_jobs"]["value"] == 0


def test_fails_without_the_package(scratch):
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), scratch)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serving_reads",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=scratch, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
