"""Tests of the benchmark itself: op generation, metric names, span
arithmetic, and a small smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402
from tracing import self_times, unattributed  # noqa: E402


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_same_seed_same_ops_other_seed_other_ops(workload):
    a = workloads.op_list(workload, 7, 3)
    assert a == workloads.op_list(workload, 7, 3)
    assert a != workloads.op_list(workload, 8, 3)


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_rounds_hold_every_kind_once(workload):
    spec = workloads.SPECS[workload]
    kinds = {"interactive": workloads.INTERACTIVE_KINDS,
             "pipelines": workloads.PIPELINE_KINDS}[workload]
    for client in range(spec.readers):
        it = workloads.rounds(workload, 3, client, workloads.sizes(workloads.SF))
        for _ in range(4):
            assert sorted(op.kind for op in next(it)) == sorted(kinds)


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_kind_order_is_the_same_for_every_seed(workload):
    def kinds(seed):
        return [(c, op.kind) for c, op in workloads.op_list(workload, seed, 3)]

    assert kinds(3) == kinds(4)


def test_pipeline_ops_never_repeat_and_ngram_covers_both_paths():
    ops = [op for _, op in workloads.op_list("pipelines", 5, 12)]
    assert len({op.key for op in ops}) == len(ops)
    ts = [op.a["t"] for op in ops if op.kind == "ngram"]
    assert min(ts) < 0.5 <= max(ts)


def test_writer_is_mostly_writes_and_keeps_valid_keys():
    ops = [op for c, op in workloads.op_list("interactive", 2, 20) if c == 2]
    share = sum(op.write for op in ops) / len(ops)
    assert 0.55 <= share <= 0.7
    # every round has the same kinds in the same block order; only the
    # order within a block of writes is drawn
    kinds = [op.kind for op in ops]
    shapes = {
        (tuple(sorted(r[:2])), r[2], tuple(sorted(r[3:5])), *r[5:])
        for r in (kinds[i:i + 9] for i in range(0, len(kinds), 9))
    }
    assert len(shapes) == 1
    live = set(range(workloads.SCRATCH_SLICE))
    for op in ops:
        if op.kind == "doc_insert":
            live.add(op.a["k"])
        elif op.kind in ("doc_update", "doc_delete"):
            assert op.a["k"] in live
            if op.kind == "doc_delete":
                live.discard(op.a["k"])


def test_self_time_arithmetic_on_a_synthetic_tree():
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    spans = [
        span(1, None, 0.0, 10.0),  # op
        span(2, 1, 1.0, 4.0),      # build
        span(3, 2, 1.5, 2.5),      # parser inside build
        span(4, 2, 2.0, 3.0),      # overlaps the parser: counted once
        span(5, 1, 5.0, 9.0),      # exec
        span(6, 5, 8.0, 12.0),     # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 3.0, 2: 1.5, 3: 1.0, 4: 1.0, 5: 3.0, 6: 4.0})
    # the top span's self time plus its descendants' (clipped to it)
    # account for its whole duration
    assert st[1] + (4.0 - 1.0) + (9.0 - 5.0) == pytest.approx(10.0)
    # what no layer covers: the root's self time (0-1, 4-5, 9-10) less the
    # probe time excluded from latency
    assert unattributed(spans, st) == pytest.approx(3.0)
    assert unattributed(spans, st, excluded=0.5) == pytest.approx(2.5)
    # layer spans that cover the whole op leave nothing unattributed
    full = [span(1, None, 0.0, 2.0), span(2, 1, 0.0, 1.5), span(3, 1, 1.5, 2.0)]
    assert unattributed(full, self_times(full)) == pytest.approx(0.0)


def test_harrell_davis_percentiles():
    assert run.pct([], 0.5) == 0.0
    assert run.pct([7.0], 0.9) == pytest.approx(7.0)
    assert run.pct([3, 1, 2], 0.5) == pytest.approx(2.0)
    # close to the sample quantile on a large uniform sample
    assert run.pct(list(range(1, 1001)), 0.9) == pytest.approx(900.9, abs=1.0)


def test_ranked_results_allow_near_ties_only():
    from ops import same_ranking

    want = [(1, 3.0), (7, 2.5), (4, 2.5), (9, 1.0)]
    assert same_ranking([(1, 3.0), (4, 2.5), (7, 2.5), (9, 1.0)], want)
    # rows tied with the lowest score may differ: either makes the cut
    assert same_ranking([(1, 3.0), (4, 2.5), (7, 2.5), (8, 1.0)], want)
    assert not same_ranking([(1, 3.0), (4, 2.5), (8, 2.5), (9, 1.0)], want)
    assert not same_ranking(want[::-1], want[::-1])


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == sorted(workloads.SPECS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_smoke_run(workload):
    report, result = _run(workload, 0)
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"], report["failures"]
    assert result["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == list(run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["host"]["spark_graft_cpus"] == max(1, report["host"]["nproc"] // 2)


@pytest.mark.parametrize("workload", sorted(workloads.SPECS))
def test_smoke_traced_run(workload):
    report, result = _run(workload, 1)
    assert result["correct"], report["failures"]
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == list(run.PER_LAYER)
    assert report["trace"]["traced_ops"] >= 1
    assert result["metrics"]["trace.selftime_gap_pct"]["value"] < 5.0


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "workloads.py"):
        with open(os.path.join(BENCH, f)) as src:
            (bench / f).write_text(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
