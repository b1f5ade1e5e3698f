"""Tests of the benchmark's own arithmetic and tracing, plus a small smoke
run of every workload on sf 0.001 tables.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import core_use, covered, exec_summary, percentile, self_times, tail_percentile  # noqa: E402
from run import layer_values, pass_layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([1, 2, 3, 4], 50) == 2
    assert percentile([7], 90) == 7


def test_p90_needs_ten_samples_beyond_it():
    value, beyond, steady = tail_percentile(list(range(1, 101)), 90)
    assert (value, beyond, steady) == (90, 10, True)
    value, beyond, steady = tail_percentile(list(range(1, 100)), 90)
    assert (value, beyond, steady) == (90, 9, False)
    # ties at the percentile are not beyond it
    assert tail_percentile([1.0] * 95 + [2.0] * 5, 90)[1:] == (5, False)


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_only_direct_children_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.0, 2.0),  # grandchild: charged to span 1, not span 0
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped to it
    ]
    own = self_times(spans)
    assert own == {0: 10.0 - 5.0 - 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}


def _stage(**kw):
    rec = dict.fromkeys(
        (
            "tasks failed_tasks task_run_s task_cpu_s gc_s spill_mb "
            "shuffle_read_mb shuffle_write_mb input_mb output_mb"
        ).split(),
        0,
    )
    rec.update(kw)
    return rec


def test_core_use_on_hand_built_stages():
    jobs = [(100.0, 102.0), (101.0, 103.0)]  # overlap: executors busy 3 s
    stages = [_stage(tasks=4, task_run_s=4.0), _stage(tasks=2, task_run_s=2.0, failed_tasks=1)]
    s = exec_summary(jobs, stages)
    assert (s["jobs"], s["stages"], s["tasks"], s["failed_tasks"]) == (2, 2, 6, 1)
    assert s["exec_s"] == 3.0 and s["task_run_s"] == 6.0
    util, idle = core_use(s["task_run_s"], s["exec_s"], cores=4)
    assert util == pytest.approx(0.5) and idle == pytest.approx(6.0)
    assert core_use(0.0, 0.0, 4) == (0.0, 0.0)


def test_pass_layers_names_and_ratios():
    stages = exec_summary([(0.0, 1.0)], [_stage(task_run_s=2.0, input_mb=4.0, output_mb=1.0)])
    spans = [
        {"id": 0, "parent": None, "layer": "query", "name": "q", "start": 0.0, "end": 3.0},
        {"id": 1, "parent": 0, "layer": "entry", "name": "build", "start": 0.0, "end": 1.0},
        {"id": 2, "parent": 1, "layer": "io.writers", "name": "write_auto", "start": 0.2, "end": 0.8},
        {"id": 3, "parent": 2, "layer": "session", "name": "load_table", "start": 0.2, "end": 0.3},
        {"id": 4, "parent": 0, "layer": "catalyst", "name": "plan", "start": 1.0, "end": 1.5, "plan_nodes": 7},
        {"id": 5, "parent": 0, "layer": "exec", "name": "execute", "start": 1.5, "end": 3.0, "stages": stages},
    ]
    row = pass_layers(spans, cores=4)
    assert row["entry.build_s"] == 1.0
    assert row["io.writers.calls"] == 1
    assert row["io.writers.self_s"] == pytest.approx(0.5)
    assert row["session.load_table_calls"] == 1
    assert row["catalyst.plan_nodes"] == 7
    assert row["exec.s"] == 1.0 and row["io.input_mb"] == 4.0
    assert row["exec.core_util"] == pytest.approx(0.5)
    assert row["io.write_amp"] == pytest.approx(0.25)


def test_layer_values_zero_only_for_wrapped_layers_not_reached():
    wrapped = {"session": ["get_spark", "load_table"], "operators.graph": ["components"]}
    layer = {"py4j.calls": 12, "operators.sort.calls": 3}
    names = ["py4j.calls", "operators.sort.calls", "operators.graph.calls", "session.get_spark_s"]
    assert layer_values(names, layer, wrapped) == {
        "py4j.calls": 12,
        "operators.sort.calls": 3,
        "operators.graph.calls": 0.0,
        "session.get_spark_s": 0.0,
    }
    with pytest.raises(KeyError, match="operators.renamed.self_s"):
        layer_values(["operators.renamed.self_s"], layer, wrapped)
    with pytest.raises(KeyError, match="exec.jobs"):
        layer_values(["exec.jobs"], layer, wrapped)


def test_instrumentation_rebinds_from_imports_and_ships_plain_function():
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from dataframes_spark import session
    from pyspark import cloudpickle
    from tracer import Instrumentation, Tracer, _Traced

    original = session.load_table
    instr = Instrumentation(Tracer())
    instr.install()
    try:
        assert session.load_table is not original
        assert entry.load_table is session.load_table
        # what a UDF closure holding the stand-in sends to a worker
        shipped = cloudpickle.loads(cloudpickle.dumps(entry.load_table))
        assert not isinstance(shipped, _Traced) and shipped.__name__ == "load_table"
    finally:
        instr.uninstall()
    assert session.load_table is original and entry.load_table is original


def _run(workload: str, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tables", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_sf0001(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    code, out = _run(workload, trace=0)
    assert code == 0 and out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_smoke_traced_sf0001():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    code, out = _run("corpus_pipeline", trace=1)
    assert code == 0 and out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert out["metrics"]["py4j.calls"]["value"] > 0
    assert out["metrics"]["operators.dedup.calls"]["value"] > 0
