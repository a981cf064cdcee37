"""Tests of the benchmark's own tracing and metric plumbing (no Spark).

Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import pickle
import re
import sys
import threading
import types

import pytest
from pyspark import cloudpickle

from perfbench import run, sparkstats, tracing
from perfbench.tracing import Span, Tracer


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    parent = Span(1, None, "t", "p", "a", start=0.0, end=10.0)
    kids = [
        Span(2, 1, "t", "c", "b", start=1.0, end=3.0),
        Span(3, 1, "t", "c", "b", start=2.0, end=5.0),  # overlaps the first
        Span(4, 1, "t", "c", "b", start=8.0, end=12.0),  # runs past the parent
    ]
    assert tracing.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert tracing.self_time(parent, []) == pytest.approx(10.0)


def test_layer_totals_split_time_and_jobs_to_the_innermost_span():
    clock, jobs = FakeClock(), [0]
    tr = Tracer(job_counter=lambda: jobs[0], clock=clock)
    with tr.trace("op"):
        with tr.span("entry.q", "entry"):
            clock.t, jobs[0] = 1.0, 1
            with tr.span("mod.f", "mod"):
                clock.t, jobs[0] = 4.0, 3
            clock.t, jobs[0] = 5.0, 4
        clock.t = 6.0
    totals = tracing.layer_totals(tr.spans)
    assert totals["mod"] == {"self_s": pytest.approx(3.0), "jobs": 2}
    assert totals["entry"] == {"self_s": pytest.approx(2.0), "jobs": 2}
    assert totals["op"] == {"self_s": pytest.approx(1.0), "jobs": 0}
    assert len({s.trace_id for s in tr.spans}) == 1


def test_each_op_execution_gets_its_own_trace_id():
    tr = Tracer()
    for name in ("a", "b"):
        with tr.trace(name):
            with tr.span("x", "layer"):
                pass
    ids = {s.name: s.trace_id for s in tr.spans if s.layer == "op"}
    assert ids["a"] != ids["b"]
    for s in tr.spans:
        if s.layer == "layer":
            root = next(r for r in tr.spans if r.span_id == s.parent_id)
            assert s.trace_id == root.trace_id


def test_span_opened_on_another_thread_hangs_under_the_waiting_span():
    tr = Tracer()
    with tr.trace("op"):
        with tr.span("drain", "streaming") as waiting:
            def callback():
                with tr.span("batch", "keys"):
                    pass

            t = threading.Thread(target=callback)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    batch = next(s for s in tr.spans if s.name == "batch")
    assert batch.parent_id == waiting.span_id
    assert batch.trace_id == waiting.trace_id


def _fake_package(monkeypatch):
    """fakepkg.ops defines the functions; fakeentry binds one with
    ``from fakepkg.ops import work``, as __spark_entry__ does."""
    pkg = types.ModuleType("fakepkg")
    ops = types.ModuleType("fakepkg.ops")
    exec(
        "def work(x):\n    return helper(x) + 1\n"
        "def helper(x):\n    return x * 2\n"
        "def _private(x):\n    return x\n"
        "class Calc:\n    def run(self, x):\n        return work(x)\n",
        ops.__dict__,
    )
    for obj in (ops.work, ops.helper, ops._private, ops.Calc):
        obj.__module__ = "fakepkg.ops"
    entry = types.ModuleType("fakeentry")
    entry.work = ops.work
    entry.other = len
    for m in (pkg, ops, entry):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    return ops, entry


def test_instrument_replaces_every_module_level_reference(monkeypatch):
    ops, entry = _fake_package(monkeypatch)
    original = ops.work
    tr = Tracer()
    restore = tracing.instrument({"ops": [ops]}, tr, ("fakepkg", "fakeentry"))
    try:
        assert entry.work is ops.work is not original
        assert entry.other is len
        assert ops._private.__name__ == "_private"
        with tr.trace("q"):
            assert entry.work(3) == 7
            assert ops.Calc().run(1) == 3
        names = [s.name for s in tr.spans]
        assert names.count("fakepkg.ops.work") == 2
        assert names.count("fakepkg.ops.helper") == 2
        assert "fakepkg.ops.Calc.run" in names
        assert all(s.layer == "ops" for s in tr.spans if s.name.startswith("fakepkg"))
    finally:
        restore()
    assert entry.work is ops.work is original
    assert not isinstance(ops.Calc.__dict__["run"], tracing._Traced)


@pytest.mark.parametrize("dumps", [pickle.dumps, cloudpickle.dumps])
def test_traced_function_pickles_as_a_reference(dumps):
    original = tracing.self_time
    restore = tracing.instrument({"t": [tracing]}, Tracer(), ("perfbench.tracing",))
    try:
        assert isinstance(tracing.self_time, tracing._Traced)
        data = dumps(tracing.self_time)
    finally:
        restore()
    # unpickled where nothing is traced (a Python worker), it is the original
    assert pickle.loads(data) is original


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units_are_well_formed():
    for units in (run.END_TO_END_UNITS, run.PER_LAYER_UNITS):
        for name, unit in units.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit


def test_benchmark_json_lists_exactly_the_emitted_metrics():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max", 3)
    vals = [float(i) for i in range(1, 21)]
    value, quantile, n = run.tail(vals)
    assert n == 20 and sum(v > value for v in vals) == 10 and quantile == "p50"


def test_event_log_totals_attribute_stages_to_their_first_job(tmp_path):
    def task(stage, reason="Success", cpu_ns=2_000_000_000, written=5):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": "250"}]},
                "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": cpu_ns,
                                 "JVM GC Time": 100, "Disk Bytes Spilled": 7,
                                 "Shuffle Read Metrics": {"Local Bytes Read": 10,
                                                          "Remote Bytes Read": 1},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                                 "Output Metrics": {"Bytes Written": written}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0]},
        task(0),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [0, 1]},
        task(1), task(1, reason="ExceptionFailure"),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    job_of_stage, stages = sparkstats.read_event_log(str(log))
    assert job_of_stage == {0: 0, 1: 1}
    one = sparkstats.job_totals(job_of_stage, stages, {1})
    assert one["stages"] == 1 and one["tasks"] == 2 and one["failed_tasks"] == 1
    assert one["executor_cpu_s"] == pytest.approx(4.0)
    assert one["executor_run_s"] == pytest.approx(3.0)
    assert one["python_eval_s"] == pytest.approx(0.5)
    assert one["shuffle_read_bytes"] == 22 and one["output_bytes"] == 10
    both = sparkstats.job_totals(job_of_stage, stages, {0, 1})
    assert both["tasks"] == 3


def test_error_lines_are_counted_between_offsets(tmp_path):
    log = tmp_path / "spark.log"
    head = "26/10/17 00:06:59 WARN X: fine\n"
    body = ("26/10/17 00:07:00 ERROR Y: broken\n  at frame\n"
            "26/10/17 00:07:01 ERROR Z: again\nTraceback ERROR not a log line\n")
    log.write_text(head + body)
    assert sparkstats.count_error_lines(str(log), len(head), len(head + body)) == 2
    assert sparkstats.count_error_lines(str(log), 0, len(head)) == 0


def test_process_tree_cpu_includes_this_process():
    tree = sparkstats.process_tree(os.getpid())
    assert tree[0] == os.getpid()
    assert sparkstats.tree_cpu_s(os.getpid()) > 0


def test_each_source_tree_gets_its_own_fixture_key(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "DATA", str(tmp_path / "data"))
    tables = tmp_path / "sf0.1"
    tables.mkdir()
    a, b = run.table_link(str(tables), "aaa"), run.table_link(str(tables), "bbb")
    assert os.path.realpath(a) == os.path.realpath(b) == str(tables)
    assert run.table_link(str(tables), "aaa") == a
    import __spark_entry__

    assert __spark_entry__._fixture_sf_tag(a) == "sf0_1_aaa"
    assert __spark_entry__._fixture_sf_tag(b) == "sf0_1_bbb"


def test_prepare_fixtures_clears_only_fixtures_no_tables_key(tmp_path):
    root = tmp_path / "fixtures"
    for d in ("sf0_1_aaa/a", "sf0_01/b", "dated/x"):
        (root / d).mkdir(parents=True)
    (root / "events.csv").write_text("x")
    entry = types.SimpleNamespace(
        _CSV_FIXTURE=str(root / "events.csv"),
        _fixture_sf_tag=lambda sf_dir: os.path.basename(sf_dir).replace(".", "_"))
    assert run.prepare_fixtures(entry, "/data/sf0.1_aaa") is True
    assert sorted(os.listdir(root)) == ["sf0_01", "sf0_1_aaa"]
    assert run.prepare_fixtures(entry, "/data/sf0.1_bbb") is False


def test_traced_pairs_alternate_their_order(monkeypatch):
    bench = run.Bench.__new__(run.Bench)
    bench.run_pass = lambda tracer=None: {"traced_by": tracer}
    tracer = Tracer()
    restore_calls = []
    monkeypatch.setattr(run, "instrument", lambda t: (lambda: restore_calls.append(t)))
    first = bench.traced_pair(tracer, True)
    second = bench.traced_pair(tracer, False)
    assert [p.get("traced", False) for p in first + second] == [True, False, False, True]
    assert [p["traced_by"] for p in first] == [tracer, None]
    assert restore_calls == [tracer, tracer]
