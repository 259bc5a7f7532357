"""Tests of the benchmark's own arithmetic and its metric catalogue.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import self_time, tail, union_length  # noqa: E402

TINY_LOG = os.path.join(HERE, "testdata", "tiny_eventlog.json")
# application start / end of the recorded log, epoch ms
APP_START, APP_END = 1792207641252, 1792207651515


# -- .tail percentile rule ---------------------------------------------------

def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_tail_is_the_value_with_exactly_ten_samples_above():
    values = [float(v) for v in range(100, 0, -1)]  # 1..100, unsorted
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_of_eleven_samples_is_the_minimum():
    value, pct, n = tail([float(v) for v in range(11)])
    assert value == 0.0 and n == 11
    assert pct == pytest.approx(100.0 / 11)


# -- span self time ----------------------------------------------------------

def test_union_length_merges_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_child_coverage_clipped_to_parent():
    # children cover [1,4] and [8,10] of the parent's [0,10]
    assert self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 5


def test_self_times_along_a_call_tree_add_up_to_its_wall():
    tracer = Tracer()

    def leaf():
        with tracer.span("fs.read"):
            sum(range(2000))

    with tracer.span("orchestrate.run_once") as root:
        with tracer.span("delta_log.read_actions"):
            leaf()
            leaf()
        leaf()
    assert [c.name for c in root.children] == ["delta_log.read_actions", "fs.read"]
    assert tracer.subtree_self_s(root) == pytest.approx(root.end - root.start, rel=1e-9)
    assert tracer.layer_s("fs") == pytest.approx(
        sum(s.end - s.start for s in tracer.named("fs.read")))


def test_nested_spans_of_one_name_count_once_in_inclusive_time():
    tracer = Tracer()
    with tracer.span("delta_log.read_snapshot") as outer:
        with tracer.span("delta_log.read_snapshot"):
            pass
    assert tracer.calls("delta_log.read_snapshot") == 2
    assert tracer.inclusive_s(["delta_log.read_snapshot"]) == pytest.approx(
        outer.end - outer.start)


def test_spans_on_other_threads_have_no_parent_here():
    tracer = Tracer()
    with tracer.span("delta_sink.append") as root:
        worker = threading.Thread(target=_one_span, args=(tracer,))
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    assert root.children == []
    assert tracer.named("fs.write")[0].parent is None


def _one_span(tracer):
    with tracer.span("fs.write"):
        pass


def test_wrap_and_uninstall_restore_the_original():
    class Store:
        def get(self, x):
            return x + 1

    tracer = Tracer()
    orig = Store.__dict__["get"]
    tracer.wrap_method(Store, "get", "delta_state.get")
    assert Store().get(1) == 2
    tracer.uninstall()
    assert Store.__dict__["get"] is orig
    assert tracer.calls("delta_state.get") == 1


# -- event-log parser --------------------------------------------------------

def test_event_log_totals_over_the_whole_application():
    s = eventlog.summarize(eventlog.read_events(TINY_LOG), APP_START, APP_END, cores=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 5)
    assert s["task_s"] == pytest.approx(2.261 + 2.262 + 0.252 + 0.292 + 0.083)
    assert s["python_bytes_sent"] == 4 * 40776
    assert s["shuffle_read_bytes"] == s["shuffle_write_bytes"] > 0
    # stage 0 task run times 2261, 2262, 252, 292 ms: max / median
    assert s["skew_max_over_median"] == pytest.approx(2262 / ((292 + 2261) / 2))
    # SQL execution 0 starts at ...647061, its first job at ...648365
    assert s["plan_gap_s"] == pytest.approx(1.304)
    # job spans [...648365, ...651192] and [...651312, ...651465]
    wall = (APP_END - APP_START) / 1e3
    assert s["driver_only_s"] == pytest.approx(wall - 2.827 - 0.153)
    assert s["busy_share"] == pytest.approx(s["task_s"] / (wall * 2))


def test_event_log_window_excludes_later_jobs_and_tasks():
    s = eventlog.summarize(eventlog.read_events(TINY_LOG), APP_START, 1792207651300, cores=2)
    assert (s["jobs"], s["tasks"]) == (1, 4)


# -- generators and the metric catalogue -------------------------------------

def test_generated_inputs_depend_only_on_the_seed():
    a, b, c = (gen.query_tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_benchmark_json_matches_the_metrics_the_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert {"mirror_cdc", "query_mix"} <= {w["name"] for w in bench["workloads"]}


# -- engine CPU clock ----------------------------------------------------------

def test_engine_cpu_counts_a_worker_that_exited_and_was_waited_for():
    import subprocess

    import proc

    worker = subprocess.Popen([sys.executable, "-c",
                               "import time\nt = time.process_time()\n"
                               "while time.process_time() - t < 0.5: pass"])
    before = proc.engine_cpu_s(worker.pid)
    worker.wait(timeout=30)
    after = proc.engine_cpu_s(worker.pid)  # the worker is gone: counted in ours
    assert after - before >= 0.3
