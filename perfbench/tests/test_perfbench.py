"""Tests of the benchmark's own code: the late-fail edits, the event-log
fold, the span self-time arithmetic, the core-speed scaling and the
reaping of child processes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from grokspark import datagen  # noqa: E402

from perfbench import box, inputs  # noqa: E402
from perfbench.trace import Span, Tracer, fold_event_log, self_times  # noqa: E402


def _apache_lines(n: int) -> list[str]:
    out = []
    i = 0
    while len(out) < n:
        if datagen.source_for(i) == "apache_access":
            line = datagen.line_for(i)
            if not line.endswith("~~"):
                out.append(line)
        i += 1
    return out


@pytest.mark.parametrize("edit", inputs.LATE_FAIL_EDITS, ids=lambda e: e.__name__)
def test_every_latefail_edit_fails_its_route_pattern(edit):
    _route, pattern = inputs.compiled_routes()["pat_apache_access"]
    for line in _apache_lines(200):
        assert pattern.match_against(line) is not None
        edited = edit(line)
        assert edited != line
        assert pattern.match_against(edited) is None, edited


def test_seed_rewrite_keeps_stopwords_and_is_one_to_one():
    docs = [(0, "the brava of chooze a stilo"), (1, "THE BRAVA")]
    assert inputs.rewrite_docs(docs, 27) == [
        (0, "the bravaqbb of choozeqbb a stiloqbb"),
        (1, "THE BRAVAqbb"),
    ]
    assert inputs.seed_suffix(0) != inputs.seed_suffix(26)


def _ev(**kw) -> str:
    return json.dumps(kw)


def _task(stage: int, launch: int, run_ms: int, **metrics) -> str:
    acc = [
        {"Name": "data sent to Python workers", "Update": metrics.pop("sent", 0)},
        {"Name": "data returned from Python workers", "Update": str(metrics.pop("recv", 0))},
        {"Name": "number of output rows", "Update": "99"},
    ]
    m = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000, **metrics}
    return _ev(
        Event="SparkListenerTaskEnd",
        **{"Stage ID": stage, "Task Info": {"Launch Time": launch, "Accumulables": acc}},
        **{"Task Metrics": m},
    )


def test_fold_event_log_sums_the_window():
    lines = [
        # job 0 before the window: its stage 0 is listed again (skipped) by job 1
        _ev(Event="SparkListenerJobStart", **{"Submission Time": 500, "Stage IDs": [0]}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Submission Time": 500}}),
        _task(0, 600, 5000),
        _ev(Event="SparkListenerJobStart", **{"Submission Time": 1000, "Stage IDs": [0, 1, 2]}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1, "Submission Time": 1000}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2, "Submission Time": 1500}}),
        _task(
            1, 1010, 100,
            **{
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
                "Input Metrics": {"Bytes Read": 1000},
                "Memory Bytes Spilled": 3,
                "Disk Bytes Spilled": 4,
            },
            sent=10, recv=20,
        ),
        _task(1, 1020, 300, sent=1, recv=2),
        _task(1, 1030, 200),
        _task(
            2, 1600, 400,
            **{
                "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 65},
                "Output Metrics": {"Bytes Written": 9},
            },
        ),
        # after the window
        _ev(Event="SparkListenerJobStart", **{"Submission Time": 3000, "Stage IDs": [3]}),
        _task(3, 3100, 7000),
    ]
    got = fold_event_log(lines, 1.0, 2.0, cores=4)
    assert got["spark.jobs"] == 1
    assert got["spark.stages"] == 2
    assert got["spark.tasks"] == 4
    assert got["spark.executor_run_s"] == pytest.approx(1.0)
    assert got["spark.executor_cpu_s"] == pytest.approx(0.5)
    assert got["spark.core_busy_ratio"] == pytest.approx(1.0 / (1.0 * 4))
    assert got["spark.shuffle_write_bytes"] == 70
    assert got["spark.shuffle_read_bytes"] == 70
    assert got["spark.spill_bytes"] == 7
    assert got["spark.input_bytes"] == 1000
    assert got["spark.output_bytes"] == 9
    assert got["spark.python_bytes_sent"] == 11
    assert got["spark.python_bytes_received"] == 22
    # stage 1: max 300 / median 200
    assert got["spark.task_skew_max"] == pytest.approx(1.5)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 1.0, 3.0),
        Span(2, "b", 0, "r", 2.0, 5.0),  # overlaps a: [1, 5] counted once
        Span(3, "c", 0, "r", 6.0, 7.0),
        Span(4, "c.child", 3, "r", 6.5, 7.5),  # runs past its parent's end
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(0.5)
    assert got[4] == pytest.approx(1.0)


def test_tracer_nests_spans_by_call_order(tmp_path):
    tracer = Tracer("run-1")
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
        with tracer.span("inner2"):
            pass
    with tracer.span("next"):
        pass
    parents = {s.name: s.parent for s in tracer.spans}
    assert parents == {"outer": None, "inner": 0, "inner2": 0, "next": None}
    assert all(s.end >= s.start and s.run_id == "run-1" for s in tracer.spans)
    tracer.write(tmp_path / "t.json")
    assert len(json.loads((tmp_path / "t.json").read_text())) == 4


def test_at_ref_scales_by_the_probe_mean_over_the_window():
    cpu = box.CpuSampler()
    cpu.samples = [(0.0, 9.0), (1.0, 1.0), (2.0, 3.0), (3.0, 9.0)]
    assert cpu.mean_ms(0.5, 2.5) == pytest.approx(2.0)
    # twice as slow as the reference: the same work takes half as long there
    assert cpu.at_ref(4.0, 0.5, 2.5) == pytest.approx(4.0 * box.REF_CPU_MS / 2.0)


_REAP = """
import multiprocessing, os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import box

box.adopt_orphans()
# an orphan: its shell parent exits at once, the sleep is re-parented here
subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 &"], check=True)
with multiprocessing.get_context("spawn").Pool(1) as pool:  # starts the resource tracker
    pool.map(abs, [1])
    pool.close()
    pool.join()
box.stop_children(timeout=10)
print(box._children().get(os.getpid(), []))
"""


def test_stop_children_reaps_orphans_and_the_resource_tracker():
    root = str(Path(__file__).resolve().parents[2])
    out = subprocess.run(
        [sys.executable, "-c", _REAP, root], capture_output=True, text=True, timeout=60, check=True
    )
    assert out.stdout.strip() == "[]"
