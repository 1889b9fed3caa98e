"""Tests of span attribution from event-log jobs (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans as tr  # noqa: E402

BUILD, PACK, READ = "segments.build_segment", "segments.pack_and_write", "segments.read_segment"


def _spans():
    # build [0, 10) s holds pack [1, 5) and read [6, 7); job ids: build
    # submits 0, pack 1-2, read 3, build 4 after read; job 5 is outside
    return [
        tr.Span(BUILD, None, 0.0, 0, end=10.0, job_hi=5),
        tr.Span(PACK, 0, 1.0, 1, end=5.0, job_hi=3),
        tr.Span(READ, 0, 6.0, 3, end=7.0, job_hi=4),
    ]


def _jobs():
    return {
        0: tr.Job(0.5, 1.0, [0]),
        1: tr.Job(1.0, 3.0, [1]),
        2: tr.Job(2.0, 4.0, [2, 1]),  # stage 1 reused from job 1
        3: tr.Job(6.0, 6.5, [3]),
        4: tr.Job(8.0, 9.0, [4]),
        5: tr.Job(11.0, 12.0, [5]),
    }


def _stages():
    return {
        st: tr.StageSums(cpu_s=1.0, output=2_000_000, peak_mem=st * 1_000_000,
                         py_run_s=0.5, py_in=1_000_000)
        for st in range(6)
    }


def test_attribution_accounts_for_every_job_in_a_window():
    unattributed, unaccounted = tr.attribute(_spans(), 0, 6)
    assert (unattributed, unaccounted) == (1, 0)


def test_overlapping_siblings_are_reported():
    bad = _spans()
    bad[2].job_lo = 2  # read's window now overlaps pack's
    assert tr.attribute(bad, 0, 6)[1] > 0


def test_layer_metrics():
    out, totals = tr.layer_metrics(_spans(), _jobs(), _stages(), 0, 6)
    assert out[f"{BUILD}.wall_s"] == 10.0
    assert out[f"{BUILD}.self_s"] == 10.0 - 4.0 - 1.0
    assert out[f"{BUILD}.calls"] == 1
    assert out[f"{BUILD}.jobs"] == 5  # its own and its children's
    # jobs run over [0.5, 4] ∪ [6, 6.5] ∪ [8, 9] of the build's [0, 10]
    assert out[f"{BUILD}.driver_only_s"] == pytest.approx(10.0 - 3.5 - 0.5 - 1.0)
    assert out[f"{PACK}.jobs"] == 2
    # stage 1 counts once, under the job that ran it
    assert out[f"{PACK}.exec_cpu_s"] == 3.0 - 1.0
    assert out[f"{PACK}.output_mb"] == 4.0
    assert out[f"{PACK}.peak_exec_mem_mb"] == 2.0
    assert out[f"{BUILD}.exec_cpu_s"] == 5.0
    assert out[f"{READ}.wall_s"] == 1.0 and out[f"{READ}.jobs"] == 1
    assert out["wand.bm25_batch.wall_s"] == 0.0  # never entered
    assert totals["unattributed_jobs"] == 1
    assert totals["bytes_written"] == 6 * 2_000_000  # every job of the window


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "250"},
             {"Name": "data sent to Python workers", "Update": "4096"},
         ]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Output Metrics": {"Bytes Written": 20},
                          "Peak Execution Memory": 30, "Disk Bytes Spilled": 40}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (d / "appstatus_app").write_text("")
    jobs, stages = tr.read_event_log(str(tmp_path))
    assert jobs[0] == tr.Job(1.0, 3.0, [0])
    assert stages[0] == tr.StageSums(2.0, 10, 40, 30, 20, 0.25, 4096)
