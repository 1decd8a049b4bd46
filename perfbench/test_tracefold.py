"""Unit tests for the event-log fold, on a small recorded Spark 4.1 log.

The fixture is a real rolling event log (two parts) from a session that
ran two jobs under group ``layer.a``, four under ``layer.b#1`` and two
untagged; its skipped stages (1, 4, 7, 10) never complete.  It is
trimmed to the four event kinds the fold reads.  Expected numbers below
are summed by hand from the fixture.

Run: ``python3 -m pytest perfbench/test_tracefold.py -q``
"""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracefold import Span, fold, read_event_log  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
APP = "local-1792208549327"
T0 = 1792208556.0  # epoch seconds; jobs start at T0 + 0.595

SPANS = [
    Span("a", "layer.a", T0 + 0.5, T0 + 1.8, supersteps=2),
    # closes before its last job ends (job 5 ends at T0 + 2.520)
    Span("b", "layer.b#1", T0 + 1.8, T0 + 2.5),
]


def test_reads_every_part_in_order():
    events = read_event_log(FIXTURES)
    kinds = [e["Event"] for e in events]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds[-1] == "SparkListenerApplicationEnd"
    assert kinds.count("SparkListenerJobStart") == 8
    assert kinds.count("SparkListenerJobEnd") == 8


def test_fold_attributes_jobs_stages_tasks_by_group():
    table, walls = fold(read_event_log(FIXTURES), SPANS, cores=4)
    a, b = table["a"], table["b"]

    assert a["jobs"] == 2 and b["jobs"] == 4  # untagged jobs 6, 7 ignored
    # executed stages only: a ran 0 (4 tasks) and 2 (1 task); b ran
    # 3 (4), 5 (3), 6 (3) and 8 (1); the skipped ones never count
    assert a["single_task_stages"] == 1 and a["tasks"] == 5
    assert b["single_task_stages"] == 1 and b["tasks"] == 11
    assert a["task_run_s"] == pytest.approx(1.927)
    assert b["task_run_s"] == pytest.approx(0.421)
    assert a["task_cpu_s"] == pytest.approx(0.522974211)
    assert a["gc_s"] == pytest.approx(0.172) and b["gc_s"] == 0.0
    assert a["shuffle_write_mb"] == pytest.approx(0.001543)
    assert a["supersteps"] == 2

    # a: wall 1.300 s, jobs cover 0.810 + 0.208 s
    assert a["wall_s"] == pytest.approx(1.3)
    assert a["driver_gap_s"] == pytest.approx(1.3 - 1.018)
    assert a["core_util"] == pytest.approx(1.927 / (1.3 * 4))
    # b: the wall stretches to its last job's end, T0 + 2.520
    assert b["wall_s"] == pytest.approx(0.72)
    assert b["driver_gap_s"] == pytest.approx(0.72 - 0.401)
    assert walls == {
        "layer.a": (pytest.approx(1.3), 2),
        "layer.b#1": (pytest.approx(0.72), 4),
    }


def test_parts_sort_numerically_not_lexically(tmp_path):
    """Parts 9 and 10: a lexical sort would read part 10 first, see job
    3's end before its start and lose that job's interval."""
    src = os.path.join(FIXTURES, f"eventlog_v2_{APP}")
    dst = tmp_path / f"eventlog_v2_{APP}"
    dst.mkdir()
    shutil.copy(os.path.join(src, f"events_1_{APP}"), dst / f"events_9_{APP}")
    shutil.copy(os.path.join(src, f"events_2_{APP}"), dst / f"events_10_{APP}")
    (dst / f"appstatus_{APP}").write_text("")  # ignored, as Spark leaves it
    table, _ = fold(read_event_log(str(tmp_path)), SPANS, cores=4)
    assert table["b"]["driver_gap_s"] == pytest.approx(0.72 - 0.401)


def test_reused_stage_stays_with_the_job_that_ran_it():
    """A later job lists an already-computed shuffle stage among its
    ``Stage IDs`` and skips it; the stage's tasks belong to the first."""

    def job(jid, group, stage_ids, t0, t1):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": t0, "Stage IDs": stage_ids,
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
        ]

    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor Run Time": 500}}
    done = {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": 0, "Number of Tasks": 1}}
    events = job(0, "x#1", [0], 1000, 2000)
    events[1:1] = [task, done]
    events += job(1, "y#2", [0, 1], 3000, 3500)
    spans = [Span("x", "x#1", 1.0, 2.0), Span("y", "y#2", 3.0, 3.5)]
    table, _ = fold(events, spans, cores=4)
    assert table["x"]["tasks"] == 1 and table["x"]["task_run_s"] == 0.5
    assert table["y"]["tasks"] == 0 and table["y"]["jobs"] == 1
