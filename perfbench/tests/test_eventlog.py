"""The event-log parser on a tiny committed log.

``data/eventlog_tiny.jsonl`` holds two job groups captured from Spark 4.1.2
(uncompressed, non-rolling event log; fields the parser does not read were
trimmed) and one hand-written group, ``wl/q#1/action``, with a failed task,
spill and a skewed stage.
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_event_log(LOG)


def test_groups_found(groups):
    assert set(groups) == {"wl/q#0/build", "wl/q#0/action", "wl/q#1/action"}


def test_captured_build_group(groups):
    g = groups["wl/q#0/build"]
    assert (g.jobs, g.tasks, g.failed_tasks) == (2, 3, 0)
    assert g.task_run_ms == 318 + 318 + 89
    assert g.shuffle_write_bytes == g.shuffle_read_bytes == 364
    # two jobs, 885 ms and 190 ms, that do not overlap
    assert g.job_seconds() == pytest.approx(1.075)


def test_captured_action_group(groups):
    g = groups["wl/q#0/action"]
    assert (g.jobs, g.tasks) == (2, 3)
    assert g.task_run_ms == 47 + 48 + 20
    assert g.job_seconds() == pytest.approx(0.176)


def test_failures_spill_and_skew(groups):
    g = groups["wl/q#1/action"]
    assert (g.jobs, g.tasks, g.failed_tasks) == (2, 4, 1)
    assert g.disk_spill_bytes == 1 << 20
    assert g.input_bytes == 4 << 20
    assert g.output_bytes == 2 << 20
    assert g.gc_ms == 40
    # jobs 1000-1700 and 1500-2000 ms overlap: 1.0 s of wall, not 1.2
    assert g.job_seconds() == pytest.approx(1.0)
    # successful tasks 100, 100, 400 ms: max / median
    assert g.stage_skew() == pytest.approx(4.0)


def test_merge_sums(groups):
    m = eventlog.merge(groups.values())
    assert m.jobs == 6
    assert m.tasks == 10
    assert m.task_run_ms == 725 + 115 + 650
    assert m.job_seconds() == pytest.approx(1.075 + 0.176 + 1.0)


def test_short_stages_do_not_count_as_skew(groups):
    # every captured stage's slowest task is under 50 ms or a single task
    assert groups["wl/q#0/action"].stage_skew() == 1.0
