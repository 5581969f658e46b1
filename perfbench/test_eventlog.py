"""Unit test of the event-log reader on a tiny checked-in log.

    python3 -m pytest perfbench/test_eventlog.py -q

``testdata/events`` holds two applications' logs that reuse the same job
and stage ids, ten seconds apart. The first has a stage retried after a
failed task; the second ends in a line cut short, as a crash leaves it.
"""

from __future__ import annotations

import math
import os

from eventlog import load_dir

EVENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "events")
APP1, APP2 = 1_000_000, 1_010_000  # each application's start, in ms


def test_stages_of_two_applications_do_not_merge():
    log = load_dir(EVENTS)
    assert len(log.jobs) == 4
    assert len(log.stages) == 7  # 3 + 1 retry in the first app, 3 in the second
    first = log.window(APP1, APP1 + 3000, cores=2)
    assert first["jobs"] == 2
    assert first["stages"] == 4
    assert first["tasks"] == 6
    second = log.window(APP2, APP2 + 3000, cores=2)
    assert second["stages"] == 3
    assert second["tasks"] == 5


def test_window_metrics():
    w = load_dir(EVENTS).window(APP1, APP1 + 3000, cores=2)
    assert w["failed_tasks"] == 1
    assert w["shuffle_write_bytes"] == 200
    assert w["shuffle_read_bytes"] == 200
    assert w["spill_disk_bytes"] == 512
    # jobs run over [1000, 1600] and [2000, 2500] of the 3000 ms window
    assert math.isclose(w["driver_gap_s"], 1.9)
    # launch minus stage submission: 0 + 10, 0 + 10, 0, 50 ms
    assert math.isclose(w["task_wait_s"], 0.07)
    # 700 task-ms over 3000 ms on 2 cores
    assert math.isclose(w["core_busy_frac"], 700 / 6000)


def test_window_selects_jobs_by_submission_time():
    log = load_dir(EVENTS)
    assert log.window(APP1 + 1500, APP1 + 2500, cores=2)["jobs"] == 1
    assert log.window(APP1, APP2 + 3000, cores=2)["tasks"] == 11
