"""The event-log reader on a small log recorded from one traced pass."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")
T0, T1 = 1792207240180, 1792207241917  # first job submitted, last task done


@pytest.fixture(scope="module")
def log():
    return eventlog.read_dir(DATA)


def test_parses_jobs_stages_tasks_and_plans(log):
    assert len(log.jobs) == 4
    assert sorted(log.stages) == [27, 29, 32, 33]
    assert len(log.tasks) == 16
    assert list(log.plans) == [4]  # the final plan replaced the initial one
    assert "== Final Plan ==" in log.plans[4][1]


def test_stage_roles(log):
    roles = {sid: s.role for sid, s in log.stages.items()}
    assert roles == {27: "kernel", 29: "kernel", 32: "exchange", 33: "scan"}
    assert eventlog.stage_role({"WriteFiles", "WholeStageCodegen (2)"}) == "write"


def test_window_totals(log):
    w = eventlog.window(log, T0, T1)
    assert (w["jobs"], w["stages"], w["tasks"]) == (4, 4, 16)
    assert w["run_core_s"] == pytest.approx(2.086)
    assert w["shuffle_write_bytes"] == 29807
    assert w["input_bytes"] == 55476
    assert w["spill_bytes"] == 0
    # tasks cover 1325 ms of the 1737 ms window
    assert w["idle_s"] == pytest.approx(0.412)
    # widest stage (29, 11 tasks): slowest task 412 ms, median 52 ms
    assert w["task_skew"] == pytest.approx(412 / 52)
    roles = sum(w[f"run_core_s.{r}"] for r in eventlog.ROLES)
    assert roles == pytest.approx(w["run_core_s"])


def test_window_excludes_other_passes(log):
    w = eventlog.window(log, T1 + 1, T1 + 10_000)
    assert (w["jobs"], w["stages"], w["tasks"], w["run_core_s"]) == (0, 0, 0, 0)
    assert w["idle_s"] == pytest.approx(9.999)
    assert eventlog.plans_in(log, T0 - 1000, T1) == [log.plans[4][1]]
