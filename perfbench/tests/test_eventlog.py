"""Event-log attribution on a canned log (``eventlog_fixture.jsonl``):
tasks land on spans by job group, scheduler pool or time; self time is
span duration minus child coverage; core, shuffle and spill sum per span.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog as EV  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return EV.parse((HERE / "eventlog_fixture.jsonl").read_text().splitlines())


@pytest.fixture(scope="module")
def spans():
    t = Tracer(enabled=True)
    run = t.add("run", 1000, 4000, None)
    t.add("phase.a", 1400, 1800, run)
    t.add("leg", 2000, 3000, run, pool="leg-a")
    t.add("phase.b", 2400, 3200, run)
    return t.spans


def test_parse_skips_torn_lines_and_unsubmitted_stages(log):
    jobs, stages = log
    assert [j.key for j in jobs] == [("job", i) for i in range(4)]
    assert sorted(s.key for s in stages) == [(i, 0) for i in range(5)]


def test_tasks_attributed_by_group_pool_and_time(log, spans):
    direct, lost = EV.attribute(spans, *log)
    run, phase_a, leg, phase_b = (direct[s.id] for s in spans)
    # job group s0: job 0 and stage 0 stay on the call...
    assert (run["jobs"], run["stages"], run["tasks"]) == (1, 1, 2)
    # ...stage 1, submitted inside the pool-less child phase, refines to it
    assert (phase_a["jobs"], phase_a["stages"], phase_a["tasks"]) == (0, 1, 1)
    # scheduler pool leg-a: job 1 and stage 2 (the skipped stage adds nothing)
    assert (leg["jobs"], leg["stages"], leg["tasks"]) == (1, 1, 2)
    # no properties: the innermost pool-less span holding the submission
    assert (phase_b["jobs"], phase_b["stages"], phase_b["tasks"]) == (1, 1, 1)
    # after every span: reported, not dropped
    assert (lost["jobs"], lost["stages"], lost["tasks"]) == (1, 1, 1)


def test_core_shuffle_and_spill_summed_per_span(log, spans):
    direct, _ = EV.attribute(spans, *log)
    run, phase_a, leg, phase_b = (direct[s.id] for s in spans)
    assert run["core_s"] == pytest.approx(0.5)
    assert run["cpu_s"] == pytest.approx(0.4)
    assert run["gc_s"] == pytest.approx(0.02)
    assert run["shuffle_write_bytes"] == 5120
    assert phase_a["shuffle_read_bytes"] == 2048
    assert phase_a["spill_bytes"] == 64  # disk bytes, not the in-memory size
    assert leg["core_s"] == pytest.approx(2.0)
    assert leg["cpu_s"] == pytest.approx(1.5)
    assert leg["shuffle_write_bytes"] == 2048
    incl = EV.inclusive(spans, direct)[spans[0].id]
    assert incl["tasks"] == 6
    assert incl["core_s"] == pytest.approx(0.5 + 0.1 + 2.0 + 0.05)


def test_self_time_is_duration_minus_child_coverage(spans):
    run, phase_a, leg, phase_b = spans
    # children cover [1400,1800] and the overlapping [2000,3000] u [2400,3200]
    assert EV.self_time_s(run, spans) == pytest.approx((3000 - 400 - 1200) / 1000)
    assert EV.self_time_s(leg, spans) == pytest.approx(1.0)


def test_span_sets_and_restores_job_group():
    class FakeSC:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, gid, desc):
            self.calls.append(("group", gid))

        def setLocalProperty(self, key, value):
            self.calls.append((key, value))

    sc = FakeSC()
    t = Tracer(sc, enabled=True)
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            assert inner.parent == outer.id
    assert sc.calls == [("group", "s0"), ("group", "s1"), ("group", "s0"),
                        ("spark.jobGroup.id", None), ("spark.job.description", None)]
    assert outer.end_ms >= inner.end_ms >= inner.start_ms >= outer.start_ms

    off = Tracer(FakeSC(), enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == [] and off.sc.calls == []
