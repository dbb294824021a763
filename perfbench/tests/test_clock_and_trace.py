"""The realtime latency clock starts at the scheduled write time, and span
self time excludes child spans."""

from __future__ import annotations

import pytest

from perfbench.realtime import ScheduledWriter, latencies
from perfbench.trace import Tracer


class FakeClock:
    """Time advances only through sleep() and an injected stall."""

    def __init__(self):
        self.now = 100.0

    def __call__(self):
        return self.now

    def sleep(self, seconds):
        self.now += seconds


def test_latency_starts_at_schedule_not_at_write(tmp_path):
    clock = FakeClock()
    objects = [(f"o{i}.json", b"{}\n") for i in range(4)]
    writer = ScheduledWriter(objects, str(tmp_path), start=100.0, period=1.0,
                             clock=clock, sleep=clock.sleep)

    def stalling_sleep(seconds):
        clock.sleep(seconds)
        if len(writer.written) == 2:  # the writer stalls 2.5 s before object 2
            clock.now += 2.5

    writer.sleep = stalling_sleep
    writer.run()  # synchronously, on the fake clock
    assert writer.due == {"o0.json": 100.0, "o1.json": 101.0, "o2.json": 102.0,
                          "o3.json": 103.0}
    assert writer.written["o2.json"] == pytest.approx(104.5)
    assert sorted(p.name for p in tmp_path.iterdir()) == [n for n, _ in objects]
    committed = {n: t + 0.5 for n, t in writer.written.items()}
    lat = dict(zip(writer.due, latencies(writer.due, committed)))
    assert lat["o0.json"] == pytest.approx(0.5)
    # the stall is charged to the late object: 2.5 s late + 0.5 s commit
    assert lat["o2.json"] == pytest.approx(3.0)
    assert max(writer.lag_s()) == pytest.approx(2.5)


def test_uncommitted_objects_have_no_latency_sample():
    assert latencies({"a": 1.0, "b": 2.0}, {"a": 4.0}) == [3.0]


def test_self_time_excludes_children(monkeypatch):
    ticks = iter([0.0, 1.0, 4.0, 10.0])
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(ticks))
    tr = Tracer(enabled=True)
    with tr.span("outer", "t1") as outer:
        with tr.span("inner"):
            pass
        tr.count(outer, "rows", 5)
    assert tr.durations("outer") == [10.0]
    assert tr.self_times("outer") == [7.0]
    assert tr.named("inner")[0]["trace"] == "t1"
    assert tr.named("inner")[0]["parent"] == outer["id"]
    assert tr.counts("outer", "rows") == [5]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as rec:
        tr.count(rec, "rows", 1)
    assert rec is None and tr.spans == []
