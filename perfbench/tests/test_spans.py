import json

import pytest

from perfbench.spans import SpanRecorder


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_excludes_children():
    clock = FakeClock()
    rec = SpanRecorder(clock=clock)
    with rec.span("iteration"):
        clock.t = 1.0
        with rec.span("read"):
            clock.t = 3.0
        clock.t = 4.0
        with rec.span("action"):
            clock.t = 9.0
        clock.t = 10.0
    root, read, action = rec.spans
    assert root.duration == 10.0
    assert read.parent == root.id and action.parent == root.id
    assert rec.self_time(root) == pytest.approx(10.0 - 2.0 - 5.0)
    assert rec.self_time(read) == 2.0
    assert rec.self_time(action) == 5.0


def test_self_time_counts_overlapping_children_once():
    clock = FakeClock()
    rec = SpanRecorder(clock=clock)
    with rec.span("root"):
        pass
    root = rec.spans[0]
    root.start, root.end = 0.0, 10.0
    for a, b in ((1.0, 4.0), (2.0, 6.0), (8.0, 9.0)):
        rec.spans.append(type(root)(len(rec.spans), "child", root.id, a, b))
    assert rec.self_time(root) == pytest.approx(10.0 - 5.0 - 1.0)


def test_disabled_recorder_records_nothing():
    rec = SpanRecorder(enabled=False)
    with rec.span("x"):
        pass
    assert rec.spans == []


def test_dump_writes_self_times(work):
    clock = FakeClock()
    rec = SpanRecorder(clock=clock)
    with rec.span("outer"):
        clock.t = 1.0
        with rec.span("inner"):
            clock.t = 2.0
    path = f"{work}/spans.json"
    rec.dump(path)
    with open(path) as fh:
        spans = json.load(fh)
    assert [(s["name"], s["parent"], s["self"]) for s in spans] == [
        ("outer", None, 1.0), ("inner", 0, 1.0)]
