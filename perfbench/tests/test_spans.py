"""Unit tests of the span arithmetic and Delta log counting."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from layers import log_files_read  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def _span(start, end, parent=None):
    return Span("s", "l", start, end, parent, None)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0.0, 10.0),  # 0: root
        _span(1.0, 3.0, 0),  # 1: child
        _span(2.0, 5.0, 0),  # 2: overlapping child (another thread)
        _span(8.0, 12.0, 0),  # 3: child running past the parent's end
        _span(1.5, 2.5, 1),  # 4: grandchild
    ]
    got = self_times(spans)
    # root: 10 minus the union [1,5] + [8,10] of its children
    assert got[0] == 10.0 - 4.0 - 2.0
    assert got[1] == 2.0 - 1.0
    assert got[2] == 3.0
    assert got[3] == 4.0
    assert got[4] == 1.0


def test_self_times_of_nested_calls_sum_to_the_outer_span():
    tracer = Tracer()

    def inner():
        return sum(range(1000))

    w_inner = tracer.wrap(inner, "inner", "x")
    w_middle = tracer.wrap(lambda: w_inner() + w_inner(), "middle", "x")
    with tracer.span("outer", "x"):
        w_middle()
        w_inner()
    names = [s.name for s in tracer.spans]
    assert names == ["outer", "middle", "inner", "inner", "inner"]
    parents = [s.parent for s in tracer.spans]
    assert parents == [None, 0, 1, 1, 0]
    outer = tracer.spans[0]
    total = sum(self_times(tracer.spans))
    assert abs(total - (outer.end - outer.start)) < 1e-9


def test_pass_outcomes_follow_the_return_value():
    tracer = Tracer()
    frames = tracer.wrap(lambda sql: sql.upper(), "dialect.window_frames", "dialect")
    keyed = tracer.wrap(lambda sql: None, "dialect.keyed_windows", "dialect")
    frames("select 1")
    frames("SELECT 1")
    keyed("select 1")
    assert [s.outcome for s in tracer.spans] == ["fired", "refused", "refused"]


def test_log_files_read_counts_checkpoint_then_commits(tmp_path):
    log = tmp_path / "_delta_log"
    log.mkdir()
    for v in range(6):
        (log / f"{v:020d}.json").write_text("{}\n")
    assert log_files_read(str(tmp_path), 5) == 6
    (log / f"{3:020d}.checkpoint.parquet").write_text("")
    assert log_files_read(str(tmp_path), 5) == 1 + 2
    assert log_files_read(str(tmp_path), 2) == 3
