import sys
import types

import pytest

from perfbench import spans


class _FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []

    def setLocalProperty(self, key, value):  # noqa: N802 — Spark's name
        self.props[key] = value
        self.history.append(value)


def test_nested_spans_set_and_restore_the_local_property():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("outer", "entry") as outer:
        with tracer.span("inner", "operators") as inner:
            assert sc.props["bench.span"] == inner.id
        assert sc.props["bench.span"] == outer.id
    assert sc.props["bench.span"] is None
    assert inner.parent == outer.id and outer.parent is None


def test_wrap_rebinds_the_module_attribute_and_unwrap_restores_it():
    module = types.ModuleType("perfbench.tests._fake_ops")
    module.op = lambda x: x + 1
    original = module.op
    sys.modules[module.__name__] = module
    try:
        sc = _FakeContext()
        tracer = spans.Tracer(sc)
        tracer.wrap(f"{module.__name__}.op", "operators")
        assert module.op is not original
        assert module.op(1) == 2
        assert [s.name for s in tracer.spans] == ["_fake_ops.op"]
        tracer.unwrap()
        assert module.op is original
    finally:
        del sys.modules[module.__name__]


def test_coverage_fails_when_top_level_spans_leave_a_gap():
    top = [spans.Span("0", "q1", "entry", None, 0.0, 4.0),
           spans.Span("1", "q1:call", "internals", "0", 0.0, 3.0),
           spans.Span("2", "q2", "entry", None, 4.0, 9.95)]
    assert spans.span_coverage(top, 10.0) == pytest.approx(0.995)
    assert spans.coverage_problems(top, 10.0) == []
    gap = [top[0], spans.Span("2", "q2", "entry", None, 5.0, 9.95)]
    assert spans.coverage_problems(gap, 10.0)
