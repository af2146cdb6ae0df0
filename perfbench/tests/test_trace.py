import sys
import threading
import time
import types

import pytest

from perfbench.trace import Span, Target, Tracer, covered, layer_self_seconds, self_times


def span(i, name, layer, start, end, parent=None, thread=1):
    return Span(i, name, layer, thread, start, end, parent, None)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4)], 0, 10) == 0


def test_self_time_subtracts_nested_children():
    spans = [
        span(0, "serving.query", "serving", 0.0, 10.0),
        span(1, "engine.sql", "engine", 1.0, 4.0, parent=0),
        span(2, "plans.lex", "plans", 1.5, 2.0, parent=1),
        span(3, "spark.collect", "spark", 5.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.5, 2: 0.5, 3: 4.0})
    assert layer_self_seconds(spans) == pytest.approx(
        {"serving": 3.0, "engine": 2.5, "plans": 0.5, "spark": 4.0})


def test_self_time_counts_overlapping_children_once():
    spans = [
        span(0, "op", "operators", 0.0, 10.0),
        span(1, "a", "spark", 2.0, 6.0, parent=0),
        span(2, "b", "spark", 4.0, 8.0, parent=0),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def _fake_layers():
    mod = types.ModuleType("fakepkg_layers")

    def inner(x):
        time.sleep(0.01)
        return x + 1

    def outer(x):
        time.sleep(0.01)
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    user = types.ModuleType("fakepkg_user")
    user.inner = inner  # a ``from fakepkg_layers import inner`` binding
    return mod, user


def test_install_wraps_rebinds_and_restores(monkeypatch):
    mod, user = _fake_layers()
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    monkeypatch.setitem(sys.modules, user.__name__, user)
    original_inner = mod.inner
    tr = Tracer()
    tr.install([Target(mod, "inner", "inner", "low"), Target(mod, "outer", "outer", "high")],
               package="fakepkg")
    assert user.inner is mod.inner is not original_inner
    assert mod.outer(1) == 4
    assert user.inner(1) == 2
    assert [s.name for s in tr.spans] == ["inner", "outer", "inner"]
    inner_span, outer_span = tr.spans[0], tr.spans[1]
    assert inner_span.parent == outer_span.id and outer_span.parent is None
    tr.uninstall()
    assert mod.inner is original_inner and user.inner is original_inner


def test_concurrent_threads_keep_their_own_parents(monkeypatch):
    mod, _ = _fake_layers()
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    tr = Tracer()
    tr.install([Target(mod, "inner", "inner", "low"), Target(mod, "outer", "outer", "high")],
               package="fakepkg")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        def client(c):
            for i in range(5):
                with tr.request(f"c{c}-{i}"):
                    mod.outer(i)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(old)
        tr.uninstall()
    by_id = {s.id: s for s in tr.spans}
    outers = [s for s in tr.spans if s.name == "outer"]
    inners = [s for s in tr.spans if s.name == "inner"]
    assert len(outers) == len(inners) == 40
    for s in inners:
        parent = by_id[s.parent]
        # the parent is the same thread's enclosing span of the same request,
        # even though other threads' spans overlap it in time
        assert parent.name == "outer"
        assert parent.thread == s.thread and parent.request == s.request
        assert parent.start <= s.start and s.end <= parent.end
    st = self_times(tr.spans)
    for s in outers:
        child = next(c for c in inners if c.parent == s.id)
        assert st[s.id] == pytest.approx((s.end - s.start) - (child.end - child.start))


def test_after_hook_and_job_counter():
    jobs = iter(range(100))
    tr = Tracer(job_counter=lambda: next(jobs))
    mod = types.ModuleType("fakepkg_hooks")
    mod.f = lambda x: x * 10
    tr.install([Target(mod, "f", "f", "layer", after=lambda out: out + 5)],
               package="fakepkg_none")
    with tr.span("outer", "top"):
        assert mod.f(1) == 15
    tr.uninstall()
    f_span, outer = tr.named("f")[0], tr.named("outer")[0]
    assert f_span.parent == outer.id
    # each span owns the jobs submitted while it was open
    assert f_span.jobs == 1 and outer.jobs == 3
