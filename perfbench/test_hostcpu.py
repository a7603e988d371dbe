"""Tests of the steal-net timer.

    python3 -m pytest perfbench/test_hostcpu.py -q
"""

from __future__ import annotations

import hostcpu


def test_net_time_scales_wall_by_share_that_ran(monkeypatch):
    ticks = iter([(1000, 50), (1300, 150)])  # 300 ran, 100 stolen
    clock = iter([10.0, 12.0])
    monkeypatch.setattr(hostcpu, "cpu_ticks", lambda: next(ticks))
    monkeypatch.setattr(hostcpu.time, "perf_counter", lambda: next(clock))
    with hostcpu.Window() as w:
        pass
    assert w.wall_s == 2.0
    assert w.share == 0.75
    assert w.net_s == 1.5


def test_no_cpu_counters_leaves_wall_time(monkeypatch):
    monkeypatch.setattr(hostcpu, "cpu_ticks", lambda: (0, 0))
    w = hostcpu.Window(start=(5.0, (0, 0)))
    monkeypatch.setattr(hostcpu.time, "perf_counter", lambda: 8.0)
    w.stop()
    assert (w.wall_s, w.share, w.net_s) == (3.0, 1.0, 3.0)


def test_reads_this_machine():
    ran, stolen = hostcpu.cpu_ticks()
    assert ran >= 0 and stolen >= 0
