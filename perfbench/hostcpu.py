"""Wall time net of the CPU time a hypervisor stole.

On a virtual machine whose host is oversubscribed, a vCPU with work to
do waits while the host runs other guests; Linux counts that wait as
``steal`` in ``/proc/stat``. Measured on a 4-vCPU guest, the same cold
catalog pass took 34.6 to 59.5 s of wall time while its CPU time stayed
within 84 to 90 s: the wall time followed the neighbours' load.

A ``Window`` times an interval and reads, from ``/proc/stat`` at both
ends, the machine's CPU time that ran (user, nice, system, irq, softirq)
and the time stolen from it. ``net_s`` is the wall time scaled by the
share of runnable time that ran, ``ran / (ran + steal)``: what the
interval takes on an unshared host, given that steal falls evenly over
the interval's runnable time. Without ``/proc/stat`` the share is 1.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(ticks that ran, ticks stolen), summed over all CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


class Window:
    """One timed interval: ``with Window() as w: ...``, then ``w.wall_s``,
    ``w.share`` and ``w.net_s``. ``Window(start=...)`` starts it at an
    earlier ``(perf_counter, cpu_ticks)`` reading."""

    def __init__(self, start: tuple[float, tuple[int, int]] | None = None):
        self.t0, self.c0 = start if start is not None else mark()
        self.wall_s = self.share = self.net_s = 0.0

    def __enter__(self) -> "Window":
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> "Window":
        ran, stolen = cpu_ticks()
        self.wall_s = time.perf_counter() - self.t0
        ran, stolen = ran - self.c0[0], stolen - self.c0[1]
        self.share = ran / (ran + stolen) if ran + stolen > 0 else 1.0
        self.net_s = self.wall_s * self.share
        return self


def mark() -> tuple[float, tuple[int, int]]:
    return time.perf_counter(), cpu_ticks()
