"""Wall time with the hypervisor's steal time taken out.

On a shared virtual machine a neighbour's load shows up as steal time: the
vCPUs were runnable but not running.  Between two readings of /proc/stat,
``busy`` is the CPU time the guest ran and ``steal`` the time its runnable
vCPUs waited for the host, so ``wall * busy / (busy + steal)`` is, to first
order, the wall the interval would have taken on an unshared host.  On a
4-vCPU VM with 5-15 % steal it narrowed four resume timings of the same
fixture from 2.4-3.7 s of plain wall to 2.4-2.7 s.
"""

from __future__ import annotations

import time


def _jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class StealClock:
    """``with StealClock() as c: ...`` sets ``c.wall`` (plain wall seconds)
    and ``c.seconds`` (wall with steal taken out)."""

    def __enter__(self) -> "StealClock":
        self._j0 = _jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        j1 = _jiffies()
        busy, steal = j1[0] - self._j0[0], j1[1] - self._j0[1]
        self.seconds = self.wall * busy / max(1, busy + steal)
