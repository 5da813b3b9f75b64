"""The operation clock: wall time, and the share of it the hypervisor
took from this virtual machine.

On a shared host the hypervisor deschedules the VM's virtual CPUs to
run other guests; the guest counts that as *steal* in ``/proc/stat``.
While a virtual CPU waits for the hypervisor, whatever it was running
stands still, so an operation's wall time stretches by about the
share of the CPU time the VM asked for that it did not get:

    steal_share = steal / (busy + steal)       over the operation
    time_s      = wall_s * (1 - steal_share)

``time_s`` is the wall time the operation would have taken had the
hypervisor not taken the CPUs away; on a host without steal it equals
``wall_s``.  The benchmark's timings are ``time_s``; ``wall_s`` and
``steal_share`` stay in the result file beside it.  Contention the
guest cannot see (a busy sibling hyperthread, a shared cache) still
slows ``time_s``.
"""

from __future__ import annotations

import os
import time

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds since boot, summed over every CPU."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / _HZ, steal / _HZ


class Clock:
    """Started on creation; ``stop(rec)`` writes ``wall_s``,
    ``steal_share`` and ``time_s`` into the record ``rec``."""

    def __init__(self):
        self._busy, self._steal = cpu_times()
        self._t0 = time.perf_counter()

    def stop(self, rec: dict) -> dict:
        wall = time.perf_counter() - self._t0
        busy, steal = cpu_times()
        busy, steal = busy - self._busy, steal - self._steal
        share = steal / (busy + steal) if steal > 0 else 0.0
        rec.update(wall_s=wall, steal_share=share, time_s=wall * (1 - share))
        return rec
