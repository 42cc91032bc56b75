"""Host CPU accounting from /proc/stat, to take the hypervisor's steal
out of a measured wall.

On a virtual machine that shares its host, the hypervisor now and then
runs something else on a virtual CPU that wanted to run: the guest
kernel counts that time as steal. A job's threads make no progress
while their CPU is stolen, so the job's wall grows with steal that has
nothing to do with the program. Over a window in which the CPUs were
busy for B seconds and stolen for S, a share S / (B + S) of the time
the CPUs wanted to run was lost; `unstolen` removes that share from the
wall. With no steal it returns the wall unchanged.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds since boot, summed over every CPU.
    Busy is user + nice + system + irq + softirq; idle and iowait are
    not busy."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _HZ, f[7] / _HZ


def steal_share(before: tuple[float, float],
                after: tuple[float, float]) -> float:
    """Share of the window's wanted CPU time that was stolen."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def unstolen(wall: float, before: tuple[float, float],
             after: tuple[float, float]) -> float:
    """The wall less the share of it the hypervisor stole."""
    return wall * (1.0 - steal_share(before, after))
