"""CPU time the hypervisor took from the machine.

On a shared VM the host can leave a runnable vCPU unscheduled; Linux counts
that time as ``steal`` in ``/proc/stat``.  It comes from other tenants, not
from the program: on a 4-CPU VM the catalog total read 4.4 s at 0.04 stolen
CPUs and 7.8 s at 0.9.  The benchmark scales its end-to-end times by the
share of the CPU time the machine asked for that it got,

    share = busy / (busy + steal)

over the timed interval, which is 1.0 on a machine without steal.
"""

from __future__ import annotations


def read() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole machine since boot; (0, 0)
    where ``/proc/stat`` does not exist."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the wanted CPU time between two ``read()``s that the
    machine got."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0
