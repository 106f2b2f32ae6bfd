"""Wall times that discount vCPU time stolen by the hypervisor.

On a shared virtual machine the hypervisor can hold back a vCPU the
benchmark wants to run on: the kernel counts that time as steal, the
eighth field of the ``cpu`` line of ``/proc/stat``.  On the 4-vCPU VM this
benchmark was built on, steal came and went for minutes at a time, up to
a fifth of all vCPU time, and the same registry pass then took up to 2.5x
as long: about 6% longer per point of steal, because a held-back thread
also holds up every thread waiting on it.  Over 37 passes, steal during
a pass tracked its wall with correlation 0.92; a fixed CPU task timed just
before each pass tracked it with 0.36.

So every timing here records, with the wall time, the share of vCPU time
stolen while it ran, and ``seconds`` is the wall time at no steal:
``wall / (1 + STEAL_SLOWDOWN * steal)``.  Without steal it is the wall
time.  Over 110 more passes of batch queries and stream drains, it cut
the standard deviation of a pass's time from 0.33 of its mean to 0.13.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

# Fractional slowdown per unit of steal share.  Fitted slopes ranged from
# about 3 to 6 (a pass at 20% steal took 1.6x to 2.2x as long), by
# workload and by how warm the JVM was; 4 sits between them.
STEAL_SLOWDOWN = 4.0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, all) vCPU time since boot, in clock ticks, summed over the
    vCPUs; ``all`` counts user, nice, system, idle, iowait, irq, softirq
    and steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return (fields[7] if len(fields) == 8 else 0), sum(fields)


@dataclass
class Timing:
    wall: float = 0.0  # seconds
    steal: float = 0.0  # share of all vCPU time stolen meanwhile

    @property
    def seconds(self) -> float:
        """The wall time at no steal."""
        return self.wall / (1.0 + STEAL_SLOWDOWN * self.steal)


@contextmanager
def stopwatch():
    """Time the ``with`` body; the yielded Timing is filled in on exit."""
    t = Timing()
    stolen0, all0 = cpu_ticks()
    start = time.perf_counter()
    try:
        yield t
    finally:
        t.wall = time.perf_counter() - start
        stolen1, all1 = cpu_ticks()
        t.steal = (stolen1 - stolen0) / (all1 - all0) if all1 > all0 else 0.0


def timed(fn) -> Timing:
    with stopwatch() as t:
        fn()
    return t
