"""Query times with the shared host's share taken out.

On a shared 4-vCPU virtual machine the same tick_eod query mix took from
4.1 s to 9.0 s of wall time across ten runs, for two reasons the program
does not control:

- The host runs other guests on this machine's vCPUs. The kernel counts
  the time a vCPU had work but did not run as steal (``/proc/stat``).
- Between runs the host's load changes how fast a CPU second goes (a busy
  sibling hyperthread, a lower clock), with no steal at all.

A ``Lap`` records the wall time, the user+system CPU time of this process
and its descendants (the driver JVM, the Python worker daemon and its
workers) and the machine's steal over the same interval. A vCPU accrues
steal only while it has work to run, so ``cpu + steal`` is the time the
benchmark wanted the CPUs for and ``cpu / (cpu + steal)`` the share it got;
``Lap.unstolen`` scales the wall time by that share.

A ``Canary`` times a fixed piece of single-threaded work that calls no code
of the package, so only the machine moves it. ``machine_scale`` turns the
median canary time of a run into the factor that maps that run's unstolen
times onto a machine whose canary takes ``CANARY_REF_S``.

Measured over ten runs of tick_eod with 0-41 s of steal each, the
interquartile spread of the summed per-query minima was 0.27 of the median
for wall times, 0.14 for unstolen times and 0.05 for unstolen times scaled
by the canary. The canary, sampled during the timed passes, also tracks the
session start-up of the same run: over two sets of ten corpus_stream runs,
one on a busier host, the median unstolen start-up moved from 11.5 s to
9.5 s, and from 11.7 s to 11.5 s when scaled.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")

# median canary time on a shared 4-vCPU host, so that scaled times stay
# close to the wall times measured there
CANARY_REF_S = 0.024


def steal_s() -> float:
    """CPU seconds the host took from this machine, summed over vCPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of process ``root`` and its live descendants,
    including what they collected from reaped children."""
    kids, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        # fields after the parenthesised command name: state, ppid, ...,
        # utime, stime, cutime, cstime at 11-14
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICK


@dataclass
class Lap:
    wall: float = 0.0
    cpu: float = 0.0
    steal: float = 0.0

    @property
    def unstolen(self) -> float:
        wanted = self.cpu + self.steal
        return self.wall * self.cpu / wanted if wanted > 0 else self.wall


@contextmanager
def lap():
    """``with lap() as t: ...`` fills ``t`` when the block ends."""
    me = os.getpid()
    out = Lap()
    cpu, steal = tree_cpu_s(me), steal_s()
    t = time.perf_counter()
    yield out
    out.wall = time.perf_counter() - t
    out.steal = steal_s() - steal
    out.cpu = tree_cpu_s(me) - cpu


class Canary:
    """About 25 ms of fixed work: a numpy sort, a SHA-256 and a Python loop."""

    def __init__(self):
        rng = np.random.default_rng(0)
        self._floats = rng.random(200_000)
        self._bytes = rng.bytes(2 << 20)
        self.samples = []

    def measure(self) -> None:
        t = time.perf_counter()
        for _ in range(4):
            np.sort(self._floats, kind="quicksort")
            hashlib.sha256(self._bytes).digest()
            sum(i * i for i in range(20_000))
        self.samples.append(time.perf_counter() - t)

    def machine_scale(self) -> float:
        return CANARY_REF_S / statistics.median(self.samples)
