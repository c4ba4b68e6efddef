#!/usr/bin/env python
"""Host-health probe for bench scheduling: measures hypervisor steal
under a short full-width CPU burn plus the bare task-scheduler floor.

The sandbox is a VM on a shared host; external contention is invisible
to loadavg but shows as steal time and a raised scheduler floor
(healthy: steal < ~2%, 32-task floor ~0.36-0.40 s; degraded episodes
measured 10%+ steal and 0.6-0.9 s floors — see OPTIMIZATION_r14.md).
Run before an exclusive bench; don't trust artifacts taken degraded.

Usage: python tools/hosthealth.py [burn_seconds]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time


def _burn(seconds: float) -> int:
    t_end = time.time() + seconds
    x = 0
    while time.time() < t_end:
        for i in range(100000):
            x += i * i
    return x


def _stat() -> list[int]:
    """The first 8 cpu fields of /proc/stat: guest and guest_nice are
    already counted in user and nice."""
    parts = open("/proc/stat").readline().split()
    return [int(v) for v in parts[1:9]]


def main() -> int:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 6.0
    n = os.cpu_count() or 1
    s0 = _stat()
    with mp.Pool(n) as pool:
        pool.starmap(_burn, [(seconds,)] * n)
    s1 = _stat()
    d = [b - a for a, b in zip(s0, s1)]
    tot = sum(d) or 1
    steal_pct = 100.0 * (d[7] if len(d) > 7 else 0) / tot
    idle_pct = 100.0 * d[3] / tot
    print(
        f"steal {steal_pct:.1f}%  idle-under-load {idle_pct:.1f}%  "
        f"loadavg {os.getloadavg()[0]:.2f}  "
        f"{'HEALTHY' if steal_pct < 2.0 else 'DEGRADED'}"
    )
    return 0 if steal_pct < 2.0 else 1


if __name__ == "__main__":
    sys.exit(main())
