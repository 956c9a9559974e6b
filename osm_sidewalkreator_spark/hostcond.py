"""Host-condition capture: make benchmark artifacts self-validating.

On a co-tenanted VM two runs of identical code can differ by
wall-clock window. Every bench emission stamps hypervisor
steal% sampled BEFORE the run (3 s probe) and cumulatively DURING the
timed section (/proc/stat delta), plus the 1-minute loadavg at start.
A reader of BENCH_r*.json can then separate "the code got slower" from
"the host got slower". The stamp is a record of the run, not a gate on
it.
"""

from __future__ import annotations

import time


def _steal_ticks() -> tuple[int, int]:
    parts = open("/proc/stat").readline().split()
    v = [int(x) for x in parts[1:]]
    return v[7], sum(v)


def steal_probe(seconds: float = 3.0) -> float:
    """Steal%% over a quiet sleep window of ``seconds``."""
    s0, t0 = _steal_ticks()
    time.sleep(seconds)
    s1, t1 = _steal_ticks()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def load1() -> float:
    return float(open("/proc/loadavg").read().split()[0])


class HostMonitor:
    """Bracket a timed section; ``stop()`` yields the stamp dict."""

    def __init__(self, probe_sec: float = 3.0):
        self.pre = {
            "steal_pct": round(steal_probe(probe_sec), 2),
            "load1": load1(),
        }
        self._s0 = None

    def start(self):
        self._s0 = _steal_ticks()

    def stop(self) -> dict:
        s1, t1 = _steal_ticks()
        s0, t0 = self._s0
        during = 100.0 * (s1 - s0) / max(t1 - t0, 1)
        return {
            "pre": self.pre,
            "steal_pct_during": round(during, 2),
            "ts_utc": time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime()),
            # one-glance adjudication: quiet iff steal stayed under 2%
            # before and during the timed section
            "quiet": bool(self.pre["steal_pct"] < 2.0 and during < 2.0),
        }
