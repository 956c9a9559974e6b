"""Host-condition capture: make benchmark artifacts self-validating.

The sandbox VM is co-tenanted: hypervisor steal, a shared memory
system, AND a page-fault service path that can collapse to ~5 MB/s
mean that two runs of identical code can differ 1.4x+ by wall-clock
window (round 4's headline regressed 25->36 s with bit-identical
counters and unchanged plans — adjudicated probably-host, but the
bench JSON carried no evidence either way). This module closes that
gap: every bench emission stamps

* steal% sampled BEFORE the run (3 s probe) and cumulatively DURING
  the timed section (/proc/stat delta),
* 1-minute loadavg at start,
* a short STREAM-like probe at 1 proc and at the bench parallelism,
  before and after the timed section, reporting TWO separate numbers:
  ``read`` GiB/s over already-faulted pages (the bandwidth the
  hypervisor pins to 7-9 GiB/s in bad afternoon windows vs 18-51
  narrow/morning) and ``fault`` GiB/s for first-touch of fresh pages
  (observed collapsing to ~0.005 GiB/s in throttled windows while
  steal reads 0 — a distinct degradation regime that the round-4
  probes conflated with bandwidth).

Every allocation inside the probe is deadline-bounded, so the probe
itself cannot hang the bench in the very windows it exists to
diagnose (32 procs x 256 MB of fresh pages at 5 MB/s is ~27 min —
the round-5 session hit exactly that).

A reader of BENCH_r*.json can now separate "the code got slower"
from "the host got slower", and WHICH host resource, without
out-of-band docs. The stamp is a record of the run, not a gate on it.
"""

from __future__ import annotations

import multiprocessing as mp
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


def _stream_worker(args) -> dict:
    """Fault in up to ``mb`` of fresh pages under a deadline, then run
    a STREAM-like read loop over whatever got faulted. Returns both
    legs separately so the parent can report fault GiB/s and read
    GiB/s as distinct regimes."""
    mb, dur, alloc_deadline = args
    import numpy as np
    chunk_mb = 16
    chunks = []
    t0 = time.time()
    faulted_mb = 0
    while faulted_mb < mb and (time.time() - t0) < alloc_deadline:
        chunks.append(np.ones(chunk_mb * 131072, dtype=np.float64))
        faulted_mb += chunk_mb
    alloc_s = time.time() - t0
    it, s = 0, 0.0
    t1 = time.time()
    t_end = t1 + dur
    while time.time() < t_end:
        for c in chunks:
            s += float(c.sum())
        it += 1
    loop_s = time.time() - t1
    return {"faulted_mb": faulted_mb, "alloc_s": alloc_s,
            "read_mb": it * faulted_mb, "loop_s": loop_s}


def stream_probe(n_procs: int, mb: int = 256, dur: float = 5.0,
                 alloc_deadline: float = 10.0) -> dict:
    """Concurrent STREAM-like probe. Returns::

        {"read_gib_s": ..,   # aggregate re-read bandwidth, faulted pages
         "fault_gib_s": ..,  # aggregate fresh-page first-touch rate
         "alloc_limited": bool}  # deadline hit before mb was faulted

    ``alloc_limited`` True with a tiny ``fault_gib_s`` is the
    fault-throttled hypervisor regime; a small ``read_gib_s`` at wide
    ``n_procs`` with a healthy narrow read is the bandwidth-pinned
    regime; both can occur with steal == 0.
    """
    with mp.Pool(n_procs) as p:
        rs = p.map(_stream_worker, [(mb, dur, alloc_deadline)] * n_procs)
    read_mb = sum(r["read_mb"] for r in rs)
    loop_s = max(r["loop_s"] for r in rs) or 1e-9
    fault_mb = sum(r["faulted_mb"] for r in rs)
    alloc_s = max(r["alloc_s"] for r in rs) or 1e-9
    return {
        "read_gib_s": round(read_mb / 1024.0 / loop_s, 2),
        "fault_gib_s": round(fault_mb / 1024.0 / alloc_s, 3),
        "alloc_limited": any(r["faulted_mb"] < mb for r in rs),
    }


class HostMonitor:
    """Bracket a timed section; ``stop()`` yields the stamp dict."""

    def __init__(self, n_wide: int, probe_sec: float = 3.0,
                 stream_sec: float = 5.0):
        self.n_wide = max(int(n_wide), 1)
        self.stream_sec = stream_sec
        self.pre = {
            "steal_pct": round(steal_probe(probe_sec), 2),
            "load1": load1(),
            "stream_1": stream_probe(1, mb=128, dur=stream_sec / 2),
            "stream_wide": stream_probe(self.n_wide, mb=64,
                                        dur=stream_sec),
        }
        self._t0 = None
        self._s0 = None

    def start(self):
        self._s0 = _steal_ticks()
        self._t0 = time.time()

    def stop(self) -> dict:
        s1, t1 = _steal_ticks()
        s0, t0 = self._s0
        during = 100.0 * (s1 - s0) / max(t1 - t0, 1)
        post_wide = stream_probe(self.n_wide, mb=64, dur=self.stream_sec)
        pre = self.pre
        # the POST probe participates in the verdict: a throttle window
        # that begins mid-run (pre probes healthy, post alloc-limited)
        # must not be stamped quiet — that is exactly the misattribution
        # this module exists to prevent
        fault_ok = (not pre["stream_1"]["alloc_limited"]
                    and not pre["stream_wide"]["alloc_limited"]
                    and not post_wide["alloc_limited"])
        stamp = {
            "pre": pre,
            "steal_pct_during": round(during, 2),
            "post": {"stream_wide": post_wide},
            "n_wide": self.n_wide,
            "ts_utc": time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime()),
            # one-glance adjudication: quiet iff steal stayed under 2%
            # before and during AND the memory system
            # was out of the fault-throttled regime at both brackets
            "quiet": bool(pre["steal_pct"] < 2.0 and during < 2.0
                          and fault_ok),
            "fault_throttled": not fault_ok,
        }
        return stamp
