"""Tracing for the benchmark's traced run: an in-memory span recorder,
function wrappers that open spans around calls into engine modules, a
reader for executed-plan SQL metrics, and process-tree CPU time and RSS
readers.

Spans are (name, start, end, parent, run id) and stay in memory until
the run ends. A span's self time is its duration minus the time its
direct children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []     # [name, start, end, parent]
        self._stack: list[int] = []
        self._patches: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_return=None):
        """Replace ``owner.attr`` by a wrapper that runs the call inside
        span ``name``; ``on_return(args, result)`` records counts.
        Undone by ``unwrap_all``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def closed(self):
        """Spans that have ended."""
        return [sp for sp in self.spans if sp[2] is not None]

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for _name, s, e, parent in self.closed():
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _p) in enumerate(self.spans):
            if e is not None:
                out[name] += (e - s) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, s, e, _p in self.closed():
            out[name] += e - s
        return out

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for name, *_ in self.spans:
            out[name] += 1
        return out

    def dump(self, path: str):
        with open(path, "w") as f:
            for name, s, e, parent in self.spans:
                f.write(json.dumps({"run": self.run_id, "name": name,
                                    "start": s, "end": e,
                                    "parent": parent}) + "\n")


# ---------------- executed-plan SQL metrics ----------------

_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VAL = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s?(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?"
                  r"(?![\w:.])")


def parse_metric(text: str) -> list[float]:
    """Spark's formatted SQL metric -> [total, min, med, max] (or just
    [total]) in bytes, seconds or plain counts."""
    body = text.split("\n")[-1]
    body = re.sub(r"\(stage [^)]*\)", "", body)
    return [float(num.replace(",", "")) * _SCALE.get(unit, 1.0)
            for num, unit in _VAL.findall(body)]


class SqlMetrics:
    """Reads the SQL metrics of every query executed since the previous
    ``collect``, from the session's SQL status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._ids()

    def _ids(self) -> set:
        lst = self.store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    def collect(self) -> dict:
        """{"sum": {metric: total}, "max_over_med": {metric: max/med},
        "nodes": [(node name, {metric: total})]} over new executions."""
        ids = sorted(self._ids() - self.seen)
        self.seen |= set(ids)
        sums: dict[str, float] = defaultdict(float)
        ratio: dict[str, float] = {}
        nodes = []
        for eid in ids:
            values = self.store.executionMetrics(eid)
            it = self.store.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                per = {}
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    parsed = parse_metric(v.get())
                    if not parsed:
                        continue
                    name = m.name()
                    per[name] = parsed[0]
                    sums[name] += parsed[0]
                    if len(parsed) >= 4 and parsed[2] > 0:
                        ratio[name] = max(ratio.get(name, 0.0),
                                          parsed[3] / parsed[2])
                nodes.append((node.name(), per))
        return {"sum": dict(sums), "max_over_med": ratio, "nodes": nodes}


def join_rows(nodes) -> float:
    """Output rows of the equi-join nodes (the candidate pairs)."""
    return sum(per.get("number of output rows", 0.0)
               for name, per in nodes
               if name.endswith("HashJoin") or name == "SortMergeJoin")


# ---------------- process-tree memory ----------------

def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    todo, total = [root], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and all its descendants."""
    kids = _children_map()
    todo, ticks = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
