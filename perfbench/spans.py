"""In-memory spans and Spark counters, recorded from outside the engine.

A span wraps one public layer call: name, start, end, parent and the
operation it belongs to.  Spans stay in memory and are written out once, at
the end of a traced run.  Counters come from two places the benchmark owns:

- Spark job groups (``setJobGroup`` + ``statusTracker``): jobs per call;
- SQL plan metrics of every SQL execution a call started, read from the
  session's SQL status store: rows out of the store's decode operators
  (``MapInPandas``), bytes of files scanned and bytes shuffled.

With tracing off, ``span`` only yields and ``counters`` returns zeros, so
the timed runs pay nothing for it.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def _metric_value(text: str, kind: str) -> float:
    """Parse the status store's formatted metric ("1,234", "396.6 KiB",
    or "total (min, med, max ...)\\n921.0 B (...)") into a number."""
    line = text.split("\n")[-1].strip()
    if kind == "size":
        m = re.match(r"([\d.,]+)\s*([KMGT]?i?B)", line)
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0
    m = re.match(r"-?[\d,]+(\.\d+)?", line)
    return float(m.group(0).replace(",", "")) if m else 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0

    # ---- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op, dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its direct children cover."""
        sp = self.spans[idx]
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op,
                    "self_s": self.self_time(i), **s.attrs,
                }) + "\n")

    # ---- counters -----------------------------------------------------------

    @contextmanager
    def counters(self, group: str):
        """Collect Spark counters for everything run inside the block."""
        out = {"jobs": 0, "decode_rows": 0.0, "scan_bytes": 0.0,
               "shuffle_bytes": 0.0}
        if not self.enabled:
            yield out
            return
        sc = self.spark.sparkContext
        store = self.spark._jsparkSession.sharedState().statusStore()
        before = store.executionsList().size()
        sc.setJobGroup(group, group)
        try:
            yield out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            execs = store.executionsList()
            for k in range(before, execs.size()):
                self._add_plan_metrics(store, execs.apply(k).executionId(), out)

    @staticmethod
    def _add_plan_metrics(store, eid: int, out: dict) -> None:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                mname = m.name()
                if mname == "number of output rows" and name == "MapInPandas":
                    out["decode_rows"] += _metric_value(v.get(), "sum")
                elif mname == "size of files read" and name.startswith("Scan"):
                    out["scan_bytes"] += _metric_value(v.get(), "size")
                elif mname == "shuffle bytes written":
                    out["shuffle_bytes"] += _metric_value(v.get(), "size")
