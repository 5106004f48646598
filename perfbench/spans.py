"""Spans, self times and Spark counters, all read from outside the program.

Spans are recorded only by the benchmark, around its calls into each
module, kept in memory and written out when the run ends. Counts come
from Spark's own bookkeeping after each action: job and stage counts from
the status tracker and stage records, row counts and selected buckets
from the SQL plan graph of each execution.
"""

from __future__ import annotations

import json
import math
import re
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent span, shared run id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # cleared on the untraced iterations of a traced run
        self.active = True
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as a child of the innermost open span. Disabled or
        inactive tracers time nothing and record nothing."""
        if not (self.enabled and self.active):
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        """Spans with their self times, and self time summed per name."""
        selfs = self_times(self.spans)
        per_name: dict[str, float] = {}
        for s in self.spans:
            s["self"] = selfs[s["id"]]
            per_name[s["name"]] = per_name.get(s["name"], 0.0) + s["self"]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "self_s": per_name, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap each other; the covered part is their union."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def prefix_self_times(cumulative: list[float]) -> list[float]:
    """Self time of each stage of a lazy pipeline from the wall times of
    materialising its growing prefixes: each prefix minus the one before."""
    return [t - (cumulative[i - 1] if i else 0.0) for i, t in enumerate(cumulative)]


def tail_percentile(samples: list[float], candidates=(99, 95, 90, 75)):
    """(p, value) for the highest percentile in ``candidates`` that has at
    least ten samples above it, or None when there are too few samples.
    Values use the nearest-rank rule."""
    n = len(samples)
    for p in candidates:
        if n * (100 - p) / 100 >= 10:
            ordered = sorted(samples)
            return p, ordered[max(0, math.ceil(p / 100 * n) - 1)]
    return None


def _rows(text: str) -> int:
    return int(text.replace(",", ""))


class SparkCounters:
    """Counts of the Spark work done since the previous :meth:`delta`:
    jobs, tasks and shuffle bytes from the status tracker and stage
    records; rows and buckets from the SQL plan graphs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.stages = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_job = 0
        self.seen_execs = 0
        self.delta()

    def delta(self) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "executions": []}
        while (info := self.tracker.getJobInfo(self.next_job)) is not None:
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.stages.lastStageAttempt(sid)
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
            self.next_job += 1
        # executions are listed in id order; skip the ones already read
        execs = self.sql.executionsList(self.seen_execs, 1 << 30)
        for i in range(execs.size()):
            out["executions"].append(self._plan_nodes(execs.apply(i).executionId()))
        self.seen_execs += execs.size()
        return out

    def _plan_nodes(self, eid: int) -> list[dict]:
        """Plan graph nodes of one execution in pre-order, each with its
        name, description and parsed row count."""
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            rec = {"name": node.name(), "desc": node.desc(), "rows": None}
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                    rec["rows"] = _rows(values.apply(m.accumulatorId()))
            out.append(rec)
        return out


def top_rows(executions: list[list[dict]]) -> int:
    """Rows produced by the last execution: the row count of its topmost
    node that reports one."""
    for node in executions[-1] if executions else []:
        if node["rows"] is not None:
            return node["rows"]
    return 0


def scan_stats(executions: list[list[dict]]) -> tuple[int, int]:
    """(rows read by file scans, buckets selected by bucketed scans)."""
    rows = buckets = 0
    for nodes in executions:
        for node in nodes:
            if node["name"].startswith("Scan "):
                rows += node["rows"] or 0
                m = re.search(r"SelectedBucketsCount: (\d+) out of", node["desc"])
                buckets += int(m.group(1)) if m else 0
    return rows, buckets


def partial_agg_rows(executions: list[list[dict]]) -> int:
    """Rows out of map-side partial aggregates."""
    return sum(n["rows"] or 0 for nodes in executions for n in nodes
               if n["name"] == "HashAggregate" and "partial_" in n["desc"])
