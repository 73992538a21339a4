"""Spans, counters and summary statistics for the benchmark.

A ``Tracer`` records spans (name, start, end, parent, request id) around
the benchmark's calls into the engine's public functions. Spans stay in
memory and are written out when the run ends. With tracing off, the same
call sites run through ``NullTracer``, whose ``span`` does no work.

Span times are epoch seconds (``time.time()``), the clock streaming
progress reports use. Self time of a span is its duration minus the part of its interval that
its child spans cover; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples above it.

    Returns (value, label, n). With fewer than eleven samples no such
    percentile exists; the maximum is returned and labelled ``max``.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, "none", 0
    if n < 11:
        return float(s[-1]), "max", n
    i = n - 11  # exactly ten samples lie above s[i]
    return float(s[i]), f"p{100.0 * (i + 1) / n:.1f}", n


# Layer spans' self time must account for at least this share of the
# measured wall time in a traced run.
COVERAGE_BOUND = 0.9


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, req=None):
        yield


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.instrumentation_s = 0.0  # time spent in trace-only work

    @contextmanager
    def span(self, name: str, req=None):
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "req": req if req is not None else (stack[-1]["req"] if stack else None),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def add_span(self, name, start, end, parent=None, req=None):
        """Record a span measured elsewhere (a streaming progress report)."""
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "start": start,
                   "end": end, "parent": parent, "req": req}
            self.spans.append(rec)
        return rec

    @contextmanager
    def instrumentation(self):
        """Time trace-only work (plan metric reads, listener callbacks)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.instrumentation_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(k["start"], s["start"]), min(k["end"], s["end"]))
                 for k in kids.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_times_s": self.self_times(), **extra}, fh)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- executed-plan metrics ---------------------------------------------------
#
# ``plans.explain.runtime_metrics`` walks a DataFrame's own executed plan,
# but it runs its own collect. The benchmark's timed actions are writes
# and engine calls that run many queries, so it reads the same SQL
# metrics from the SQL status store instead: every execution that
# started after a mark, with its final (adaptive) plan graph. The walk
# applies runtime_metrics' rules: scan rows from Scan nodes, shuffle
# bytes/records from Exchange nodes, plus spill from any node.

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def _metric_value(text: str) -> float:
    # sum metrics print "1,234"; size metrics print
    # "total (min, med, max ...)\n12.3 MiB (...)": take the total
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE_UNITS.get(m.group(2) or "B", 1) if m.group(2) else v


class PlanMetrics:
    """Executed-plan metrics for the SQL executions an operation ran."""

    KEYS = ("scan_rows", "source_rows", "shuffle_bytes", "shuffle_records",
            "spill_bytes", "exchanges")

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        """Largest execution id so far."""
        lst = self._store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def since(self, mark: int, source: str = "events.parquet") -> dict[str, float]:
        """Metrics summed over executions after ``mark``; ``source_rows``
        counts only scans of files whose location names ``source``."""
        out = dict.fromkeys(self.KEYS, 0.0)
        lst = self._store.executionsList()  # ascending execution id
        for i in range(lst.size() - 1, -1, -1):
            eid = lst.apply(i).executionId()
            if eid <= mark:
                break
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                ms = node.metrics()
                vals = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    txt = values.get(m.accumulatorId())
                    if txt.isDefined():
                        vals[m.name()] = _metric_value(txt.get())
                if "Scan" in name:
                    rows = vals.get("number of output rows", 0.0)
                    out["scan_rows"] += rows
                    if source in node.desc():
                        out["source_rows"] += rows
                if "Exchange" in name and "Reused" not in name and "Broadcast" not in name:
                    out["exchanges"] += 1
                    out["shuffle_bytes"] += vals.get("shuffle bytes written", 0.0)
                    out["shuffle_records"] += vals.get("shuffle records written", 0.0)
                out["spill_bytes"] += vals.get("spill size", 0.0)
        return out


def df_op(run, name: str, build, act=lambda df: df.collect(), metrics: bool = False):
    """One DataFrame operation: ``build()`` returns the DataFrame, ``act``
    runs it. Untraced, that is all. Traced, it records ``<name>.build``,
    ``<name>.plan`` (forcing the physical plan of the DataFrame's own
    QueryExecution) and ``<name>.exec`` spans and, with ``metrics``, the
    executed-plan metrics of the SQL executions the action ran.

    Returns (result, {"build": s, "plan": s, "exec": s, **plan metrics}).
    """
    tr = run.tr
    if not tr.enabled:
        return act(build()), {}
    if metrics:
        with tr.instrumentation():
            mark = run.plan_metrics.mark()
    t0 = time.perf_counter()
    with tr.span(f"{name}.build"):
        df = build()
    t1 = time.perf_counter()
    with tr.span(f"{name}.plan"):
        df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with tr.span(f"{name}.exec"):
        out = act(df)
    t3 = time.perf_counter()
    pm = {}
    if metrics:
        with tr.instrumentation():
            pm = run.plan_metrics.since(mark)
    return out, {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, **pm}


def finish_trace(run, t_meas: float, t_end: float) -> None:
    """Coverage and overhead of the trace over the measured region.

    Coverage is the share of the region's wall time during which at
    least one layer span was open (``op.*`` spans are the benchmark's
    own; ``session.*`` lies before the region), plus the trace's own
    overhead. With one client that is the layers' summed self time;
    concurrent streaming queries overlap, so the union is taken.
    Overhead is the time spent in trace-only work: plan-metric reads and
    listener callbacks."""
    tr = run.tr
    layer = [(max(s["start"], t_meas), min(s["end"], t_end)) for s in tr.spans
             if not s["name"].startswith(("op.", "session."))]
    wall = t_end - t_meas
    covered = _union_length(layer) + tr.instrumentation_s
    run.layer["trace.coverage_share"] = covered / wall if wall > 0 else 0.0
    run.layer["trace.overhead_ms"] = 1000 * tr.instrumentation_s
    run.layer["trace.overhead_share"] = tr.instrumentation_s / wall if wall > 0 else 0.0
    run.context["trace_self_times_s"] = tr.self_times()
    run.context["trace_coverage_bound"] = COVERAGE_BOUND
    run.check("trace.coverage", lambda: run.layer["trace.coverage_share"] >= COVERAGE_BOUND, ops=0)
