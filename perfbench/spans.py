"""Spans recorded around the benchmark's calls into the engine's layers.

Spans are kept in memory; the run writes them once, into its artifact. A span's
layer is the package module it calls into (session, sources, streaming,
operators, sql, plans, llm, bench).
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict


class Tracer:
    """Records spans when enabled; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a streaming phase)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "layer": layer,
                           "parent": parent, "start": start, "end": end, **attrs})
        return sid


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of it that its
    child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = _union_length(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in children[s["id"]]
             if min(b, s["end"]) > max(a, s["start"])]
        )
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)


def _plan_nodes(node):
    """Every node of an executed physical plan, through AQE and query stages."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def run_and_count_shuffle(df) -> tuple[int, int]:
    """Execute ``df`` and return (shuffle bytes, shuffle records) written, read
    from its executed plan's exchange metrics."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    nbytes = nrecords = 0
    for node in _plan_nodes(qe.executedPlan()):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        metrics = node.metrics()
        nbytes += metrics.apply("shuffleBytesWritten").value()
        nrecords += metrics.apply("shuffleRecordsWritten").value()
    return nbytes, nrecords
