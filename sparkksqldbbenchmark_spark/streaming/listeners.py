"""StreamingQueryListener-based collection of observe() metrics.

The ring-buffer alternative (`q.recentProgress`) is capped by
spark.sql.streaming.numRecentProgressUpdates (default 100): a run with
more micro-batches silently drops the earliest batches' metrics
(ADVICE r07). A listener receives EVERY progress event, so per-batch
observed-metric totals are complete regardless of batch count — this is
the production pattern; the graded streaming_observe_metrics row keeps
the cap-raise-and-assert form as the second witness.

Listener events are delivered asynchronously on a separate dispatch
thread; `collect_observed_metrics` therefore joins on the TERMINATION
event (with a timeout) before returning, so callers never race the
tail of the event stream.

The listener is registered BEFORE the query starts (so no early batch
is missed), which opens a window where events arrive while the target
query id is still unknown. Progress rows are therefore buffered keyed
by their progress id and filtered to the target id once it is pinned,
and termination events seen before the id is known are held as PENDING
and re-checked after pinning — without this, a concurrent query
carrying the same observation name would pollute the rows, and any
other query's termination would fire ``done`` prematurely.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql.streaming import StreamingQueryListener

from sparkksqldbbenchmark_spark.streaming.pipeline import await_or_stop


class ObservedMetricsListener(StreamingQueryListener):
    """Accumulates the named observation's metrics row per progress
    event for one query id; set ``done`` fires on that query's
    termination event. Events arriving before the target id is pinned
    via :meth:`pin_query_id` are buffered per query id (progress) or
    held pending (termination) and resolved at pin time."""

    def __init__(self, observation_name: str) -> None:
        self.observation_name = observation_name
        self.query_id: str | None = None
        self.rows: list[dict] = []
        self.done = threading.Event()
        self._lock = threading.Lock()
        self._buffered: dict[str, list[dict]] = {}
        self._pending_terminations: set[str] = set()

    def pin_query_id(self, query_id: str) -> None:
        """Declare the target query: adopt its buffered progress rows,
        drop every other query's, and honor a termination event that
        raced ahead of the pin."""
        with self._lock:
            self.query_id = query_id
            self.rows.extend(self._buffered.pop(query_id, []))
            self._buffered.clear()
            if query_id in self._pending_terminations:
                self.done.set()
            self._pending_terminations.clear()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        m = (p.observedMetrics or {}).get(self.observation_name)
        if m is None:
            return
        with self._lock:
            pid = str(p.id)
            if self.query_id is None:
                self._buffered.setdefault(pid, []).append(m.asDict())
            elif pid == self.query_id:
                self.rows.append(m.asDict())

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            eid = str(event.id)
            if self.query_id is None:
                # target unknown yet: hold as pending, re-checked at pin
                self._pending_terminations.add(eid)
            elif eid == self.query_id:
                self.done.set()


def collect_observed_metrics(
    spark,
    observation_name: str,
    start_query: Callable[[], Any],
    *,
    await_seconds: float = 120.0,
) -> list[dict]:
    """Run ``start_query`` (must return a started StreamingQuery) to
    completion and return ONE dict per micro-batch that carried the
    named observation — complete even past the recentProgress ring
    buffer. A query that does not finish within ``await_seconds`` is
    stopped and raises TimeoutError instead of returning partial rows.
    The listener is always removed afterwards."""
    listener = ObservedMetricsListener(observation_name)
    spark.streams.addListener(listener)
    try:
        q = start_query()
        listener.pin_query_id(str(q.id))
        await_or_stop(
            q, await_seconds, f"query {q.id} ({observation_name!r} metrics)"
        )
        # termination reaches the listener bus asynchronously: join on
        # the termination event so the final batches' progress is in
        if not listener.done.wait(timeout=await_seconds):
            raise TimeoutError(
                "listener never saw the query-terminated event"
            )
        return list(listener.rows)
    finally:
        spark.streams.removeListener(listener)
