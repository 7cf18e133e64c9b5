"""Observability: per-query spans + metrics (A21).

Mirrors the reference's instrumentation surface (reference:
src/iceberg_explorer/observability.py:165-233 — histogram
``query_duration_seconds``, counter ``query_rows_returned``, up-down counter
``active_queries``; per-query span with status/duration/row attributes at
query/executor.py:181-226; trace-context structured logs at :104-150).

Design differences, deliberate:
- One backend: everything records into an in-process :class:`Recorder`, so
  the engine is observable (and testable) with zero extra dependencies. The
  reference hard-imports the OTel SDK + FastAPI instrumentor; an engine
  library can't. The recorder keeps the newest ``MAX_RECORDED`` spans and
  duration samples, so a long-lived session holds bounded memory.
- Logs go through stdlib ``logging`` with the span id attached — same
  queryable fields as the reference's structlog JSON without a structlog
  dependency.

On a real cluster these process-local metrics complement (not replace) the
Spark UI/metrics system: they measure the service layer — admission to
Arrow materialization — which is exactly the path the Spark metrics system
does not cover.
"""

from __future__ import annotations

import logging
import threading
import time
import uuid
from collections import deque
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field
from typing import ContextManager, Iterator, Optional

logger = logging.getLogger("iceberg_explorer_spark")

#: Spans and duration samples a recorder keeps; the oldest drop first.
MAX_RECORDED = 4096

#: Request-scoped correlation id (reference observability.py:104-150 injects
#: trace/span ids into every structured log line). ContextVar so one id
#: follows a request across catalog/query/export/health calls — including
#: through asyncio — without any framework dependency.
_REQUEST_ID: ContextVar[Optional[str]] = ContextVar(
    "iceberg_explorer_spark_request_id", default=None
)


@contextmanager
def request_context(request_id: Optional[str] = None) -> Iterator[str]:
    """Bind a correlation id for the duration of one service request.

    Every span and log line emitted inside the block carries the same id, so
    a query + its catalog lookups + its export read as ONE request in the
    logs — the reference's trace-context behavior without requiring OTel.
    """
    rid = request_id or uuid.uuid4().hex[:16]
    token = _REQUEST_ID.set(rid)
    try:
        yield rid
    finally:
        _REQUEST_ID.reset(token)


def current_request_id() -> Optional[str]:
    return _REQUEST_ID.get()


@dataclass
class SpanRecord:
    name: str
    query_id: str
    status: str = "in_progress"  # ok | error | in_progress
    duration_s: float = 0.0
    rows_returned: int = 0
    error: Optional[str] = None
    request_id: Optional[str] = None
    attributes: dict = field(default_factory=dict)


@contextmanager
def _recorded_span(
    recorder: Recorder, name: str, query_id: str, attributes: dict
) -> Iterator[SpanRecord]:
    """Time the block as one span: status and error from its outcome, then
    record it and log one line tagged with the bound request id."""
    span = SpanRecord(
        name=name,
        query_id=query_id,
        request_id=current_request_id(),
        attributes=attributes,
    )
    start = time.perf_counter()
    try:
        yield span
        span.status = "ok"
    except Exception as exc:
        span.status = "error"
        span.error = str(exc)
        raise
    finally:
        span.duration_s = time.perf_counter() - start
        recorder.add_span(span)
        logger.info(
            "%s %s %s request=%s duration=%.3fs rows=%d",
            name,
            query_id or "-",
            span.status,
            span.request_id or "-",
            span.duration_s,
            span.rows_returned,
        )


def observe_call(name: str, **attributes) -> ContextManager[SpanRecord]:
    """Correlated span around a non-query service call (catalog list/detail,
    export, health probe), recorded beside the query spans."""
    return _recorded_span(get_observer().recorder, name, "", attributes)


class Recorder:
    """In-process metric/span store — the one backend and the test hook."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.query_duration_seconds: deque[float] = deque(maxlen=MAX_RECORDED)
        self.query_rows_returned: int = 0
        self.active_queries: int = 0
        self.spans: deque[SpanRecord] = deque(maxlen=MAX_RECORDED)
        # retention-policy gauges/counter (lifecycle/executor.py
        # _enforce_retention): current terminal results held + their Arrow
        # bytes, and cumulative evictions since process start
        self.retained_results: int = 0
        self.retained_result_bytes: int = 0
        self.results_evicted: int = 0

    def record_duration(self, seconds: float) -> None:
        with self._lock:
            self.query_duration_seconds.append(seconds)

    def add_rows(self, n: int) -> None:
        with self._lock:
            self.query_rows_returned += n

    def adjust_active(self, delta: int) -> None:
        with self._lock:
            self.active_queries += delta

    def add_span(self, span: SpanRecord) -> None:
        with self._lock:
            self.spans.append(span)

    def set_retention(self, count: int, nbytes: int, evicted: int) -> None:
        with self._lock:
            self.retained_results = count
            self.retained_result_bytes = nbytes
            self.results_evicted += evicted

    def reset(self) -> None:
        with self._lock:
            self.query_duration_seconds.clear()
            self.query_rows_returned = 0
            self.active_queries = 0
            self.spans.clear()
            self.retained_results = 0
            self.retained_result_bytes = 0
            self.results_evicted = 0


class QueryObserver:
    """Emits the reference's three instruments + a span per query."""

    def __init__(self, recorder: Optional[Recorder] = None) -> None:
        self.recorder = recorder or Recorder()

    def record_retention(self, count: int, nbytes: int, evicted: int) -> None:
        """Retention-policy gauges (terminal results held + Arrow bytes)
        and the cumulative eviction counter, recorder-backed like the
        reference's three instruments."""
        self.recorder.set_retention(count, nbytes, evicted)

    @contextmanager
    def observe_query(
        self, query_id: uuid.UUID, sql: str
    ) -> Iterator[SpanRecord]:
        """Span + metrics around one query execution (reference span
        ``duckdb.query`` → here ``spark.query``). The caller sets
        ``span.rows_returned`` before the block exits."""
        self.recorder.adjust_active(1)
        try:
            with _recorded_span(
                self.recorder, "spark.query", str(query_id), {"sql.length": len(sql)}
            ) as span:
                yield span
        finally:
            self.recorder.adjust_active(-1)
            self.recorder.record_duration(span.duration_s)
            self.recorder.add_rows(span.rows_returned)


_OBSERVER: Optional[QueryObserver] = None


def get_observer() -> QueryObserver:
    """Process singleton, like the reference's module-level instruments."""
    global _OBSERVER
    if _OBSERVER is None:
        _OBSERVER = QueryObserver()
    return _OBSERVER
