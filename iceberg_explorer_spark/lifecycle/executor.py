"""Query executor: admission → job group → timeout watchdog → Arrow result.

Reference behavior being matched (src/iceberg_explorer/query/executor.py):
- timeout clamped to [min_timeout, max_timeout] (:142-154)
- execution on a worker thread, waiting bounded by the timeout (:269-283)
- timeout → state FAILED + QueryTimeoutError; explicit cancel → CANCELLED
  (:274-283, :294-324)
- UUID registry with status lookup and cleanup (:326-347)

Spark-native mechanics replace DuckDB's conn.interrupt(): every query runs
under a job group named by its query id and cancellation is
``sc.cancelJobGroup`` — cooperative, same observable semantics.

Two reference gaps fixed deliberately (SURVEY §2A notes): ``max_rows`` is
actually enforced (df.limit(max_rows + 1) → truncated flag), and full-result
materialization is bounded by it. At cluster scale the result cap is what
keeps the driver alive; large exports go through the distributed CSV sink
(service/export.py) instead.
"""

from __future__ import annotations

import threading
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from iceberg_explorer_spark.errors import QueryNotFoundError, QueryTimeoutError
from iceberg_explorer_spark.gate import validate_sql
from iceberg_explorer_spark.lifecycle.models import (
    TERMINAL_STATES,
    QueryResult,
    QueryStatus,
)
from iceberg_explorer_spark.observability import QueryObserver, get_observer
from iceberg_explorer_spark.plans.inspect import scan_output_rows

DEFAULT_TIMEOUT = 300.0
MIN_TIMEOUT = 10.0
MAX_TIMEOUT = 3600.0
DEFAULT_MAX_ROWS = 10_000
#: Retention bounds for TERMINAL results held for slow-streaming clients.
#: The reference (and this rebuild) materializes each result fully on the
#: driver, so without a bound N completed results held while N clients
#: stream slowly grow driver memory without limit. Both bounds apply;
#: in-flight queries are never counted or evicted. At the default
#: max_rows=10k a result is ~1 MB, so 64 results ≈ 64 MB worst case and
#: the byte bound only bites with raised row caps.
DEFAULT_MAX_RETAINED_RESULTS = 64
DEFAULT_MAX_RETAINED_BYTES = 256 * 1024 * 1024


class QueryExecutor:
    """One per SparkSession (the reference keeps a process singleton)."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        default_timeout: float = DEFAULT_TIMEOUT,
        min_timeout: float = MIN_TIMEOUT,
        max_timeout: float = MAX_TIMEOUT,
        max_rows: int = DEFAULT_MAX_ROWS,
        observer: Optional[QueryObserver] = None,
        max_retained_results: int = DEFAULT_MAX_RETAINED_RESULTS,
        max_retained_bytes: int = DEFAULT_MAX_RETAINED_BYTES,
    ) -> None:
        self.spark = spark
        self.default_timeout = default_timeout
        self.min_timeout = min_timeout
        self.max_timeout = max_timeout
        self.max_rows = max_rows
        self.observer = observer or get_observer()
        self.max_retained_results = max_retained_results
        self.max_retained_bytes = max_retained_bytes
        self._registry: dict[uuid.UUID, QueryResult] = {}
        self._lock = threading.Lock()

    # -- reference executor.py:142-154
    def clamp_timeout(self, timeout: Optional[float]) -> float:
        if timeout is None:
            return self.default_timeout
        return max(self.min_timeout, min(self.max_timeout, float(timeout)))

    def execute(
        self,
        sql: str,
        timeout: Optional[float] = None,
        max_rows: Optional[int] = None,
    ) -> QueryResult:
        """Validate, run under a job group, enforce timeout and row cap.
        Instrumented per A21: span + duration histogram + row counter +
        active-queries gauge around the whole lifecycle (reference
        query/executor.py:181-226)."""
        body = validate_sql(self.spark, sql)
        timeout_s = self.clamp_timeout(timeout)
        cap = max_rows if max_rows is not None else self.max_rows

        result = QueryResult(sql=body)
        with self._lock:
            self._registry[result.query_id] = result
        result.status = QueryStatus.RUNNING
        try:
            with self.observer.observe_query(result.query_id, body) as span:
                out = self._execute_inner(result, body, timeout_s, cap)
                span.rows_returned = result.metrics.rows_returned
                return out
        finally:
            # timeout/failure raise paths also leave a terminal result in
            # the registry — enforce the retention bound on every outcome
            self._enforce_retention(protect=result.query_id)

    def _enforce_retention(self, protect: uuid.UUID) -> None:
        """Bound the registry's TERMINAL results (count + Arrow bytes).

        Eviction order: fully-streamed results first (their client already
        has every row — see ``QueryResult.streamed_complete``), then the
        oldest remaining terminal results. In-flight queries and the
        just-finished ``protect`` result are never evicted, so a single
        over-sized result is admitted rather than rejected (the bound
        recovers as soon as the next query completes). An evicted
        query_id answers ``get_status`` with QueryNotFoundError — the
        client's cue to re-run rather than the driver's cue to OOM.
        """
        with self._lock:
            # one pass over the registry: terminal count + byte total are
            # maintained incrementally as evictions pop entries (a
            # re-scan per candidate made this O(n²) in registry size —
            # stalling concurrent get_status/cancel under the lock once
            # max_retained_results is raised into the thousands)
            n_terminal = 0
            total_bytes = 0
            for r in self._registry.values():
                if r.status in TERMINAL_STATES:
                    n_terminal += 1
                    total_bytes += r.result_nbytes

            # dict preserves insertion order → oldest first within a tier
            tiers = (
                [
                    qid
                    for qid, r in self._registry.items()
                    if r.status in TERMINAL_STATES and r.streamed_complete
                ],
                [
                    qid
                    for qid, r in self._registry.items()
                    if r.status in TERMINAL_STATES and not r.streamed_complete
                ],
            )
            evicted = 0
            for tier in tiers:
                for qid in tier:
                    if (
                        n_terminal <= self.max_retained_results
                        and total_bytes <= self.max_retained_bytes
                    ):
                        break
                    if qid != protect:
                        r = self._registry.pop(qid)
                        n_terminal -= 1
                        total_bytes -= r.result_nbytes
                        evicted += 1
            self.observer.record_retention(n_terminal, total_bytes, evicted)

    def _execute_inner(
        self, result: QueryResult, body: str, timeout_s: float, cap: int
    ) -> QueryResult:

        done = threading.Event()
        group = str(result.query_id)

        def run() -> None:
            try:
                self.spark.sparkContext.setJobGroup(
                    group, f"iceberg_explorer_spark query {group}", True
                )
                df: DataFrame = self.spark.sql(body)
                capped = df.limit(cap + 1) if cap else df
                table = capped.toArrow()
                if cap and table.num_rows > cap:
                    table = table.slice(0, cap)
                    result.metrics.truncated = True
                try:
                    result.metrics.rows_scanned = scan_output_rows(capped)
                except Exception:
                    # metrics are best-effort; never fail a query over them
                    result.metrics.rows_scanned = None
                # Attach the result ONLY if the query is still live: after
                # a timeout/cancel the executor has already marked the
                # result FAILED/CANCELLED and enforced retention — but
                # cancelJobGroup is cooperative, so this worker's toArrow
                # often completes anyway. Attaching rows to a terminal
                # result would hold Arrow buffers the retention gauges
                # never saw and no client can ever stream (FAILED streams
                # only the error line) — unbounded invisible driver
                # memory, the exact class the retention bound exists for.
                # Check-and-attach runs under the executor lock, the same
                # mutex every status TRANSITION (timeout, cancel, this
                # worker's failure path) takes: without it the worker
                # could pass the RUNNING check, lose the race to the
                # timeout marker, and still attach + flip the status back
                # to COMPLETED after the client was told the query failed.
                with self._lock:
                    if result.status == QueryStatus.RUNNING:
                        result.set_result(table)
                        result.status = QueryStatus.COMPLETED
                    else:
                        # terminal already (timeout/cancel won the race):
                        # drop the table, but still finalize the metrics
                        # clock if nobody else did — a query that
                        # definitively ended must not report duration None
                        if result.metrics.end_time is None:
                            result.metrics.complete(0)
            except Exception as exc:  # cancelled jobs also land here
                with self._lock:
                    if result.status == QueryStatus.RUNNING:
                        result.error = str(exc)
                        result.status = QueryStatus.FAILED
                    if result.metrics.end_time is None:
                        result.metrics.complete(0)
            finally:
                done.set()

        worker = threading.Thread(target=run, daemon=True, name=f"query-{group}")
        worker.start()
        if not done.wait(timeout_s):
            # reference executor.py:274-283 — interrupt, FAILED, raise.
            # The FAILED mark is taken under the same lock as the
            # worker's check-and-attach: if the worker completed in the
            # gap between wait() expiring and this lock, honor the
            # completed result instead of failing a query whose rows are
            # already attached and accounted.
            with self._lock:
                if result.status == QueryStatus.RUNNING:
                    result.status = QueryStatus.FAILED
                    result.error = f"query exceeded timeout of {timeout_s}s"
                    result.metrics.complete(0)
                    timed_out = True
                else:
                    timed_out = False
            if timed_out:
                self.spark.sparkContext.cancelJobGroup(group)
                raise QueryTimeoutError(result.error)
        if result.status == QueryStatus.FAILED and result.error:
            raise RuntimeError(result.error)
        return result

    # -- reference executor.py:294-324
    def cancel(self, query_id: uuid.UUID) -> bool:
        with self._lock:
            result = self._registry.get(query_id)
            if result is None:
                return False
            # the transition shares the executor lock with the worker's
            # check-and-attach, so a cancel can never race a completing
            # worker into a CANCELLED result that carries attached rows
            if result.status in (QueryStatus.PENDING, QueryStatus.RUNNING):
                result.status = QueryStatus.CANCELLED
                result.metrics.complete(0)
                cancelled = True
            else:
                cancelled = False
        if cancelled:
            self.spark.sparkContext.cancelJobGroup(str(query_id))
        return cancelled

    # -- reference executor.py:326-347
    def get_status(self, query_id: uuid.UUID) -> QueryResult:
        with self._lock:
            result = self._registry.get(query_id)
        if result is None:
            raise QueryNotFoundError(str(query_id))
        return result

    def cleanup(self, query_id: uuid.UUID) -> None:
        with self._lock:
            self._registry.pop(query_id, None)

    def active_queries(self) -> list[uuid.UUID]:
        with self._lock:
            return [
                qid
                for qid, r in self._registry.items()
                if r.status in (QueryStatus.PENDING, QueryStatus.RUNNING)
            ]

