"""A21 observability: span + metric emission around the query lifecycle
(mirrors reference observability.py:165-233 / query/executor.py:181-226,
tested without any OTel dependency via the in-process Recorder)."""

from __future__ import annotations

import pytest

from iceberg_explorer_spark.errors import InvalidSQLError
from iceberg_explorer_spark.lifecycle.executor import QueryExecutor
from iceberg_explorer_spark.observability import (
    QueryObserver,
    Recorder,
    get_observer,
)


@pytest.fixture()
def executor(spark):
    return QueryExecutor(spark, observer=QueryObserver(Recorder()))


def test_successful_query_emits_span_and_metrics(executor):
    r = executor.execute("SELECT id FROM range(7)")
    rec = executor.observer.recorder
    assert len(rec.spans) == 1
    span = rec.spans[0]
    assert span.name == "spark.query"
    assert span.status == "ok"
    assert span.query_id == str(r.query_id)
    assert span.rows_returned == 7
    assert span.duration_s > 0
    assert rec.query_rows_returned == 7
    assert rec.query_duration_seconds and rec.query_duration_seconds[0] > 0
    assert rec.active_queries == 0  # gauge returns to zero after the query


def test_failed_query_emits_error_span(executor):
    with pytest.raises(Exception):
        executor.execute("SELECT * FROM definitely_not_a_table_xyz")
    rec = executor.observer.recorder
    assert len(rec.spans) == 1
    assert rec.spans[0].status == "error"
    assert rec.spans[0].error
    assert rec.active_queries == 0
    # a failed query still lands a duration sample
    assert len(rec.query_duration_seconds) == 1


def test_rejected_sql_emits_no_span(executor):
    """Admission failures happen before the span opens — the reference
    increments active_queries only after validation too."""
    with pytest.raises(InvalidSQLError):
        executor.execute("DROP TABLE x")
    assert not executor.observer.recorder.spans


def test_metrics_accumulate_across_queries(executor):
    executor.execute("SELECT id FROM range(3)")
    executor.execute("SELECT id FROM range(5)")
    rec = executor.observer.recorder
    assert rec.query_rows_returned == 8
    assert len(rec.query_duration_seconds) == 2
    assert [s.status for s in rec.spans] == ["ok", "ok"]


def test_recorder_keeps_only_the_newest_spans():
    """A long-lived session holds at most MAX_RECORDED spans and duration
    samples; the oldest drop first."""
    from iceberg_explorer_spark.observability import MAX_RECORDED, SpanRecord

    rec = Recorder()
    for i in range(2 * MAX_RECORDED):
        rec.add_span(SpanRecord(name="s", query_id=str(i)))
        rec.record_duration(float(i))
    assert len(rec.spans) == MAX_RECORDED
    assert len(rec.query_duration_seconds) == MAX_RECORDED
    assert rec.spans[-1].query_id == str(2 * MAX_RECORDED - 1)
    assert rec.spans[0].query_id == str(MAX_RECORDED)
    assert rec.query_duration_seconds[-1] == 2 * MAX_RECORDED - 1


def test_active_gauge_increments_during_execution(spark):
    """Snapshot the gauge from inside the running query via a concurrent
    probe: the span context manager holds active_queries at 1 while the
    query runs."""
    rec = Recorder()
    obs = QueryObserver(rec)
    seen = []

    class Probe(QueryObserver):
        pass

    ex = QueryExecutor(spark, observer=obs)
    orig = obs.observe_query

    def spying(qid, sql):
        cm = orig(qid, sql)

        class Wrap:
            def __enter__(self):
                span = cm.__enter__()
                seen.append(rec.active_queries)
                return span

            def __exit__(self, *a):
                return cm.__exit__(*a)

        return Wrap()

    obs.observe_query = spying
    ex.execute("SELECT 1 AS one")
    assert seen == [1]
    assert rec.active_queries == 0


def test_get_observer_is_singleton():
    assert get_observer() is get_observer()


def test_request_context_correlates_service_calls(spark):
    """One request id threads through catalog + health calls made inside the
    same request_context (reference observability.py:104-150 trace-context
    log correlation) — and a second request gets a different id."""
    from iceberg_explorer_spark.catalog.metadata import CatalogService
    from iceberg_explorer_spark.observability import get_observer, request_context
    from iceberg_explorer_spark.service.health import HealthService

    rec = get_observer().recorder
    rec.reset()
    svc = CatalogService(spark)
    hs = HealthService(spark=spark)
    with request_context() as rid1:
        svc.list_namespaces()
        hs.health()
    with request_context() as rid2:
        svc.list_tables([])
    assert rid1 != rid2
    by_name = {s.name: s for s in rec.spans}
    assert by_name["catalog.list_namespaces"].request_id == rid1
    assert by_name["health.check"].request_id == rid1
    assert by_name["catalog.list_tables"].request_id == rid2
    # outside any request_context the id is simply absent, never stale
    svc.list_namespaces()
    assert rec.spans[-1].request_id is None
