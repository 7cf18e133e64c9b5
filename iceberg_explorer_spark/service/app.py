"""Framework-free application shell: the reference's route table composed
over the service layer (A1–A21).

The reference wires its routers in ``main.py:24-35`` (FastAPI) with route
semantics in ``api/routes/query.py:38-71,233-383``, ``catalog.py:41-150``,
``export.py:153-217``, ``health.py:44-127``, ``ui.py:41-315``. This module
reproduces that composition without a web framework: a route TABLE maps
``(method, path-pattern)`` onto the already-tested pure service functions,
with the reference's request validation (timeout ∈ [10, 3600], page_size ∈
{100, 250, 500, 1000}) and its 400/404/503 semantics. Any HTTP server — or
a test — drives it with plain dicts:

    app = ExplorerApp(spark)
    resp = app.handle("POST", "/api/v1/query/execute", body={"sql": ...})
    resp.status, resp.body          # JSON endpoints
    list(resp.stream)               # NDJSON / CSV / HTML streaming endpoints

Every request runs inside a ``request_context`` so all spans/logs it
triggers share one correlation id (reference observability.py:104-150).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Iterator, Optional

from pyspark.sql import SparkSession

from iceberg_explorer_spark.catalog.metadata import (
    CatalogService,
    parse_namespace,
)
from iceberg_explorer_spark.errors import (
    InvalidSQLError,
    QueryNotFoundError,
    QueryTimeoutError,
)
from iceberg_explorer_spark.lifecycle.executor import QueryExecutor
from iceberg_explorer_spark.lifecycle.models import QueryStatus
from iceberg_explorer_spark.observability import request_context
from iceberg_explorer_spark.service import ui_partials
from iceberg_explorer_spark.service.export import (
    MAX_EXPORT_BYTES,
    sanitize_filename,
    stream_csv,
)
from iceberg_explorer_spark.service.health import HealthService
from iceberg_explorer_spark.service.streaming_results import (
    VALID_PAGE_SIZES,
    stream_results,
)


@dataclass
class Response:
    """Transport-shaped result: JSON body OR a lazy stream of lines/bytes."""

    status: int
    body: Optional[dict] = None
    stream: Optional[Iterator] = None
    media_type: str = "application/json"
    headers: dict[str, str] = field(default_factory=dict)


def _error(status: int, detail: str) -> Response:
    """FastAPI HTTPException shape: {"detail": ...}."""
    return Response(status=status, body={"detail": detail})


def _parse_uuid(query_id: str) -> uuid.UUID:
    try:
        return uuid.UUID(query_id)
    except ValueError as e:
        raise _BadRequest(f"Invalid query ID format: {query_id}") from e


class _BadRequest(Exception):
    pass


class ExplorerApp:
    """Route table + request validation over the service layer."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        executor: Optional[QueryExecutor] = None,
        catalog: Optional[CatalogService] = None,
        health: Optional[HealthService] = None,
    ) -> None:
        self.spark = spark
        self.executor = executor or QueryExecutor(spark)
        self.catalog = catalog or CatalogService(spark)
        self.health = health or HealthService(spark=spark)
        # (method, compiled-pattern, handler). Patterns use {name} for one
        # segment and {name:path} for the rest of the path (reference
        # catalog.py:184,291 — table paths contain dots, never slashes, but
        # the :path converter matches the reference's declaration).
        self._routes: list[tuple[str, re.Pattern, Callable]] = [
            self._route("POST", "/api/v1/query/execute", self._execute),
            self._route("GET", "/api/v1/query/{query_id}/results", self._results),
            self._route("GET", "/api/v1/query/{query_id}/status", self._status),
            self._route("POST", "/api/v1/query/{query_id}/cancel", self._cancel),
            self._route("DELETE", "/api/v1/query/{query_id}", self._cleanup),
            self._route("GET", "/api/v1/catalog/namespaces", self._namespaces),
            self._route(
                "GET",
                "/api/v1/catalog/namespaces/{namespace}/tables",
                self._tables,
            ),
            self._route(
                "GET",
                "/api/v1/catalog/tables/{table_path:path}/schema",
                self._schema,
            ),
            self._route(
                "GET", "/api/v1/catalog/tables/{table_path:path}", self._details
            ),
            self._route("POST", "/api/v1/export/csv", self._export_csv),
            self._route("GET", "/health", self._health),
            self._route("GET", "/ready", self._ready),
            self._route("GET", "/ui/partials/namespace-tree", self._ui_tree),
            self._route(
                "GET", "/ui/partials/namespace-children", self._ui_children
            ),
            self._route("GET", "/ui/partials/table-details", self._ui_details),
        ]

    @staticmethod
    def _route(method: str, pattern: str, handler: Callable):
        rx = re.sub(r"\{(\w+):path\}", r"(?P<\1>.+)", pattern)
        rx = re.sub(r"\{(\w+)\}", r"(?P<\1>[^/]+)", rx)
        return method, re.compile(f"^{rx}$"), handler

    # -- dispatch ---------------------------------------------------------
    def handle(
        self,
        method: str,
        path: str,
        params: Optional[dict[str, Any]] = None,
        body: Optional[dict[str, Any]] = None,
    ) -> Response:
        """One request in → one Response out, correlated end to end."""
        with request_context():
            matched_path = False
            for m, rx, handler in self._routes:
                match = rx.match(path)
                if not match:
                    continue
                matched_path = True
                if m != method:
                    continue
                try:
                    return handler(
                        params=params or {}, body=body or {}, **match.groupdict()
                    )
                except _BadRequest as e:
                    return _error(400, str(e))
                except QueryNotFoundError as e:
                    return _error(404, f"Query not found: {e}")
                except Exception as e:  # uncaught → 500, never a traceback
                    return _error(500, str(e))
            if matched_path:
                return _error(405, "Method not allowed")
            return _error(404, "Not found")

    # -- query (reference api/routes/query.py) ----------------------------
    def _execute(self, params, body) -> Response:
        sql = body.get("sql")
        if not isinstance(sql, str) or not sql.strip():
            return _error(400, "sql must be a non-empty string")
        timeout = body.get("timeout")
        if timeout is not None:
            if not isinstance(timeout, (int, float)) or isinstance(timeout, bool):
                return _error(400, "timeout must be a number")
            # the executor's bounds (reference models/query.py:22-27,
            # Field(ge=10, le=3600)), so the 400 and its clamp agree
            lo, hi = self.executor.min_timeout, self.executor.max_timeout
            if not (lo <= timeout <= hi):
                return _error(
                    400, f"timeout must be between {lo:g} and {hi:g} seconds"
                )
        try:
            result = self.executor.execute(sql, timeout)
        except InvalidSQLError as e:
            return _error(400, str(e))
        except QueryTimeoutError as e:
            return _error(500, str(e))
        return Response(
            status=200,
            body={"query_id": str(result.query_id), "status": result.status.value},
        )

    def _results(self, params, body, query_id: str) -> Response:
        qid = _parse_uuid(query_id)
        page_size = params.get("page_size", 100)
        offset = params.get("offset", 0)
        if page_size not in VALID_PAGE_SIZES:
            return _error(
                400,
                f"Invalid page_size. Must be one of: {sorted(VALID_PAGE_SIZES)}",
            )
        if not isinstance(offset, int) or offset < 0:
            return _error(400, "offset must be a non-negative integer")
        result = self.executor.get_status(qid)  # raises QueryNotFoundError
        return Response(
            status=200,
            stream=stream_results(result, page_size=page_size, offset=offset),
            media_type="application/x-ndjson",
        )

    def _status(self, params, body, query_id: str) -> Response:
        qid = _parse_uuid(query_id)
        result = self.executor.get_status(qid)
        rows = (
            result.metrics.rows_returned
            if result.status == QueryStatus.COMPLETED
            else None
        )
        return Response(
            status=200,
            body={
                "query_id": query_id,
                "status": result.status.value,
                "rows_processed": rows,
                "error_message": result.error,
            },
        )

    def _cancel(self, params, body, query_id: str) -> Response:
        qid = _parse_uuid(query_id)
        self.executor.get_status(qid)  # 404 before attempting cancel
        cancelled = self.executor.cancel(qid)
        result = self.executor.get_status(qid)
        return Response(
            status=200,
            body={
                "query_id": query_id,
                "cancelled": cancelled,
                "status": result.status.value,
            },
        )

    def _cleanup(self, params, body, query_id: str) -> Response:
        qid = _parse_uuid(query_id)
        self.executor.cleanup(qid)
        return Response(status=200, body={"query_id": query_id, "cleaned": True})

    # -- catalog (reference api/routes/catalog.py) -------------------------
    def _namespaces(self, params, body) -> Response:
        """List namespaces with REAL pagination. The reference accepts the
        page params but ignores both and returns the full list
        (api/routes/catalog.py:50-65 — page-token marked "not yet
        implemented"); round 4 here capped the result at page-size while
        still returning ``next_page_token: None``, which silently dropped
        every namespace past the cap (truncation with no continuation reads
        as "no more data"). Now the cap is only honored together with a
        token: ``list_namespaces`` returns a deterministic sorted list, so
        an opaque base64 offset cursor is a sound token; the final page
        carries ``next_page_token: None``. ``page-size`` keeps the
        reference's Query(ge=1, le=1000) validation."""
        import base64

        parent = params.get("parent")
        parent_parts = parse_namespace(parent) if parent else None
        page_size_raw = params.get("page-size")
        page_size = 100
        if page_size_raw is not None:
            try:
                page_size = int(page_size_raw)
            except ValueError:
                return _error(400, "Invalid page-size: must be an integer")
            if not 1 <= page_size <= 1000:
                return _error(400, "Invalid page-size: must be in [1, 1000]")
        offset = 0
        token_raw = params.get("page-token")
        if token_raw:
            try:
                decoded = base64.urlsafe_b64decode(token_raw.encode()).decode()
                kind, _, off = decoded.partition(":")
                if kind != "ns-offset":
                    raise ValueError(decoded)
                offset = int(off)
                if offset < 0:
                    raise ValueError(off)
            except Exception:
                return _error(400, "Invalid page-token")
        namespaces = self.catalog.list_namespaces(parent_parts)
        page = namespaces[offset : offset + page_size]
        next_token = None
        if offset + page_size < len(namespaces):
            next_token = base64.urlsafe_b64encode(
                f"ns-offset:{offset + page_size}".encode()
            ).decode()
        return Response(
            status=200,
            body={"namespaces": page, "next_page_token": next_token},
        )

    def _tables(self, params, body, namespace: str) -> Response:
        parts = parse_namespace(namespace)
        if not parts:
            return _error(400, "Namespace cannot be empty")
        tables = self.catalog.list_tables(parts)
        return Response(
            status=200,
            body={
                "identifiers": [
                    {"namespace": parts, "name": t} for t in tables
                ],
                "next_page_token": None,
            },
        )

    def _split_table_path(self, table_path: str):
        if "." not in table_path:
            raise _BadRequest(
                "Invalid table path format. Expected: namespace.table"
            )
        last_dot = table_path.rfind(".")
        parts = parse_namespace(table_path[:last_dot])
        name = table_path[last_dot + 1 :]
        if not parts:
            raise _BadRequest("Invalid namespace in table path")
        if not name:
            raise _BadRequest("Invalid table name in table path")
        return parts, name

    def _schema(self, params, body, table_path: str) -> Response:
        parts, name = self._split_table_path(table_path)
        try:
            fields = self.catalog.table_schema(parts, name)
        except Exception:
            return _error(404, f"Table not found: {'.'.join(parts)}.{name}")
        return Response(
            status=200,
            body={
                "namespace": parts,
                "name": name,
                "columns": [asdict(f) for f in fields],
            },
        )

    def _details(self, params, body, table_path: str) -> Response:
        parts, name = self._split_table_path(table_path)
        try:
            details = self.catalog.table_details(parts, name)
        except Exception:
            return _error(404, f"Table not found: {'.'.join(parts)}.{name}")
        return Response(status=200, body=asdict(details))

    # -- export (reference api/routes/export.py:153-217) -------------------
    def _export_csv(self, params, body) -> Response:
        query_id = body.get("query_id")
        sql = body.get("sql")
        if not query_id and not sql:
            return _error(400, "Either query_id or sql must be provided")
        if query_id:
            result = self.executor.get_status(_parse_uuid(query_id))
        else:
            try:
                result = self.executor.execute(sql)
            except InvalidSQLError as e:
                return _error(400, str(e))
        if result.status != QueryStatus.COMPLETED:
            return _error(400, f"Query in state {result.status.value}")
        filename = sanitize_filename(body.get("filename") or "export")
        return Response(
            status=200,
            # past the cap the stream raises ExportTooLargeError mid-way and
            # the transport closes the connection (reference CSVExportError)
            stream=stream_csv(result, MAX_EXPORT_BYTES),
            media_type="text/csv",
            headers={
                "Content-Disposition": f'attachment; filename="{filename}"'
            },
        )

    # -- health (reference api/routes/health.py) ---------------------------
    def _health(self, params, body) -> Response:
        report = self.health.health()
        return Response(
            status=report.http_status,
            body={
                "status": report.status,
                "components": {
                    name: {"healthy": c.healthy, "error": c.error}
                    for name, c in report.components.items()
                },
            },
        )

    def _ready(self, params, body) -> Response:
        report = self.health.ready()
        return Response(
            status=report.http_status,
            body={"ready": report.ready, "reason": report.reason},
        )

    # -- UI partials (reference api/routes/ui.py) ---------------------------
    def _html(self, html: str) -> Response:
        return Response(
            status=200, stream=iter([html]), media_type="text/html"
        )

    def _ui_tree(self, params, body) -> Response:
        return self._html(ui_partials.namespace_tree_partial(self.catalog))

    def _ui_children(self, params, body) -> Response:
        return self._html(
            ui_partials.namespace_children_partial(
                self.catalog, params.get("parent", "")
            )
        )

    def _ui_details(self, params, body) -> Response:
        return self._html(
            ui_partials.table_details_partial(
                self.catalog, params.get("table_path", "")
            )
        )
