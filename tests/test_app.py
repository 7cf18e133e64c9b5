"""End-to-end application-shell test: HTTP-shaped request dicts in → the
reference's response/NDJSON protocol messages out (reference main.py:24-35
route composition; protocol shapes models/query.py:56-91). No web framework
— the shell is the route table + validation + 400/404/503 mapping over the
already-contract-tested service functions."""

from __future__ import annotations

import json

import pytest

from iceberg_explorer_spark.service.app import ExplorerApp
from iceberg_explorer_spark.sources.registry import register_tables
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def app(spark):
    register_tables(spark, SF_DIR_SMALL)
    return ExplorerApp(spark)


def test_execute_then_stream_results_ndjson(app):
    resp = app.handle(
        "POST",
        "/api/v1/query/execute",
        body={"sql": "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"},
    )
    assert resp.status == 200
    qid = resp.body["query_id"]
    assert resp.body["status"] == "completed"

    out = app.handle(
        "GET", f"/api/v1/query/{qid}/results", params={"page_size": 100}
    )
    assert out.status == 200 and out.media_type == "application/x-ndjson"
    msgs = [json.loads(line) for line in out.stream]
    # protocol order: metadata → data/progress pairs → complete
    assert msgs[0]["type"] == "metadata"
    assert msgs[0]["columns"] == ["n_nationkey", "n_name"]
    assert msgs[0]["total_rows"] == 25
    kinds = [m["type"] for m in msgs]
    assert kinds[-1] == "complete"
    assert "data" in kinds and "progress" in kinds
    rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
    assert rows[0][0] == 0 and isinstance(rows[0][1], str)
    assert msgs[-1]["rows_returned"] == 25


def test_execute_validation_400s(app):
    assert app.handle("POST", "/api/v1/query/execute", body={}).status == 400
    assert (
        app.handle(
            "POST",
            "/api/v1/query/execute",
            body={"sql": "SELECT 1", "timeout": 5},
        ).status
        == 400
    )
    assert (
        app.handle(
            "POST",
            "/api/v1/query/execute",
            body={"sql": "SELECT 1", "timeout": 3601},
        ).status
        == 400
    )
    # non-SELECT blocked by the admission gate
    resp = app.handle(
        "POST", "/api/v1/query/execute", body={"sql": "DROP TABLE nation"}
    )
    assert resp.status == 400


def test_timeout_bounds_come_from_the_executor(app, spark):
    """The 400 check reads the executor's bounds: a timeout the executor
    would clamp is rejected, not silently shortened."""
    from iceberg_explorer_spark.lifecycle.executor import QueryExecutor

    narrow = ExplorerApp(spark, executor=QueryExecutor(spark, max_timeout=60))
    body = {"sql": "SELECT 1", "timeout": 120}
    resp = narrow.handle("POST", "/api/v1/query/execute", body=body)
    assert resp.status == 400
    assert resp.body == {"detail": "timeout must be between 10 and 60 seconds"}
    # under the default executor the text keeps the reference's integers
    resp = app.handle(
        "POST", "/api/v1/query/execute", body={"sql": "SELECT 1", "timeout": 5}
    )
    assert resp.body == {"detail": "timeout must be between 10 and 3600 seconds"}
    ok = app.handle("POST", "/api/v1/query/execute", body=body)
    assert ok.status == 200


def test_results_validation_and_404(app):
    ok = app.handle("POST", "/api/v1/query/execute", body={"sql": "SELECT 1 AS one"})
    qid = ok.body["query_id"]
    bad_page = app.handle(
        "GET", f"/api/v1/query/{qid}/results", params={"page_size": 123}
    )
    assert bad_page.status == 400
    bad_uuid = app.handle("GET", "/api/v1/query/not-a-uuid/results")
    assert bad_uuid.status == 400
    missing = app.handle(
        "GET", "/api/v1/query/00000000-0000-0000-0000-000000000000/status"
    )
    assert missing.status == 404


def test_status_cancel_cleanup_roundtrip(app):
    qid = app.handle(
        "POST", "/api/v1/query/execute", body={"sql": "SELECT 1 AS one"}
    ).body["query_id"]
    st = app.handle("GET", f"/api/v1/query/{qid}/status")
    assert st.status == 200
    assert st.body["status"] == "completed"
    assert st.body["rows_processed"] == 1
    # cancel after completion: cancelled=False, status unchanged (reference
    # query.py:312-355 returns success even for finished queries)
    ca = app.handle("POST", f"/api/v1/query/{qid}/cancel")
    assert ca.status == 200 and ca.body["cancelled"] is False
    assert app.handle("DELETE", f"/api/v1/query/{qid}").status == 200
    assert app.handle("GET", f"/api/v1/query/{qid}/status").status == 404


def test_catalog_routes(app):
    ns = app.handle("GET", "/api/v1/catalog/namespaces")
    assert ns.status == 200 and ["default"] in ns.body["namespaces"]
    all_ns = ns.body["namespaces"]
    # REAL pagination (reference api/routes/catalog.py:50-65 validates the
    # params but ignores them; here a capped page must carry a continuation
    # token, and walking the cursor must reconstruct the full list)
    walked, token, pages = [], None, 0
    while True:
        params = {"page-size": "1"}
        if token:
            params["page-token"] = token
        paged = app.handle(
            "GET", "/api/v1/catalog/namespaces", params=params
        )
        assert paged.status == 200 and len(paged.body["namespaces"]) <= 1
        walked.extend(paged.body["namespaces"])
        token = paged.body["next_page_token"]
        pages += 1
        if token is None or pages > 50:
            break
    assert walked == all_ns  # no namespace silently dropped
    # final page of an un-tokened full fetch has no continuation
    assert ns.body["next_page_token"] is None
    # garbage tokens are a 400, not silent first-page
    assert (
        app.handle(
            "GET",
            "/api/v1/catalog/namespaces",
            params={"page-token": "not-a-cursor"},
        ).status
        == 400
    )
    for bad in ("0", "1001", "abc"):
        assert (
            app.handle(
                "GET",
                "/api/v1/catalog/namespaces",
                params={"page-size": bad},
            ).status
            == 400
        ), bad
    no_ns = app.handle("GET", "/api/v1/catalog/namespaces//tables")
    assert no_ns.status in (400, 404)
    bad_path = app.handle("GET", "/api/v1/catalog/tables/nodots")
    assert bad_path.status == 400
    missing = app.handle("GET", "/api/v1/catalog/tables/default.nope/schema")
    assert missing.status == 404


def test_export_csv_e2e(app):
    qid = app.handle(
        "POST",
        "/api/v1/query/execute",
        body={"sql": "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"},
    ).body["query_id"]
    resp = app.handle(
        "POST", "/api/v1/export/csv", body={"query_id": qid, "filename": "nations"}
    )
    assert resp.status == 200 and resp.media_type == "text/csv"
    assert resp.headers["Content-Disposition"].endswith('filename="nations.csv"')
    text = b"".join(resp.stream).decode()
    lines = text.strip().splitlines()
    assert lines[0] == "n_nationkey,n_name"
    assert len(lines) == 26
    neither = app.handle("POST", "/api/v1/export/csv", body={})
    assert neither.status == 400


def test_health_routes_and_503(app, spark):
    ok = app.handle("GET", "/health")
    assert ok.status == 200 and ok.body["status"] == "healthy"
    assert app.handle("GET", "/ready").status == 200

    from iceberg_explorer_spark.service.app import ExplorerApp as A
    from iceberg_explorer_spark.service.health import HealthService

    def boom() -> None:
        raise RuntimeError("catalog down")

    degraded = A(
        spark,
        health=HealthService(
            spark=spark, checks={"engine": lambda: None, "catalog": boom}
        ),
    )
    resp = degraded.handle("GET", "/health")
    assert resp.status == 503 and resp.body["status"] == "degraded"
    assert degraded.handle("GET", "/ready").status == 503


def test_ui_partial_routes(app):
    tree = app.handle("GET", "/ui/partials/namespace-tree")
    assert tree.status == 200 and tree.media_type == "text/html"
    html = "".join(tree.stream)
    assert "namespace-tree" in html
    kids = app.handle(
        "GET", "/ui/partials/namespace-children", params={"parent": "default"}
    )
    assert "".join(kids.stream).startswith('<div class="namespace-children')
    bad = app.handle(
        "GET", "/ui/partials/table-details", params={"table_path": "nodots"}
    )
    assert "Invalid table path" in "".join(bad.stream)


def test_unknown_route_and_method(app):
    assert app.handle("GET", "/nope").status == 404
    assert app.handle("PUT", "/api/v1/query/execute").status == 405


def test_served_over_real_http(app):
    """The stdlib adapter serves the same contract over a real socket:
    execute → NDJSON stream → status → health, plus 404 mapping — the
    full served-application parity the reference gets from uvicorn."""
    import json as _json
    import urllib.error
    import urllib.request

    from iceberg_explorer_spark.service.httpd import serve

    server = serve(app, port=0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    try:
        req = urllib.request.Request(
            f"{base}/api/v1/query/execute",
            data=_json.dumps({"sql": "SELECT n_nationkey FROM nation"}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            qid = _json.loads(r.read())["query_id"]

        with urllib.request.urlopen(
            f"{base}/api/v1/query/{qid}/results?page_size=100"
        ) as r:
            assert r.headers["Content-Type"] == "application/x-ndjson"
            msgs = [_json.loads(line) for line in r.read().splitlines() if line]
        assert msgs[0]["type"] == "metadata" and msgs[-1]["type"] == "complete"
        assert msgs[0]["total_rows"] == 25

        with urllib.request.urlopen(f"{base}/api/v1/query/{qid}/status") as r:
            assert _json.loads(r.read())["status"] == "completed"

        with urllib.request.urlopen(f"{base}/health") as r:
            assert _json.loads(r.read())["status"] == "healthy"

        try:
            urllib.request.urlopen(f"{base}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_served_http_concurrent_execute_stream_export(app):
    """The ThreadingHTTPServer handles overlapping requests against ONE
    session: N clients concurrently execute + stream + CSV-export distinct
    queries and each gets only its own rows back — the served-app level of
    the executor-level isolation pinned in tests/test_concurrency.py."""
    import json as _json
    import threading
    import urllib.request

    from iceberg_explorer_spark.service.httpd import serve

    server = serve(app, port=0)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"
    n = 4
    results: list = [None] * n
    errors: list = []
    barrier = threading.Barrier(n)

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            limit = (i + 1) * 5
            req = urllib.request.Request(
                f"{base}/api/v1/query/execute",
                data=_json.dumps(
                    {
                        "sql": "SELECT n_nationkey FROM nation "
                        f"ORDER BY n_nationkey LIMIT {limit}"
                    }
                ).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                qid = _json.loads(r.read())["query_id"]
            with urllib.request.urlopen(
                f"{base}/api/v1/query/{qid}/results?page_size=100"
            ) as r:
                msgs = [
                    _json.loads(line) for line in r.read().splitlines() if line
                ]
            rows = [
                row
                for m in msgs
                if m["type"] == "data"
                for row in m["rows"]
            ]
            req = urllib.request.Request(
                f"{base}/api/v1/export/csv",
                data=_json.dumps({"query_id": qid}).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                csv_lines = r.read().decode().strip().splitlines()
            results[i] = (limit, rows, csv_lines)
        except Exception as exc:  # surface into the main thread
            errors.append((i, exc))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    try:
        assert not errors, errors
        for limit, rows, csv_lines in results:
            assert [r[0] for r in rows] == list(range(limit))  # own rows only
            assert csv_lines[0] == "n_nationkey"
            assert [int(x) for x in csv_lines[1:]] == list(range(limit))
    finally:
        server.shutdown()
