"""explorer_session: one analyst driving ``ExplorerApp.handle`` in a closed
loop.

Each cycle browses the catalog (namespaces, tables, then schema and details
of seeded tables), runs one seeded query per template, reads the first
NDJSON line, pages through the result 1000 rows at a time, polls status,
exports the capped filtered scan as CSV and cleans every result up. Every
``handle`` call is one op. The served rows are checked against DuckDB after
the timed phase.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import nullcontext

from checks import Oracle, digest, explorer_sql
from measure import Phase
from streams import (
    CATALOG_TABLES,
    NAMESPACE,
    PARTITIONED_TABLE,
    TPCH_TABLES,
    Cycle,
    Query,
    explorer_cycles,
)

SCALE = "sf0.1"
PAGE_SIZE = 1000
#: nominal seconds of one cycle on a 4-core host, which sets how many
#: cycles a timed phase of --seconds runs
CYCLE_S = 2.5
#: warm-up rule: this many full cycles of a separate seeded stream
WARMUP_CYCLES = 2


class ExplorerSession:
    name = "explorer_session"
    scale = SCALE
    unit_s = CYCLE_S
    min_units = 1

    def __init__(self, harness, corpus_root: str, seed: int, tracer=None) -> None:
        self.h = harness
        self.corpus = os.path.join(corpus_root, SCALE)
        self.seed = seed
        self.tracer = tracer
        self.app = None
        self.served: list[tuple[str, list[str], list[list]]] = []

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> dict:
        """Register the namespace: the TPC-H tables as external parquet
        tables, plus one partitioned table written into the fresh
        warehouse."""
        from iceberg_explorer_spark.service.app import ExplorerApp

        spark = self.h.spark
        t0 = time.perf_counter()
        spark.sql(f"CREATE DATABASE {NAMESPACE}")
        for table in TPCH_TABLES:
            path = os.path.join(self.corpus, f"{table}.parquet")
            spark.sql(
                f"CREATE TABLE {NAMESPACE}.{table} USING parquet LOCATION '{path}'"
            )
        spark.sql(
            f"CREATE TABLE {NAMESPACE}.{PARTITIONED_TABLE} USING parquet "
            f"PARTITIONED BY (n_regionkey) AS SELECT * FROM {NAMESPACE}.nation"
        )
        self.app = ExplorerApp(spark)
        if self.tracer is not None:
            # handlers are bound into the route table at construction
            self.app._routes = [
                (m, rx, self.tracer.wrap(handler, "app.handler"))
                for m, rx, handler in self.app._routes
            ]
        return {"tables_s": time.perf_counter() - t0, "artifacts_s": 0.0}

    # -- phases -----------------------------------------------------------------
    def warm_up(self, oracle: Oracle, phase: Phase) -> dict:
        t0 = time.perf_counter()
        cycles = self.units("warmup")
        for _ in range(WARMUP_CYCLES):
            self._cycle(next(cycles), phase, keep=False)
        return {
            "rule": f"{WARMUP_CYCLES} full session cycles of a separate seeded stream",
            "count": WARMUP_CYCLES,
            "seconds": time.perf_counter() - t0,
        }

    def units(self, stream: str):
        return explorer_cycles(self.seed, stream)

    def run_unit(self, cycle: Cycle, phase: Phase) -> None:
        self._cycle(cycle, phase, keep=True)

    def check(self, oracle: Oracle, phase: Phase) -> int:
        """Compare every served result with DuckDB; returns queries checked.
        A wrong result counts as a failed op of the phase."""
        for sql, columns, rows in self.served:
            want = oracle.expected(explorer_sql(sql), arrow_columns_sorted=False)
            got = digest(columns, rows)
            if got != want:
                phase.fail(
                    None,
                    f"wrong result: served {got['rows']} rows "
                    f"{got['sha256'][:12]}, DuckDB {want['rows']} rows "
                    f"{want['sha256'][:12]} for {sql[:120]}",
                )
        return len(self.served)

    # -- the client -------------------------------------------------------------
    def _handle(self, phase: Phase, kind: str, method: str, path: str, **kw):
        """One op: ``handle`` plus draining its stream. Returns the response,
        its stream items, the clock reading at the first item (None without
        a stream) and the op's seconds."""
        phase.attempted += 1
        tracer = self.tracer
        with tracer.op(kind) if tracer is not None else nullcontext() as rec:
            t0 = time.perf_counter()
            resp = self.app.handle(method, path, **kw)
            first = None
            items = []
            if resp.stream is not None:
                for item in resp.stream:
                    if first is None:
                        first = time.perf_counter()
                    items.append(item)
            end = time.perf_counter() - t0
            if rec is not None and resp.body and "query_id" in resp.body:
                rec.groups.append(resp.body["query_id"])
        return resp, items, first, end

    def _catalog(self, phase: Phase, path: str, valid) -> None:
        resp, _, _, seconds = self._handle(phase, "catalog", "GET", path)
        if resp.status != 200 or not valid(resp.body):
            phase.fail("catalog", f"catalog {path}: {resp.status} {resp.body}")
        else:
            phase.add("catalog", seconds)

    def _cycle(self, cycle: Cycle, phase: Phase, keep: bool) -> None:
        t0 = time.perf_counter()
        failed0 = phase.failed
        self._catalog(
            phase,
            "/api/v1/catalog/namespaces",
            lambda b: [NAMESPACE] in b["namespaces"],
        )
        self._catalog(
            phase,
            f"/api/v1/catalog/namespaces/{NAMESPACE}/tables",
            lambda b: sorted(i["name"] for i in b["identifiers"])
            == sorted(CATALOG_TABLES),
        )
        for table in cycle.tables:
            ident = f"{NAMESPACE}.{table}"
            self._catalog(
                phase,
                f"/api/v1/catalog/tables/{ident}/schema",
                lambda b: len(b["columns"]) > 0,
            )
            self._catalog(
                phase,
                f"/api/v1/catalog/tables/{ident}",
                lambda b, t=table: b["name"] == t
                and (b["partition_columns"] == ["n_regionkey"])
                == (t == PARTITIONED_TABLE),
            )
        for query in cycle.queries:
            self._query(query, phase, keep)
        phase.add("pass", time.perf_counter() - t0 if phase.failed == failed0 else math.inf)

    def _query(self, query: Query, phase: Phase, keep: bool) -> None:
        t0 = time.perf_counter()
        resp, _, _, _ = self._handle(
            phase, "execute", "POST", "/api/v1/query/execute", body={"sql": query.sql}
        )
        if resp.status != 200 or resp.body.get("status") != "completed":
            phase.fail(f"latency.{query.template}", f"execute {resp.status} {resp.body}")
            return
        qid = resp.body["query_id"]
        columns: list[str] = []
        rows: list[list] = []
        total = None
        offset = 0
        while total is None or offset < total:
            resp, lines, first, seconds = self._handle(
                phase,
                "results",
                "GET",
                f"/api/v1/query/{qid}/results",
                params={"page_size": PAGE_SIZE, "offset": offset},
            )
            if offset == 0:
                if resp.status != 200 or first is None:
                    phase.fail(f"latency.{query.template}", f"results {resp.status} {resp.body}")
                    return
                phase.add(f"latency.{query.template}", first - t0)
            msgs = [json.loads(line) for line in lines]
            if not msgs or msgs[0]["type"] != "metadata" or msgs[-1]["type"] != "complete":
                phase.fail("page", f"results page {offset}: {lines[:1]} {lines[-1:]}")
                return
            columns = msgs[0]["columns"]
            total = msgs[0]["total_rows"]
            page_rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
            rows.extend(page_rows)
            if len(page_rows) == PAGE_SIZE:
                phase.add("page", seconds)
            offset += PAGE_SIZE
        resp, _, _, _ = self._handle(phase, "status", "GET", f"/api/v1/query/{qid}/status")
        if resp.status != 200 or resp.body["rows_processed"] != total:
            phase.fail(None, f"status {resp.status} {resp.body}")
        if query.export:
            resp, chunks, _, seconds = self._handle(
                phase,
                "export",
                "POST",
                "/api/v1/export/csv",
                body={"query_id": qid, "filename": "capped"},
            )
            lines = b"".join(chunks).count(b"\n")
            if resp.status != 200 or lines != total + 1:
                phase.fail("export", f"export {resp.status}: {lines} lines for {total} rows")
            else:
                phase.add("export", seconds)
        resp, _, _, _ = self._handle(phase, "cleanup", "DELETE", f"/api/v1/query/{qid}")
        if resp.status != 200:
            phase.fail(None, f"cleanup {resp.status} {resp.body}")
        if keep and len(rows) == total:
            self.served.append((query.sql, columns, rows))
        elif len(rows) != total:
            phase.fail(None, f"paged {len(rows)} of {total} rows")
