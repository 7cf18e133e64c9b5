"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
that mimics the driver's correctness gate (row count + schema +
order-insensitive value comparison)."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pytest

from iceberg_explorer_spark.session import build_session
from iceberg_explorer_spark.sources.registry import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # (r18 measured-and-rejected: shuffle.partitions=4 for the test
    # session, meant to cut streaming state-store tasks/commits per
    # microbatch — the streaming file measured 223 s at 8 partitions vs
    # 253 s at 4 on back-to-back runs, i.e. no win outside host noise;
    # the per-microbatch cost is commit-log/driver overhead, not state
    # task count.)
    s = build_session(app_name="iceberg_explorer_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canonical(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, stringify values, sort rows — order-insensitive
    canonical form. Floats are repr'd exactly: the engine contract is
    bit-identical doubles (see functions/deterministic.py), not 'close'."""
    cols = sorted(table.column_names)
    table = table.select(cols)
    pylist = table.to_pylist()

    def cell(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, list):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rows = sorted(tuple(cell(row[c]) for c in cols) for row in pylist)
    return cols, rows


def _schema_sig(table: pa.Table) -> list[tuple[str, str]]:
    def norm(t: pa.DataType) -> str:
        # Spark surfaces timestamps with tz=UTC, duckdb naive — both UTC wall
        # clock here (session tz pinned). Normalize for comparison.
        s = str(t)
        return s.replace(", tz=UTC", "")

    return sorted((name, norm(table.schema.field(name).type)) for name in table.column_names)


def assert_all_match_oracle(spark, con, named_specs, build):
    """Batch form of :func:`assert_matches_oracle` for the registry
    sweeps: the DuckDB side runs serially (a connection is not
    thread-safe), the Spark side's ``toArrow`` actions run concurrently
    (guide §2.6 — the sweeps' cost is the per-query job floor, not
    compute). The compared property per query is identical to the
    serial loop it replaces.

    ``named_specs`` is an iterable of (name, oracle_sql); ``build`` maps
    a name to the Spark DataFrame. A builder or action that raises is
    re-raised naming its query."""
    from concurrent.futures import ThreadPoolExecutor

    named_specs = list(named_specs)
    wants = {n: con.execute(sql).arrow() for n, sql in named_specs}
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {
            n: pool.submit(lambda n=n: build(n).toArrow()) for n, _ in named_specs
        }
        for name, _sql in named_specs:
            try:
                got = futures[name].result()
            except Exception as exc:
                raise AssertionError(f"{name}: {type(exc).__name__}: {exc}") from exc
            _assert_tables_match(got, wants[name], name)


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name=""):
    got = spark_df.toArrow()
    want = con.execute(sql).arrow()
    _assert_tables_match(got, want, name)


def _assert_tables_match(got: pa.Table, want: pa.Table, name=""):
    assert got.num_rows == want.num_rows, (
        f"{name}: row count {got.num_rows} != oracle {want.num_rows}"
    )
    gs, ws = _schema_sig(got), _schema_sig(want)
    assert gs == ws, f"{name}: schema mismatch\n spark={gs}\n duck ={ws}"
    gcols, grows = _canonical(got)
    wcols, wrows = _canonical(want)
    if grows != wrows:
        diff = [
            (a, b) for a, b in zip(grows, wrows) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")
