"""Catalog metadata surface + namespace codec + health — mirrors reference
tests/test_catalog.py (path parsing, schema flags) without a live REST
catalog (temp views + default catalog stand in)."""

import pytest

from iceberg_explorer_spark.catalog.metadata import (
    CatalogService,
    build_namespace_path,
    parse_namespace,
    quote_identifier,
)
from iceberg_explorer_spark.sources.registry import register_tables
from tests.conftest import SF_DIR


def test_namespace_codec():
    assert parse_namespace("a\x1fb\x1fc") == ["a", "b", "c"]
    assert parse_namespace("") == []
    assert build_namespace_path(["accounting", "tax"]) == "accounting\x1ftax"
    assert parse_namespace(build_namespace_path(["x"])) == ["x"]


def test_quote_identifier():
    assert quote_identifier("plain") == "`plain`"
    assert quote_identifier("we`ird") == "`we``ird`"


@pytest.fixture()
def service(spark):
    register_tables(spark, SF_DIR)
    return CatalogService(spark)


def test_list_namespaces(service):
    assert ["default"] in service.list_namespaces()


def test_list_tables_contains_views(service):
    tables = service.list_tables([])
    for t in ("lineitem", "orders", "documents"):
        assert t in tables


def test_table_details_sort_order_field(spark, tmp_path):
    """TableDetails carries sort_order — the reference's declared API shape
    (models/catalog.py:144-156), None when the table has none
    (api/routes/catalog.py:370 always answers None), populated when the
    provider reports sorted buckets."""
    from dataclasses import asdict

    svc = CatalogService(spark)
    plain = svc.table_details([], "lineitem")
    assert "sort_order" in asdict(plain)
    assert plain.sort_order is None

    spark.sql("CREATE DATABASE IF NOT EXISTS ies_sorttest")
    spark.sql("DROP TABLE IF EXISTS ies_sorttest.sorted_tbl")
    try:
        (
            spark.range(10)
            .selectExpr("id AS k", "id * 2 AS v")
            .write.bucketBy(4, "k")
            .sortBy("k")
            .mode("overwrite")
            .option("path", str(tmp_path / "sorted_tbl"))
            .saveAsTable("ies_sorttest.sorted_tbl")
        )
        details = svc.table_details(["ies_sorttest"], "sorted_tbl")
        assert details.sort_order is not None
        assert details.sort_order[0].column == "k"
        assert details.sort_order[0].direction == "asc"
    finally:
        spark.sql("DROP TABLE IF EXISTS ies_sorttest.sorted_tbl")
        spark.sql("DROP DATABASE IF EXISTS ies_sorttest")


def test_parse_sort_order_formats():
    from iceberg_explorer_spark.catalog.metadata import _parse_sort_order

    assert _parse_sort_order(None) is None
    assert _parse_sort_order("") is None
    assert _parse_sort_order("[]") is None
    # Spark bucketed-table rendering
    got = _parse_sort_order("[`k`, `v`]")
    assert [f.column for f in got] == ["k", "v"]
    assert all(f.direction == "asc" for f in got)
    # Iceberg WRITE ORDERED BY rendering
    got = _parse_sort_order("ts ASC NULLS FIRST, value DESC NULLS LAST")
    assert got[0].column == "ts" and got[0].direction == "asc"
    assert got[0].null_order == "nulls_first"
    assert got[1].column == "value" and got[1].direction == "desc"
    assert got[1].null_order == "nulls_last"
    # DESC without explicit nulls: engine default flips to nulls_last
    assert _parse_sort_order("x DESC")[0].null_order == "nulls_last"
    # Iceberg transforms: the comma inside bucket(4, col) is not a field
    # separator, the source column is the last argument, and the transform
    # is populated (parameters in brackets, Iceberg-style)
    got = _parse_sort_order("bucket(4, col) ASC NULLS LAST, other DESC")
    assert [f.column for f in got] == ["col", "other"]
    assert got[0].transform == "bucket[4]"
    assert got[0].direction == "asc" and got[0].null_order == "nulls_last"
    assert got[1].transform == "identity"
    got = _parse_sort_order("days(ts) DESC")
    assert got[0].column == "ts" and got[0].transform == "days"
    assert got[0].direction == "desc"
    got = _parse_sort_order("truncate(3, name) ASC")
    assert got[0].column == "name" and got[0].transform == "truncate[3]"
    # an unrecognizable expression poisons the WHOLE order — callers must
    # never see a half-parsed result
    assert _parse_sort_order("bucket(4, col) ASC, ???(x)") is None


def test_table_schema_types(service):
    schema = {f.name: f for f in service.table_schema([], "lineitem")}
    assert schema["l_orderkey"].type == "bigint"
    assert schema["l_quantity"].type == "double"
    assert schema["l_returnflag"].type == "string"
    # parquet naive timestamps surface as TIMESTAMP_NTZ in Spark 4 — the
    # wall-clock-faithful reading (matches what DuckDB sees in the same file)
    assert schema["l_shipdate"].type == "timestamp_ntz"


def test_column_stats_from_parquet_footers(service, oracle):
    stats = {
        s.column: s
        for s in service.column_stats([], "lineitem", path=f"{SF_DIR}/lineitem.parquet")
    }
    want_min, want_max = oracle.execute(
        "SELECT MIN(l_orderkey), MAX(l_orderkey) FROM lineitem"
    ).fetchone()
    assert stats["l_orderkey"].null_count == 0
    assert stats["l_orderkey"].min_value == want_min
    assert stats["l_orderkey"].max_value == want_max
    qmin, qmax = oracle.execute(
        "SELECT MIN(l_quantity), MAX(l_quantity) FROM lineitem"
    ).fetchone()
    assert stats["l_quantity"].min_value == qmin
    assert stats["l_quantity"].max_value == qmax


def test_column_stats_unresolvable_is_empty(service):
    # bare temp view: no storage location, no Iceberg catalog → []
    assert service.column_stats([], "lineitem") == []


def test_namespace_codec_round_trip_generative():
    """Hypothesis round-trip for the \\x1f path codec (API contract,
    reference api/routes/utils.py:9-24): any list of non-empty segments
    that don't contain the separator must survive build -> parse exactly,
    and parse must drop empty segments the way the reference's filter
    does."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    segment = st.text(min_size=1, max_size=20).filter(
        lambda s: "\x1f" not in s
    )

    @settings(max_examples=200, deadline=None)
    @given(parts=st.lists(segment, max_size=6))
    def run(parts):
        assert parse_namespace(build_namespace_path(parts)) == parts
        # empty segments vanish, exactly like the reference's
        # `if p` filter — doubled separators are tolerated, not errors
        padded = "\x1f\x1f".join(parts)
        assert parse_namespace(padded) == parts

    run()
