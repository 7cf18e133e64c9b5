"""Catalog/metadata surface (reference A10-A14, src/iceberg_explorer/catalog/
service.py and api/routes/catalog.py) — Spark-native, one client library.

The reference needs two clients (PyIceberg for metadata + DuckDB
information_schema for schemas, string-parsing partition specs out of
``iceberg_metadata()`` rows — api/routes/catalog.py:240-258). Spark exposes
all of it through one surface:

- namespaces/tables: ``SHOW NAMESPACES`` / ``spark.catalog.listTables``
- schema + partition flags: ``spark.table(...).schema`` + DESCRIBE
- snapshots/partitions/files: Iceberg metadata tables (``tbl.snapshots``,
  ``tbl.partitions``, ``tbl.files``) when an Iceberg catalog is configured
- column statistics: populated from ``tbl.files`` bounds — the field the
  reference models but always leaves empty (models/catalog.py:195-209)

Metadata calls are catalog-API-only (no Spark jobs) wherever possible, to
honor the sub-second metadata PRD target (BASELINE.md).

Multi-level namespaces use the reference's ``\\x1f`` codec
(api/routes/utils.py:9-52) — kept as API contract.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

from iceberg_explorer_spark.observability import observe_call
from iceberg_explorer_spark.session import iceberg_available

NS_SEPARATOR = "\x1f"  # reference api/routes/utils.py:9


def parse_namespace(path: str) -> list[str]:
    """'a\\x1fb' → ['a', 'b'] (reference api/routes/utils.py:12-24)."""
    if not path:
        return []
    return [p for p in path.split(NS_SEPARATOR) if p]


def build_namespace_path(parts: list[str]) -> str:
    return NS_SEPARATOR.join(parts)


def _parse_sort_order(raw: Optional[str]) -> Optional[list["SortFieldInfo"]]:
    """Parse DESCRIBE EXTENDED's sort-order rendering into SortFieldInfo.

    Two provider formats appear in the wild:
    * Iceberg ``WRITE ORDERED BY``: ``col ASC NULLS FIRST, other DESC``
    * Spark bucketed tables (``sortBy``): ``[`col1`, `col2`]``

    Returns None for empty/unparseable values — the reference's constant
    answer (api/routes/catalog.py:370) — so callers never see a half-parsed
    order.
    """
    if not raw:
        return None
    text = raw.strip()
    if not text or text == "[]":
        return None
    text = text.strip("[]")
    # Split on TOP-LEVEL commas only: a transform like ``bucket(4, col)``
    # carries a comma of its own, and a naive split would shear it into
    # bogus fields ('bucket(4' / 'col)').
    parts: list[str] = []
    depth, cur = 0, []
    for ch in text:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        cur.append(ch)
    parts.append("".join(cur))
    out: list[SortFieldInfo] = []
    for part in parts:
        tokens = part.replace("`", "").strip().split(None)
        if not tokens:
            continue
        # Re-join a spaced transform head (``bucket(4, col) ASC`` splits
        # into ['bucket(4,', 'col)', 'ASC'] on whitespace).
        expr = tokens[0]
        rest_start = 1
        while "(" in expr and ")" not in expr and rest_start < len(tokens):
            expr += " " + tokens[rest_start]
            rest_start += 1
        f = SortFieldInfo(column=expr)
        if "(" in expr:
            m = re.fullmatch(r"(\w+)\s*\(([^()]*)\)", expr)
            if m is None:
                # unrecognized expression — the docstring's promise is that
                # callers never see a half-parsed order
                return None
            args = [a.strip() for a in m.group(2).split(",") if a.strip()]
            if not args:
                return None
            # Iceberg convention: source column last, parameters first
            # (bucket(4, col), truncate(3, col)); bare days(col)/years(col)
            f.column = args[-1]
            f.transform = (
                f"{m.group(1)}[{', '.join(args[:-1])}]"
                if len(args) > 1
                else m.group(1)
            )
        rest = [t.upper() for t in tokens[rest_start:]]
        if "DESC" in rest:
            f.direction = "desc"
            f.null_order = "nulls_last"  # engine default flips with DESC
        if "NULLS" in rest:
            i = rest.index("NULLS")
            if i + 1 < len(rest):
                f.null_order = f"nulls_{rest[i + 1].lower()}"
        out.append(f)
    return out or None


def quote_identifier(name: str) -> str:
    """Backtick quoting for Spark SQL (the reference doubles ``\"`` for
    DuckDB — api/routes/utils.py:27-38; Spark uses backticks)."""
    return "`" + name.replace("`", "``") + "`"


@dataclass
class SchemaField:
    name: str
    type: str
    nullable: bool
    is_partition: bool = False


@dataclass
class SnapshotInfo:
    snapshot_id: int
    timestamp_ms: int
    operation: Optional[str] = None
    manifest_list: Optional[str] = None


@dataclass
class ColumnStats:
    """Per-column statistics (null count, bounds) — the structure the
    reference models but NEVER populates (models/catalog.py:195-209,
    api/routes/catalog.py:262 hardcodes {}). Here it is filled from file
    metadata: Iceberg ``tbl.files`` readable_metrics when a catalog is
    attached, parquet footers otherwise. Both are metadata-only reads — no
    Spark job, no data scan — so they hold the sub-second PRD target at any
    table size (footers are O(files), and Iceberg aggregates manifests)."""

    column: str
    null_count: Optional[int] = None
    min_value: Optional[object] = None
    max_value: Optional[object] = None


@dataclass
class SortFieldInfo:
    """One field of a table's declared sort order (reference:
    models/catalog.py:124-142 SortField — source column, transform,
    direction, null ordering)."""

    column: str
    transform: str = "identity"
    direction: str = "asc"
    null_order: str = "nulls_first"


@dataclass
class TableDetails:
    name: str
    namespace: list[str]
    location: Optional[str] = None
    format: str = "PARQUET"
    partition_columns: list[str] = field(default_factory=list)
    snapshots: list[SnapshotInfo] = field(default_factory=list)
    current_snapshot_id: Optional[int] = None
    #: declared sort order, or None when the table has none — the reference
    #: models SortOrder (models/catalog.py:144-156) but always surfaces None
    #: (api/routes/catalog.py:370); here it is parsed from DESCRIBE EXTENDED
    #: when the provider (e.g. Iceberg WRITE ORDERED BY) reports one.
    sort_order: Optional[list[SortFieldInfo]] = None


class CatalogService:
    """Metadata operations over the session catalog(s)."""

    def __init__(self, spark: SparkSession, catalog: Optional[str] = None) -> None:
        self.spark = spark
        self.catalog = catalog
        self._iceberg = catalog is not None and iceberg_available(spark)

    def _qualify(self, namespace: list[str], table: str | None = None) -> str:
        parts = ([self.catalog] if self.catalog else []) + list(namespace)
        if table:
            parts.append(table)
        return ".".join(quote_identifier(p) for p in parts)

    # -- A10 (reference catalog/service.py:108-129)
    def list_namespaces(self, parent: Optional[list[str]] = None) -> list[list[str]]:
        with observe_call("catalog.list_namespaces"):
            target = self._qualify(parent) if parent else (self.catalog or "")
            sql = f"SHOW NAMESPACES IN {target}" if target else "SHOW NAMESPACES"
            try:
                rows = self.spark.sql(sql).collect()
            except Exception:
                return []
            out = []
            for r in rows:
                ns = r[0]
                out.append((parent or []) + [ns.split(".")[-1]])
            return sorted(out)

    # -- A11 (reference catalog/service.py:131-146)
    def list_tables(self, namespace: list[str]) -> list[str]:
        with observe_call("catalog.list_tables"):
            sql = f"SHOW TABLES IN {self._qualify(namespace)}" if namespace else "SHOW TABLES"
            rows = self.spark.sql(sql).collect()
            return sorted(r["tableName"] for r in rows if not r["isTemporary"] or not namespace)

    # -- A13 (reference api/routes/catalog.py:184-288)
    def table_schema(self, namespace: list[str], table: str) -> list[SchemaField]:
        ident = self._qualify(namespace, table) if namespace else quote_identifier(table)
        df = self.spark.table(ident)
        partition_cols = self._partition_columns(ident)
        return [
            SchemaField(
                name=f.name,
                type=f.dataType.simpleString(),
                nullable=f.nullable,
                is_partition=f.name in partition_cols,
            )
            for f in df.schema.fields
        ]

    def _partition_columns(self, ident: str) -> set[str]:
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE {ident}").collect()
        except Exception:
            return set()
        cols: set[str] = set()
        in_partition_section = False
        for r in rows:
            col = (r["col_name"] or "").strip()
            if col.startswith("# Partition"):
                in_partition_section = True
                continue
            if col.startswith("#") or not col:
                continue
            if in_partition_section:
                cols.add(col)
        return cols

    # -- A12 (reference catalog/service.py:148-202)
    def table_details(self, namespace: list[str], table: str) -> TableDetails:
        with observe_call("catalog.table_details", table=table):
            return self._table_details(namespace, table)

    def _table_details(self, namespace: list[str], table: str) -> TableDetails:
        ident = self._qualify(namespace, table)
        details = TableDetails(name=table, namespace=list(namespace))
        try:
            for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect():
                key = (r["col_name"] or "").strip()
                if key == "Location":
                    details.location = r["data_type"]
                elif key == "Provider":
                    details.format = (r["data_type"] or "").upper() or details.format
                elif key in ("Sort Order", "Sort Columns"):
                    details.sort_order = _parse_sort_order(r["data_type"])
        except Exception:
            pass
        details.partition_columns = sorted(self._partition_columns(ident))
        if self._iceberg:
            details.snapshots = self.snapshots(namespace, table)
            if details.snapshots:
                details.current_snapshot_id = details.snapshots[-1].snapshot_id
        return details

    def snapshots(self, namespace: list[str], table: str) -> list[SnapshotInfo]:
        """Iceberg snapshot history via the metadata table (replaces the
        reference's iceberg_snapshots() + string parsing, api/routes/ui.py:
        249-271). Empty for non-Iceberg tables."""
        if not self._iceberg:
            return []
        ident = self._qualify(namespace, table)
        try:
            rows = self.spark.sql(
                f"SELECT snapshot_id, committed_at, operation FROM {ident}.snapshots "
                "ORDER BY committed_at"
            ).collect()
        except Exception:
            return []
        return [
            SnapshotInfo(
                snapshot_id=r["snapshot_id"],
                timestamp_ms=int(r["committed_at"].timestamp() * 1000),
                operation=r["operation"],
            )
            for r in rows
        ]

    def column_stats(
        self,
        namespace: list[str],
        table: str,
        path: Optional[str] = None,
    ) -> list[ColumnStats]:
        """Column statistics from file metadata (fixes the reference's empty
        ``column_stats`` — api/routes/catalog.py:262).

        Resolution order: explicit ``path`` → Iceberg ``.files`` metadata
        table (readable_metrics) → the table's parquet location from
        DESCRIBE EXTENDED. Returns [] when no metadata source is available
        (e.g. a bare temp view with no resolvable storage)."""
        if path is None and self._iceberg:
            stats = self._iceberg_column_stats(namespace, table)
            if stats:
                return stats
        loc = path
        if loc is None:
            loc = self.table_details(namespace, table).location
        if not loc:
            return []
        return self._parquet_footer_stats(loc.removeprefix("file:"))

    def _iceberg_column_stats(
        self, namespace: list[str], table: str
    ) -> list[ColumnStats]:
        ident = self._qualify(namespace, table)
        try:
            cols = [
                f.name
                for f in self.spark.table(ident).schema.fields
            ]
            exprs = ", ".join(
                f"SUM(readable_metrics.{quote_identifier(c)}.null_value_count) AS n_{i},"
                f" MIN(readable_metrics.{quote_identifier(c)}.lower_bound) AS lo_{i},"
                f" MAX(readable_metrics.{quote_identifier(c)}.upper_bound) AS hi_{i}"
                for i, c in enumerate(cols)
            )
            row = self.spark.sql(f"SELECT {exprs} FROM {ident}.files").collect()[0]
        except Exception:
            return []
        return [
            ColumnStats(
                column=c,
                null_count=row[f"n_{i}"],
                min_value=row[f"lo_{i}"],
                max_value=row[f"hi_{i}"],
            )
            for i, c in enumerate(cols)
        ]

    @staticmethod
    def _parquet_footer_stats(location: str) -> list[ColumnStats]:
        """Merge row-group statistics across all parquet footers under
        ``location`` (file or directory). Pure metadata I/O."""
        import pyarrow.dataset as ds

        try:
            dataset = ds.dataset(location, format="parquet")
        except Exception:
            return []
        merged: dict[str, ColumnStats] = {}
        order: list[str] = []
        for frag in dataset.get_fragments():
            md = frag.metadata
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if name not in merged:
                        merged[name] = ColumnStats(column=name)
                        order.append(name)
                    cs, s = merged[name], col.statistics
                    if s is None:
                        continue
                    if s.has_null_count:
                        cs.null_count = (cs.null_count or 0) + s.null_count
                    if s.has_min_max:
                        cs.min_value = (
                            s.min if cs.min_value is None
                            else min(cs.min_value, s.min)
                        )
                        cs.max_value = (
                            s.max if cs.max_value is None
                            else max(cs.max_value, s.max)
                        )
        return [merged[n] for n in order]

