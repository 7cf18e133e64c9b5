"""Seeded inputs: the explorer session's request stream and the operator order.

Everything the program sees is generated here from the workload seed, so the
same seed gives the same requests and the same operator order, and another
seed changes them. The ``stream`` tag separates the warm-up inputs from the
timed ones drawn from the same seed.
"""

from __future__ import annotations

import datetime as dt
import random
from collections.abc import Iterator
from dataclasses import dataclass

#: namespace the explorer session browses: the TPC-H tables plus one
#: partitioned table written at set-up
NAMESPACE = "analytics"
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
PARTITIONED_TABLE = "nation_by_region"
CATALOG_TABLES = (*TPCH_TABLES, PARTITIONED_TABLE)
#: tables whose schema and details one browse step reads
TABLES_PER_BROWSE = 3

#: one of each per cycle, in seeded order; the filtered scan hits the
#: executor's 10,000-row cap and is the result exported as CSV
TEMPLATES = ("aggregate", "join4", "window_rank", "filtered_scan")
EXPORT_TEMPLATE = "filtered_scan"

#: the batch user's operator list: every family, including the four
#: builder-bound queries (pipeline_clean_corpus_v3 and the three
#: dedup_incremental_* queries)
OPERATORS = (
    "pricing_summary",
    "join_revenue_by_nation",
    "window_top_orders_per_customer",
    "events_session_window",
    "multimodal_decode_features",
    "text_heldout_perplexity",
    "dedup_clusters",
    "dedup_semantic_clusters",
    "pipeline_clean_corpus_v3",
    "dedup_incremental_near",
    "dedup_incremental_two_day_near",
    "dedup_incremental_semantic",
)
BUILDER_BOUND = (
    "pipeline_clean_corpus_v3",
    "dedup_incremental_near",
    "dedup_incremental_two_day_near",
    "dedup_incremental_semantic",
)

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class Query:
    template: str
    sql: str

    @property
    def export(self) -> bool:
        return self.template == EXPORT_TEMPLATE


@dataclass(frozen=True)
class Cycle:
    """One analyst session step: browse the catalog, run one query of each
    template, export the capped result."""

    tables: tuple[str, ...]
    queries: tuple[Query, ...]


def _ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def render(template: str, rng: random.Random) -> str:
    """SQL for one template with seeded parameters. Every ORDER BY is total,
    so the first 10,000 rows of a capped result are determined."""
    ns = NAMESPACE
    if template == "aggregate":
        cutoff = dt.date(2000, 1, 1) + dt.timedelta(days=rng.randint(0, 640))
        return (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order, "
            "SUM(l_quantity) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
            "ROUND(AVG(l_discount), 6) AS avg_disc "
            f"FROM {ns}.lineitem WHERE l_shipdate <= {_ts(cutoff)} "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"
        )
    if template == "join4":
        year = rng.randint(1995, 2000)
        return (
            "SELECT n.n_name, COUNT(*) AS n_lines, "
            "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
            f"FROM {ns}.customer c "
            f"JOIN {ns}.orders o ON o.o_custkey = c.c_custkey "
            f"JOIN {ns}.lineitem l ON l.l_orderkey = o.o_orderkey "
            f"JOIN {ns}.nation n ON n.n_nationkey = c.c_nationkey "
            f"WHERE o.o_orderdate >= {_ts(dt.date(year, 1, 1))} "
            f"AND o.o_orderdate < {_ts(dt.date(year + 1, 1, 1))} "
            "GROUP BY n.n_name ORDER BY n.n_name"
        )
    if template == "window_rank":
        year = rng.randint(1995, 1999)
        priority = rng.choice(_PRIORITIES)
        return (
            "SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, RANK() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey"
            f") AS rnk FROM {ns}.orders WHERE o_orderpriority = '{priority}' "
            f"AND o_orderdate >= {_ts(dt.date(year, 1, 1))} "
            f"AND o_orderdate < {_ts(dt.date(year + 2, 1, 1))}"
            ") ranked WHERE rnk <= 1 ORDER BY o_custkey, rnk"
        )
    if template == "filtered_scan":
        flag = rng.choice("ANR")
        min_qty = rng.randint(10, 30)
        return (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice, CAST(l_shipdate AS DATE) AS ship_day "
            f"FROM {ns}.lineitem WHERE l_returnflag = '{flag}' "
            f"AND l_quantity >= {min_qty} "
            "ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice, ship_day"
        )
    raise ValueError(f"unknown template {template!r}")


def explorer_cycles(seed: int, stream: str) -> Iterator[Cycle]:
    """Endless seeded sequence of session cycles."""
    rng = random.Random(f"explorer:{stream}:{seed}")
    while True:
        tables = tuple(rng.sample(CATALOG_TABLES, TABLES_PER_BROWSE))
        order = list(TEMPLATES)
        rng.shuffle(order)
        yield Cycle(tables, tuple(Query(t, render(t, rng)) for t in order))


def operator_passes(seed: int, stream: str) -> Iterator[tuple[str, ...]]:
    """Endless seeded sequence of passes, each the operator list reshuffled."""
    rng = random.Random(f"operators:{stream}:{seed}")
    while True:
        order = list(OPERATORS)
        rng.shuffle(order)
        yield tuple(order)
