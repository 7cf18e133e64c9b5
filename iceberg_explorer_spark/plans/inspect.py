"""Physical-plan inspection: the guardrails that keep plans scale-shaped.

The reference delegates all planning to DuckDB and never inspects a plan
(reference: src/iceberg_explorer/query/executor.py:254 — results only). On
Spark the plan IS the scale story: a filter that doesn't reach the parquet
scan, a dimension join that shuffles instead of broadcasting, or an
aggregate without a map-side partial each turn into cluster-sized
regressions at 100 TB while staying invisible at test scale. These helpers
parse ``df.explain``-level plan text so tests can pin the properties we
designed for:

- ``pushed_filters``      — predicate pushdown reached the scan
- ``scan_columns``        — column pruning reached the scan (ReadSchema)
- ``broadcast_join_count``/``shuffle_count`` — join strategy + shuffle budget
- ``has_partial_aggregate`` — map-side combine before the exchange
- ``whole_stage_codegen_spans`` — the hot path stays JVM-side

They read the *final* plan (AQE applied where possible) and are string-level
on purpose: plan node names are Spark's stable public explain vocabulary,
and tests that assert on them survive refactors that keep the plan shape
while failing loudly when a change quietly de-optimizes it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Final physical plan text (post-AQE where the plan was adaptive)."""
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)", physical_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_columns(df: DataFrame, table_path_fragment: str) -> set[str]:
    """Column names the scan of ``table_path_fragment`` actually reads.

    Matches the FileScan whose Location contains the fragment and parses its
    bracketed output column list — the ground truth for column pruning.
    """
    plan = physical_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        if table_path_fragment in m.group(0):
            for c in m.group(1).split(","):
                name = c.strip().split("#")[0]
                if name:
                    cols.add(name)
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin",
                          physical_plan(df)))


def broadcast_hint_count(df: DataFrame) -> int:
    """Compile-time ``broadcast()`` hints surviving into the optimized plan.

    An unconditional hint FORCES a broadcast however large the frame grows —
    the 100 TB failure mode VERDICT r5 flagged on the candidate-pair joins
    (past Spark's 8 GB broadcast hard limit the job dies). Zero hints means
    the broadcast-vs-shuffle choice is size-gated: the planner/AQE picks
    broadcast from measured stats when the side is genuinely small and falls
    back to a shuffled join when it isn't. Hints are legitimate only on
    frames with a scale-independent bound (1-row aggregates, O(k) centroid
    or O(sources) grids) — pins assert an exact expected count, not zero,
    where such frames exist.
    """
    return len(re.findall(r"strategy=broadcast",
                          df._jdf.queryExecution().optimizedPlan().toString()))


def sort_merge_join_count(df: DataFrame) -> int:
    return len(re.findall(r"SortMergeJoin", physical_plan(df)))


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators — the plan's shuffle budget.

    Broadcast exchanges are excluded: they move only the small side and are
    the *alternative* to a shuffle, not an instance of one.
    """
    plan = physical_plan(df)
    total = len(re.findall(r"Exchange ", plan))
    broadcast = len(re.findall(r"BroadcastExchange", plan))
    return total - broadcast


def key_shuffle_count(df: DataFrame) -> int:
    """Shuffles that move data BY KEY (hash/range partitioning).

    Like ``shuffle_count`` but also excludes ``RoundRobinPartitioning``
    exchanges — the small-file parallelism guard
    (``sources.registry.repartition_for_compute``) inserts one before
    CPU-heavy map stages at test scale, where it spreads a single-split scan
    across cores and vanishes at real scale. Key shuffles are the semantic
    data movement a plan's scale story is judged on; the round-robin spread
    is deliberately not counted against the budget.
    """
    plan = physical_plan(df)
    return shuffle_count(df) - len(
        re.findall(r"Exchange RoundRobinPartitioning", plan)
    )


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan combines map-side (partial_*) before any exchange."""
    return bool(re.search(r"partial_\w+", physical_plan(df)))


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Count of WholeStageCodegen regions (``*(n)`` markers) in the plan."""
    ids = set(re.findall(r"\*\((\d+)\)", physical_plan(df)))
    return len(ids)


def scan_output_rows(df: DataFrame) -> int | None:
    """Rows actually produced by the executed plan's scans (post-pushdown).

    Walks the executed physical plan over py4j, unwrapping AQE and query-
    stage wrappers, and sums each scan node's ``numOutputRows`` SQLMetric.
    Only meaningful AFTER an action has run the plan. Returns None when no
    scan metric exists (e.g. metadata-only plans).

    This is the ``rows_scanned`` the reference models but never populates
    (reference: src/iceberg_explorer/query/models.py:37, SURVEY §2A gap
    list) — and because the metric is post-pushdown, rows_scanned <<
    table rows is direct evidence that predicate pushdown worked.
    """
    total = 0
    found = False

    def walk(node) -> None:
        nonlocal total, found
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        if name.startswith("Scan"):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
                    found = True
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total if found else None
