"""Where the traced run hooks into the package, and the per-layer metrics it
reports.

``PER_LAYER`` is the one list of per-layer metrics: name, unit, the
end-to-end metric each should move, and the workloads on which the
prediction is no change. A metric that does not apply to a workload (a
catalog call on the operator workload) reads 0 there.
"""

from __future__ import annotations

import statistics

from explorer import PAGE_SIZE
from measure import Phase, median, tail
from streams import BUILDER_BOUND
from tracer import Tracer, self_times

EXPLORER = "explorer_session"
OPERATORS = "operators_one_corpus"

#: (name, unit, should move, predicted flat on)
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("app.dispatch_s", "s", f"latency_s on {EXPLORER}", OPERATORS),
    ("gate.validate_s", "s", f"latency_s on {EXPLORER} (about 1 % of it)", OPERATORS),
    ("executor.execute_s", "s", f"latency_s on {EXPLORER}", OPERATORS),
    ("executor.retained_results", "count", f"peak_rss_mb on {EXPLORER}", OPERATORS),
    ("executor.retained_mb", "MB", f"peak_rss_mb on {EXPLORER}", OPERATORS),
    ("catalyst.plan_s", "s", "latency_s on both workloads", "-"),
    ("spark.exec_s", "s", f"latency_s on {EXPLORER}; pass_s on {OPERATORS}", "-"),
    ("spark.jobs_per_op", "count", "latency_s and cpu_s_per_op on both", "-"),
    ("spark.tasks_per_op", "count", "cpu_s_per_op on both", "-"),
    (
        "spark.jobs_outside_group",
        "count",
        "no latency: counts jobs a timeout or cancel cannot reach",
        EXPLORER,
    ),
    ("plans.scan_metrics_s", "s", f"latency_s on {EXPLORER}", OPERATORS),
    ("stream.first_line_s", "s", f"latency_s on {EXPLORER}", OPERATORS),
    ("stream.page_s", "s", f"pass_s on {EXPLORER} (client.page_s)", OPERATORS),
    ("stream.rows_per_s", "rows/s", f"pass_s on {EXPLORER} (client.page_s)", OPERATORS),
    ("export.csv_s", "s", f"pass_s on {EXPLORER} (client.export_s)", OPERATORS),
    ("export.mb_per_s", "MB/s", f"pass_s on {EXPLORER} (client.export_s)", OPERATORS),
    ("catalog.list_namespaces_s", "s", f"pass_s on {EXPLORER} (client.catalog_s)", OPERATORS),
    ("catalog.list_tables_s", "s", f"pass_s on {EXPLORER} (client.catalog_s)", OPERATORS),
    ("catalog.table_schema_s", "s", f"pass_s on {EXPLORER} (client.catalog_s)", OPERATORS),
    ("catalog.table_details_s", "s", f"pass_s on {EXPLORER} (client.catalog_s)", OPERATORS),
    ("catalog.jobs", "count", f"pass_s on {EXPLORER} (client.catalog_s)", OPERATORS),
    ("operators.build_s", "s", f"pass_s and latency_s on {OPERATORS}", EXPLORER),
    ("operators.build_jobs", "count", f"pass_s and latency_s on {OPERATORS}", EXPLORER),
    *[
        (f"operators.build_s.{q}", "s", f"pass_s and latency_s on {OPERATORS}", EXPLORER)
        for q in BUILDER_BOUND
    ],
    ("artifacts.hits", "count", f"setup_s on {OPERATORS}", f"{OPERATORS} (ratio 1), {EXPLORER}"),
    ("artifacts.misses", "count", f"setup_s on {OPERATORS}", f"{OPERATORS} (0), {EXPLORER}"),
    ("artifacts.hit_ratio", "ratio", f"setup_s on {OPERATORS}", f"{OPERATORS} (1), {EXPLORER}"),
    ("artifacts.build_s", "s", f"setup_s on {OPERATORS}", f"{OPERATORS} timed phase, {EXPLORER}"),
    ("sources.load_s", "s", f"pass_s on {OPERATORS}", EXPLORER),
    ("sources.checkpoint_s", "s", f"pass_s on {OPERATORS}", EXPLORER),
    ("observability.spans_held", "count", f"peak_rss_mb on {EXPLORER}", "-"),
    ("setup.session_s", "s", "setup_s on both", "-"),
    ("setup.tables_s", "s", f"setup_s on {EXPLORER}", OPERATORS),
    ("setup.artifacts_s", "s", f"setup_s on {OPERATORS}", EXPLORER),
    ("trace.overhead_s", "s", "traced latency_s minus untraced latency_s", "-"),
    ("trace.overhead_ratio", "ratio", "trace.overhead_s over untraced latency_s", "-"),
    ("client.latency_tail_s", "s", "tail of the pooled op latencies (untraced)", "-"),
    ("client.page_s", "s", "one 1000-row page drained by the client (untraced)", OPERATORS),
    ("client.export_s", "s", "CSV export request to last byte (untraced)", OPERATORS),
    ("client.catalog_s", "s", "one catalog request (untraced)", OPERATORS),
    ("client.catalog_tail_s", "s", "tail of client.catalog_s (untraced)", OPERATORS),
]


def install(tracer: Tracer, spark) -> None:
    """Wrap the package's public functions at each layer boundary."""
    import sys

    import iceberg_explorer_spark.operators  # noqa: F401  loads every family
    import iceberg_explorer_spark.plans.inspect as inspect_mod
    import iceberg_explorer_spark.service.app as app_mod
    from iceberg_explorer_spark.catalog.metadata import CatalogService
    from iceberg_explorer_spark.gate import validate_sql
    from iceberg_explorer_spark.lifecycle.executor import QueryExecutor
    from iceberg_explorer_spark.sources import registry

    tracer.patch_method(app_mod.ExplorerApp, "handle", "app.handle")
    tracer.patch_function(validate_sql, "gate.validate")
    tracer.patch_method(QueryExecutor, "execute", "executor.execute")
    tracer.patch_function(inspect_mod.scan_output_rows, "plans.scan_output_rows")
    tracer.patch_function(app_mod.stream_results, "stream.results", stream=True)
    tracer.patch_function(app_mod.stream_csv, "export.csv", stream=True)
    for method in ("list_namespaces", "list_tables", "table_schema", "table_details"):
        tracer.patch_method(CatalogService, method, f"catalog.{method}", count_jobs=True)
    tracer.patch_function(registry.load_table, "sources.load_table")
    tracer.patch_function(
        registry.eager_checkpoints, "sources.eager_checkpoints", count_jobs=True
    )
    shared = {
        fn
        for name, mod in list(sys.modules.items())
        if name.startswith("iceberg_explorer_spark.operators.")
        for attr, fn in vars(mod).items()
        if attr.startswith("shared_") and callable(fn) and fn.__module__ == name
    }
    for fn in sorted(shared, key=lambda f: f.__qualname__):
        tracer.patch_function(fn, f"artifacts.{fn.__name__}", count_jobs=True)
    # parse + analysis of a SQL statement, then optimization + planning of
    # the capped plan the executor collects
    tracer.patch_planned(type(spark), "sql", "spark.sql", of_result=True)
    tracer.patch_planned(type(spark.range(1)), "toArrow", "spark.to_arrow", of_result=False)


def _sum(values) -> float:
    return float(sum(values))


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def metrics(
    workload: str,
    tracer: Tracer,
    untraced: Phase,
    traced: Phase,
    setup: dict,
) -> dict[str, float]:
    """Every per-layer metric, from the traced phase's spans and counts."""
    from iceberg_explorer_spark.observability import get_observer

    selfs = self_times(tracer.spans)

    def self_median(name: str) -> float:
        return median_or_zero([selfs[s.id] for s in tracer.by_name(name)])

    ops = tracer.ops
    n_ops = max(1, len(ops))
    out: dict[str, float] = {}
    out["app.dispatch_s"] = self_median("app.handle")
    out["gate.validate_s"] = self_median("gate.validate")
    out["executor.execute_s"] = self_median("executor.execute")
    recorder = get_observer().recorder
    out["executor.retained_results"] = float(recorder.retained_results)
    out["executor.retained_mb"] = recorder.retained_result_bytes / 1e6

    to_arrow = tracer.by_name("spark.to_arrow")
    if workload == EXPLORER:
        planned_ops = {r.id for r in ops if r.kind == "execute"}
        names = ("spark.sql", "spark.to_arrow")
    else:
        planned_ops = {r.id for r in ops}
        names = ("catalyst.plan",)
    plan_by_op: dict[int, float] = {}
    for s in tracer.spans:
        if s.name in names and s.op in planned_ops:
            plan_by_op[s.op] = plan_by_op.get(s.op, 0.0) + s.attrs["plan_s"]
    out["catalyst.plan_s"] = median_or_zero(list(plan_by_op.values()))
    if workload == EXPLORER:
        execs = [s.duration - s.attrs["plan_s"] for s in to_arrow]
    else:
        execs = [s.duration for s in tracer.by_name("spark.exec")]
    out["spark.exec_s"] = median_or_zero(execs)
    out["spark.jobs_per_op"] = _sum(r.jobs for r in ops) / n_ops
    out["spark.tasks_per_op"] = _sum(r.tasks for r in ops) / n_ops
    out["spark.jobs_outside_group"] = _sum(r.outside_group for r in ops) / n_ops
    out["plans.scan_metrics_s"] = self_median("plans.scan_output_rows")

    results = [r for r in tracer.streams if r.name == "stream.results"]
    out["stream.first_line_s"] = median_or_zero(
        [r.first_s for r in results if r.first_s is not None]
    )
    out["stream.page_s"] = median_or_zero([r.busy_s for r in results if r.rows == PAGE_SIZE])
    busy = _sum(r.busy_s for r in results)
    out["stream.rows_per_s"] = _sum(r.rows for r in results) / busy if busy else 0.0
    exports = [r for r in tracer.streams if r.name == "export.csv"]
    out["export.csv_s"] = median_or_zero([r.busy_s for r in exports])
    busy = _sum(r.busy_s for r in exports)
    out["export.mb_per_s"] = _sum(r.bytes for r in exports) / 1e6 / busy if busy else 0.0

    catalog_jobs = []
    for method in ("list_namespaces", "list_tables", "table_schema", "table_details"):
        spans = tracer.by_name(f"catalog.{method}")
        out[f"catalog.{method}_s"] = median_or_zero([s.duration for s in spans])
        catalog_jobs.extend(s.attrs["jobs"] for s in spans)
    out["catalog.jobs"] = statistics.fmean(catalog_jobs) if catalog_jobs else 0.0

    builds = tracer.by_name("operators.build")
    out["operators.build_s"] = median_or_zero([s.duration for s in builds])
    out["operators.build_jobs"] = (
        statistics.fmean(s.attrs["jobs"] for s in builds) if builds else 0.0
    )
    for q in BUILDER_BOUND:
        out[f"operators.build_s.{q}"] = median_or_zero(
            [s.duration for s in builds if s.attrs["query"] == q]
        )

    shared = [s for s in tracer.spans if s.name.startswith("artifacts.")]
    hits = [s for s in shared if s.attrs["jobs"] == 0]
    misses = [s for s in shared if s.attrs["jobs"] > 0]
    out["artifacts.hits"] = float(len(hits))
    out["artifacts.misses"] = float(len(misses))
    out["artifacts.hit_ratio"] = len(hits) / len(shared) if shared else 0.0
    out["artifacts.build_s"] = _sum(s.duration for s in misses)
    out["sources.load_s"] = _sum(s.duration for s in tracer.by_name("sources.load_table")) / n_ops
    out["sources.checkpoint_s"] = (
        _sum(s.duration for s in tracer.by_name("sources.eager_checkpoints")) / n_ops
    )
    out["observability.spans_held"] = float(len(recorder.spans))

    out["setup.session_s"] = setup["session_s"]
    out["setup.tables_s"] = setup["tables_s"]
    out["setup.artifacts_s"] = setup["artifacts_s"]

    base = untraced.typical_latency() or 0.0
    with_trace = traced.typical_latency() or 0.0
    out["trace.overhead_s"] = with_trace - base
    out["trace.overhead_ratio"] = (with_trace - base) / base if base else 0.0

    lat_tail = tail(untraced.latencies())
    out["client.latency_tail_s"] = lat_tail["value"] if lat_tail else 0.0
    out["client.page_s"] = median(untraced.series("page")) or 0.0
    out["client.export_s"] = median(untraced.series("export")) or 0.0
    out["client.catalog_s"] = median(untraced.series("catalog")) or 0.0
    cat_tail = tail(untraced.series("catalog"))
    out["client.catalog_tail_s"] = cat_tail["value"] if cat_tail else 0.0
    return out
