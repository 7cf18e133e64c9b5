"""Benchmark of the explorer service path and the operator library.

    python3 perfbench/run.py --workload explorer_session --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

* ``explorer_session``: one analyst in a closed loop through
  ``ExplorerApp.handle`` on the sf0.1 corpus (see explorer.py).
* ``operators_one_corpus``: passes of the operator list, builder → noop
  sink, on the sf0.01 corpus with shared artifacts built at set-up (see
  batch.py).

Run from the repository root. The process pins its environment: a fixed
``PYTHONHASHSEED`` (it re-executes itself to set it), the repository on
``PYTHONPATH`` for Spark's Python workers, ``local[nproc]``, and a fresh
warehouse, local and temp directory under ``.perfbench/`` that is removed
at exit, and a fixed 1 GB JVM heap so peak RSS does not follow the heap's
adaptive growth. The seed drives every request and operator order; the
program sees only the generated inputs. The timed phase runs as many whole
units (explorer cycles, operator passes) as take ``--seconds`` at their
nominal length on a 4-core host. Outputs are checked against DuckDB once per
run, outside the timed phase.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the timed phase runs twice as many units, untraced and traced
alternating, and the last line carries the per-layer metrics of layers.py
plus the tracing overhead. The line before it is a detail record: host load and CPU probes
around the timed phase, the set-up breakdown, the warm-up rule and count,
each latency series as median and tail with its percentile and sample
count, and, when traced, which end-to-end metric each layer should move.

Exits non-zero without a result when the package, its dependencies or the
corpus are missing.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HASH_SEED = "0"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _reexec_pinned() -> None:
    """Re-execute with a fixed hash seed and the repository importable by
    this process and by Spark's Python workers."""
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if os.environ.get("PYTHONHASHSEED") == HASH_SEED and root in paths:
        return
    env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
    env["PYTHONPATH"] = os.pathsep.join([root, *[p for p in paths if p != root]])
    env["PYSPARK_PYTHON"] = sys.executable
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]], env)


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metric(value: float | None, unit: str) -> dict:
    from measure import finite_or_none

    return {"value": finite_or_none(value), "unit": unit}


def main(argv: list[str]) -> int:
    args = _parse(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import iceberg_explorer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    from harness import WORK_DIR, Harness, corpus_root, host_cpus
    from workloads import WORKLOADS, run_workload

    try:
        corpus = corpus_root()
    except ImportError as exc:
        print(f"perfbench: cannot locate the corpus: {exc}", file=sys.stderr)
        return 2
    workload_cls = WORKLOADS[args.workload]
    data_dir = os.path.join(corpus, workload_cls.scale)
    if not os.path.isdir(data_dir):
        print(f"perfbench: corpus directory {data_dir} is missing", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    harness = Harness(run_dir, host_cpus())
    try:
        report = run_workload(
            workload_cls, harness, corpus, args.seed, args.seconds, bool(args.trace), START
        )
    finally:
        harness.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        from layers import PER_LAYER

        units = {name: unit for name, unit, _, _ in PER_LAYER}
        metrics = {k: _metric(report["per_layer"][k], units[k]) for k in units}
    else:
        metrics = {k: _metric(report["end_to_end"][k], u) for k, u in E2E_UNITS.items()}
    print(json.dumps(report["detail"], default=str))
    print(
        json.dumps(
            {
                "correct": report["correct"],
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    _reexec_pinned()
    sys.exit(main(sys.argv[1:]))
