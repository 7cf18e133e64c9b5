"""The workload table and the run sequence every workload follows:

set-up → warm-up (the operators' is their checking pass) → CPU probe →
timed phase (alternating untraced and traced units when traced) → CPU probe
→ check (the explorer's served results).
"""

from __future__ import annotations

import math
import os
import time

import layers
from batch import OperatorsOneCorpus
from checks import Oracle
from explorer import ExplorerSession
from harness import WORK_DIR
from measure import Phase, cpu_probe, median, summary
from tracer import Tracer

WORKLOADS = {cls.name: cls for cls in (ExplorerSession, OperatorsOneCorpus)}


def _series(phase: Phase) -> dict:
    out = {name: summary(values) for name, values in sorted(phase.samples.items())}
    out["latency"] = summary(phase.latencies())
    return out


def unit_count(workload, seconds: float) -> int:
    """Units a timed phase runs: as many as take ``seconds`` at the unit's
    nominal length, at least ``workload.min_units``. A fixed count rather
    than a deadline, so every run reads the same number of samples and the
    per-op CPU figure is not divided by a load-dependent op count."""
    return max(workload.min_units, math.ceil(seconds / workload.unit_s))


def timed(workload, harness, seconds: float, stream: str, tracer=None) -> list[Phase]:
    """``unit_count`` whole units (cycles or passes) of ``stream``. With a
    tracer, twice as many, untraced and traced alternating in the order
    U T T U so a steady warm-up drift falls on both alike; the second phase
    returned is the traced one."""
    phases = [Phase(), Phase()] if tracer is not None else [Phase()]
    units = workload.units(stream)
    cpu0 = harness.probe.cpu_s()
    for n in range(unit_count(workload, seconds) * len(phases)):
        phase = phases[(0, 1, 1, 0)[n % 4] if tracer is not None else 0]
        if tracer is not None:
            tracer.active = phase is phases[1]
        t = time.perf_counter()
        try:
            workload.run_unit(next(units), phase)
        finally:
            if tracer is not None:
                tracer.active = False
        phase.wall_s += time.perf_counter() - t
    cpu = harness.probe.cpu_s() - cpu0
    parts = harness.probe.peak_rss_parts()
    for phase in phases:  # shared by both phases when they alternate
        phase.cpu_s, phase.peak_rss_mb, phase.rss_parts = cpu, sum(parts.values()), parts
    return phases


def run_workload(
    cls, harness, corpus: str, seed: int, seconds: float, trace: bool, start: float
) -> dict:
    """One run: returns the detail record, the op counts and either metric
    set. ``start`` is the process start clock reading that ``setup_s``
    counts from."""

    setup = {"session_s": harness.start()}
    tracer = None
    if trace:
        tracer = Tracer(harness.spark)
        layers.install(tracer, harness.spark)
    workload = cls(harness, corpus, seed, tracer)
    setup.update(workload.setup())
    setup_s = time.perf_counter() - start

    oracle = Oracle(os.path.join(corpus, cls.scale), os.path.join(WORK_DIR, "oracle-cache.json"))
    detail: dict = {"workload": cls.name, "seed": seed, "seconds": seconds, "trace": trace}
    warm = Phase()
    try:
        detail["warmup"] = workload.warm_up(oracle, warm)
        detail["host_before"] = cpu_probe()
        phase, *rest = timed(workload, harness, seconds, "timed", tracer)
        traced = rest[0] if rest else None
        if tracer is not None:
            harness.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tracer.account_jobs()
        detail["host_after"] = cpu_probe()
        detail["checked"] = workload.check(oracle, phase)
    finally:
        oracle.close()

    phases = [warm, phase, *rest]
    failed = sum(p.failed for p in phases)
    attempted = sum(p.attempted for p in phases[1:])
    errors = [e for p in phases for e in p.errors]
    detail.update(
        {
            "cpus": harness.cpus,
            "setup": {"setup_s": setup_s, **setup},
            "timed": {
                "wall_s": phase.wall_s,
                "attempted": phase.attempted,
                "cpu_s": phase.cpu_s,
                "peak_rss_mb": phase.rss_parts,
                "series": _series(phase),
            },
            "errors": errors,
        }
    )
    report = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "detail": detail,
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": median(phase.series("pass")),
            "latency_s": phase.typical_latency(),
            "cpu_s_per_op": phase.cpu_s / max(1, phase.attempted),
            "peak_rss_mb": phase.peak_rss_mb,
        },
    }
    if traced is not None:
        report["per_layer"] = layers.metrics(cls.name, tracer, phase, traced, setup)
        detail["traced"] = {
            "wall_s": traced.wall_s,
            "attempted": traced.attempted,
            "series": _series(traced),
            "spans": len(tracer.spans),
            "moves": {name: {"moves": m, "flat_on": f} for name, _, m, f in layers.PER_LAYER},
        }
        tracer.unpatch()
    return report
