"""operators_one_corpus: the batch user's view of the operator library.

Each pass runs the operator list, builder call → noop sink, in a seeded
order, on one corpus whose shared artifacts were built at set-up, so the
artifact cache only hits in the timed phase. Every operator run is one op.
Outputs are checked once, before timing: each operator's result against its
DuckDB oracle on the same corpus (the corpus the repository's differential
tests use, where the oracles are exact). That checking pass is the warm-up.
"""

from __future__ import annotations

import importlib
import math
import os
import time
from contextlib import nullcontext

from checks import Oracle, arrow_digest
from measure import Phase
from streams import OPERATORS, operator_passes
from tracer import plan_seconds

SCALE = "sf0.01"
#: shared-artifact builders the operator list reads, in dependency order
ARTIFACT_BUILDERS = (
    ("dedup", "shared_lsh_candidates"),
    ("similarity", "shared_semantic_labels"),
    ("pipeline", "shared_incremental_status"),
    ("multimodal", "shared_pair_keys"),
    ("dedup", "shared_lsh_labels"),
    ("dedup", "shared_simhash_labels"),
)
#: nominal seconds of one pass on a 4-core host, which sets how many passes
#: a timed phase of --seconds runs; at least two, so each operator's median
#: has two samples
PASS_S = 10.0
MIN_PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class OperatorsOneCorpus:
    name = "operators_one_corpus"
    scale = SCALE
    unit_s = PASS_S
    min_units = MIN_PASSES

    def __init__(self, harness, corpus_root: str, seed: int, tracer=None) -> None:
        from iceberg_explorer_spark.operators import QUERIES

        self.h = harness
        self.corpus = os.path.join(corpus_root, SCALE)
        self.seed = seed
        self.tracer = tracer
        self.queries = QUERIES

    def setup(self) -> dict:
        t0 = time.perf_counter()
        for module, fn in ARTIFACT_BUILDERS:
            mod = importlib.import_module(f"iceberg_explorer_spark.operators.{module}")
            getattr(mod, fn)(self.h.spark, self.corpus)
        return {"tables_s": 0.0, "artifacts_s": time.perf_counter() - t0}

    def warm_up(self, oracle: Oracle, phase: Phase) -> dict:
        """The checking pass: build and collect every operator once and
        compare its rows with the oracle. A mismatch is a failed op."""
        t0 = time.perf_counter()
        for name in OPERATORS:
            spec = self.queries[name]
            try:
                got = arrow_digest(spec.builder(self.h.spark, self.corpus).toArrow())
            except Exception as exc:  # recorded, reported as a failed op
                phase.fail(None, f"{name}: {type(exc).__name__}: {exc}")
                continue
            if not spec.oracle:
                phase.fail(None, f"{name}: no oracle")
                continue
            want = oracle.expected(spec.oracle, arrow_columns_sorted=True)
            if got != want:
                phase.fail(
                    None,
                    f"{name}: {got['rows']} rows {got['sha256'][:12]} "
                    f"!= oracle {want['rows']} rows {want['sha256'][:12]}",
                )
        return {
            "rule": "the checking pass: every operator built and collected once",
            "count": 1,
            "seconds": time.perf_counter() - t0,
        }

    def check(self, oracle: Oracle, phase: Phase) -> int:
        """Outputs were checked by the warm-up pass."""
        return len(OPERATORS)

    def units(self, stream: str):
        return operator_passes(self.seed, stream)

    def run_unit(self, order: tuple[str, ...], phase: Phase) -> None:
        self._pass(order, phase)

    def _pass(self, order: tuple[str, ...], phase: Phase) -> None:
        t0 = time.perf_counter()
        failed0 = phase.failed
        for name in order:
            self._run(name, phase)
        phase.add("pass", time.perf_counter() - t0 if phase.failed == failed0 else math.inf)

    def _run(self, name: str, phase: Phase) -> None:
        phase.attempted += 1
        builder = self.queries[name].builder
        spark, tracer = self.h.spark, self.tracer
        try:
            with tracer.op("operator", query=name) if tracer is not None else nullcontext() as rec:
                t0 = time.perf_counter()
                if rec is None:
                    _noop(builder(spark, self.corpus))
                else:
                    with tracer.span("operators.build", count_jobs=True, query=name):
                        df = builder(spark, self.corpus)
                    with tracer.span("catalyst.plan") as s:
                        df._jdf.queryExecution().executedPlan()
                    s.attrs["plan_s"] = plan_seconds(df)
                    with tracer.span("spark.exec"):
                        _noop(df)
                seconds = time.perf_counter() - t0
        except Exception as exc:  # a failed op misses every latency limit
            phase.fail(f"latency.{name}", f"{name}: {type(exc).__name__}: {exc}")
            return
        phase.add(f"latency.{name}", seconds)
