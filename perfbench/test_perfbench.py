"""Self-tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import re

import pytest

import layers
import streams
from measure import tail
from run import E2E_UNITS
from tracer import Span, self_times

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)


def _cycles(seed: int, stream: str, n: int = 6):
    return list(itertools.islice(streams.explorer_cycles(seed, stream), n))


def _passes(seed: int, stream: str, n: int = 4):
    return list(itertools.islice(streams.operator_passes(seed, stream), n))


def test_same_seed_same_inputs():
    assert _cycles(7, "timed") == _cycles(7, "timed")
    assert _passes(7, "timed") == _passes(7, "timed")


def test_other_seed_or_stream_changes_inputs():
    assert _cycles(7, "timed") != _cycles(8, "timed")
    assert _passes(7, "timed") != _passes(8, "timed")
    assert _cycles(7, "timed") != _cycles(7, "warmup")


def test_cycles_are_balanced():
    """Every cycle runs each template once and every pass each operator
    once, so medians compare the same mix whatever the seed."""
    for cycle in _cycles(3, "timed", 20):
        assert sorted(q.template for q in cycle.queries) == sorted(streams.TEMPLATES)
        assert sum(q.export for q in cycle.queries) == 1
    for order in _passes(3, "timed", 20):
        assert sorted(order) == sorted(streams.OPERATORS)


def test_builder_bound_queries_are_in_the_list():
    assert set(streams.BUILDER_BOUND) <= set(streams.OPERATORS)


def test_metric_names():
    names = [*E2E_UNITS, *(name for name, _, _, _ in layers.PER_LAYER)]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME_RE.match(name) and len(name) <= 64, name


def test_benchmark_json_matches_the_code():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == E2E_UNITS
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == {name: unit for name, unit, _, _ in layers.PER_LAYER}
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(1, 41)]  # 40 samples
    t = tail(values)
    assert t["value"] == 30.0  # 31..40 lie beyond it
    assert t["percentile"] == 75.0
    assert t["samples"] == 40
    assert sum(v > t["value"] for v in values) == 10
    assert tail(values[:10]) is None
    t = tail(values[:11])
    assert t["value"] == 1.0 and sum(v > 1.0 for v in values[:11]) == 10


def test_tail_ignores_input_order():
    values = [3.0, 1.0, 2.0] * 5
    assert tail(values) == tail(sorted(values))


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", None, None, 0.0, 10.0)
    a = Span(2, "a", 1, None, 1.0, 4.0)
    b = Span(3, "b", 1, None, 3.0, 6.0)  # overlaps a: union is [1, 6]
    c = Span(4, "c", 1, None, 9.0, 12.0)  # clipped to the parent: [9, 10]
    grandchild = Span(5, "g", 2, None, 2.0, 3.0)
    selfs = self_times([parent, a, b, c, grandchild])
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0 - 1.0)
    assert selfs[5] == pytest.approx(1.0)


def test_digest_is_order_insensitive_and_type_aware():
    from checks import digest

    rows = [[1, "a", 0.1 + 0.2], [2, "b", None]]
    assert digest(["k", "s", "f"], rows) == digest(["k", "s", "f"], rows[::-1])
    assert digest(["k"], [[0.30000000000000004]]) == digest(["k"], [[0.3]])
    assert digest(["k"], [[1]]) != digest(["k"], [[1.0]])


def test_digest_reads_temporal_values_as_served():
    import datetime as dt

    from checks import digest

    assert digest(["d"], [[dt.date(1997, 4, 24)]]) == digest(["d"], [["1997-04-24"]])
    utc = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
    assert digest(["t"], [[utc]]) == digest(["t"], [[dt.datetime(2000, 1, 1)]])


def test_timed_phase_unit_counts():
    from batch import OperatorsOneCorpus
    from explorer import ExplorerSession
    from workloads import unit_count

    assert unit_count(ExplorerSession, 15) == 6
    assert unit_count(OperatorsOneCorpus, 15) == 2
    assert unit_count(OperatorsOneCorpus, 1) == 2
    assert unit_count(ExplorerSession, 1) == 1
