"""Spark-free checks of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import types

import pytest

from perfbench import metrics
from perfbench.stats import (
    check_clusters,
    fingerprint,
    self_times,
    tail_percentile,
)
from perfbench.trace import patched

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n, tail_p, rank",
    [
        (5, None, None),  # too few samples for any percentile
        (19, None, None),  # p50 has only 9 samples beyond it
        (20, 50.0, 10),  # p50 is the 10th value; 10 lie beyond it
        (39, 50.0, 20),
        (40, 75.0, 30),
        (100, 90.0, 90),  # p95 would leave only 5 beyond
        (1000, 99.0, 990),  # p99.9 would leave only 1 beyond
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, tail_p, rank):
    values = [float(i) for i in range(1, n + 1)]
    out = tail_percentile(reversed(values))
    assert out["n"] == n
    assert out["p50"] == (n + 1) / 2
    assert out["tail_p"] == tail_p
    assert out["tail"] == (None if rank is None else float(rank))
    if rank is not None:
        assert sum(v > out["tail"] for v in values) >= 10


def test_tail_percentile_empty():
    assert tail_percentile([]) == {"n": 0, "p50": None, "tail_p": None, "tail": None}


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: [1, 5] counts once
        _span(3, 0, 8.0, 12.0),  # runs past the parent: only [8, 10] counts
        _span(4, 1, 1.5, 2.5),  # grandchild: charged to span 1, not span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_of_sequential_children():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.0, 1.0), _span(2, 0, 1.0, 3.5)]
    assert self_times(spans)[0] == pytest.approx(0.5)


def test_fingerprint_ignores_row_order_and_sees_any_change():
    rows = [("e1_s1", "e1_s1", 2), ("e1_s2", "e1_s1", 2), ("e2_s1", "e2_s1", 1)]
    assert fingerprint(rows) == fingerprint(list(reversed(rows)))
    assert fingerprint(rows) != fingerprint(rows[:2] + [("e2_s1", "e2_s1", 2)])
    assert fingerprint(rows) != fingerprint(rows[:2])
    assert fingerprint(rows) != fingerprint(rows + rows[-1:])  # a duplicated row


def test_check_clusters_accepts_a_valid_clustering():
    rows = [("e1_s1", "e1_s1", 2), ("e1_s2", "e1_s1", 2), ("e2_s1", "e2_s1", 1)]
    assert check_clusters(rows, 3) == []
    assert check_clusters([r[:2] for r in rows], 3) == []


@pytest.mark.parametrize(
    "rows, n, fragment",
    [
        ([("a", "a", 1)], 2, "input conversations"),  # a conversation is missing
        ([("a", "a", 1), ("a", "a", 1)], 2, "distinct conv_ids"),  # one is duplicated
        ([("a", "b", 2), ("b", "b", 2)], 2, "minimum member"),
        ([("a", "a", 2), ("b", "a", 1)], 2, "cluster_size"),
    ],
)
def test_check_clusters_reports_each_defect(rows, n, fragment):
    errors = check_clusters(rows, n)
    assert any(fragment in e for e in errors), errors


def test_patched_restores_attributes_after_an_error():
    owner = types.SimpleNamespace(f=lambda: 1)
    original = owner.f
    with pytest.raises(RuntimeError):
        with patched((owner, "f", lambda orig: lambda: orig() + 1)):
            assert owner.f() == 2
            raise RuntimeError
    assert owner.f is original


def test_benchmark_json_declares_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"]) for m in manifest["end_to_end"]]
    assert e2e == list(metrics.E2E)
    layers = [(m["name"], m["unit"], m["better"]) for m in manifest["per_layer"]]
    assert layers == metrics.per_layer()
    setup = next(m for m in manifest["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in manifest["end_to_end"])


def test_layer_values_reports_every_metric_and_zero_for_absent_layers():
    values = metrics.layer_values(
        {"pipeline.featurize": {"wall_s": 1.5, "jobs": 1}}, {"pipeline.records": 7}
    )
    assert list(values) == [name for name, _, _ in metrics.per_layer()]
    assert values["pipeline.featurize.wall_s"] == 1.5
    assert values["pipeline.records"] == 7
    assert values["streaming.sinks.prune.calls"] == 0


def test_input_side_check_keeps_each_batch_workload_on_its_side_of_the_gate():
    from mapping_analysis_spark.pipeline import BROADCAST_MAX_RECORDS as gate
    from perfbench.workloads import WORKLOADS, BatchSpec, check_input_side

    small, large = WORKLOADS["batch_small"], WORKLOADS["batch_large"]
    check_input_side(small, gate)
    check_input_side(large, gate + 1)
    with pytest.raises(ValueError, match="at or below"):
        check_input_side(small, gate + 1)
    with pytest.raises(ValueError, match="above"):
        check_input_side(large, gate)
    assert isinstance(small, BatchSpec) and small.broadcast and not large.broadcast
