"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest cdcbench/tests -q
"""

import json
import os

from cdcbench.layers import LAYER_METRICS, gate_dropped, reconcile
from cdcbench.stats import tail_percentile
from cdcbench.trace import Span, self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]  # 1..40, shuffled order is irrelevant
    value, pct, n = tail_percentile(list(reversed(samples)))
    assert n == 40
    assert value == 30.0
    assert sum(1 for s in samples if s > value) == 10
    assert pct == 75.0


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    value, pct, n = tail_percentile([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11)
    assert round(pct, 2) == round(100 / 11, 2)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    parent = Span(0, "apply", None, 10.0, 20.0)
    spans = [
        parent,
        Span(1, "merge", 0, 12.0, 15.0),
        Span(2, "merge", 0, 14.0, 16.0),  # overlaps the first child
        Span(3, "read", 0, 19.0, 25.0),  # runs past the parent's end
        Span(4, "deep", 1, 12.0, 13.0),  # a grandchild does not count again
        Span(5, "other", None, 0.0, 30.0),  # not a child
    ]
    assert self_time(parent, spans) == 10.0 - 4.0 - 1.0


def test_gate_oracle_drops_rows_at_or_below_the_watermark():
    wms = {"7": {"log_pos": 100, "event_row_index": 2, "gtid": 1}}
    rows = [(7, 100, 1), (7, 100, 2), (7, 100, 3), (7, 101, 0), (8, 5, 0)]
    assert gate_dropped(wms, rows) == 2
    assert gate_dropped({}, rows) == 0


def test_row_counts_reconcile():
    assert reconcile(100, 100, 30, 70) == []
    bad = reconcile(99, 100, 30, 71)
    assert len(bad) == 2
    assert "decode.rows 99" in bad[0]
    assert "merge.rows_in 71" in bad[1]


def test_benchmark_json_lists_the_layer_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    table = [(n, spec[0], spec[1]) for n, spec in LAYER_METRICS.items()]
    assert declared == table
