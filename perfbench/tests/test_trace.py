"""Arithmetic behind the benchmark's metrics: the tail-percentile rule,
span self times and the per-kind aggregation of operations. Run with ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import os

import pytest

from perfbench.metrics import GATED, end_to_end, layer_metrics, typical_op
from perfbench.trace import op_layer_totals, self_times, tail, tail_rank, unattributed, work_cpu_s


def span(id_, parent, start, end, layer="storage", op=0, jobs=0, cpu=0.0, name="x", failed=False):
    return {"id": id_, "parent": parent, "start": start, "end": end, "layer": layer, "op": op,
            "jobs": jobs, "cpu": cpu, "name": name, "failed": failed}


# -- tail percentile ---------------------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 10, 11, 20])
def test_tail_needs_a_point_above_the_median(n):
    assert tail_rank(n) is None
    assert tail(list(range(n))) is None


@pytest.mark.parametrize("n, pct, idx", [(21, 11 / 21 * 100, 10), (100, 90.0, 89), (1000, 99.0, 989)])
def test_tail_rank_leaves_exactly_ten_samples_beyond(n, pct, idx):
    got_pct, got_idx = tail_rank(n)
    assert got_idx == idx
    assert got_pct == pytest.approx(pct)
    assert n - got_idx - 1 == 10


def test_tail_value_is_order_independent():
    values = [float(v) for v in range(100)]
    value, pct, beyond = tail(list(reversed(values)))
    assert (value, pct, beyond) == (89.0, 90.0, 10)


# -- self time ---------------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        span(0, None, 0.0, 10.0, jobs=7, cpu=5.0),
        span(1, 0, 1.0, 3.0, jobs=2, cpu=1.0),
        span(2, 0, 4.0, 8.0, jobs=3, cpu=2.0),
    ]
    st = self_times(spans)
    assert st[0]["busy"] == 10.0
    assert st[0]["self"] == pytest.approx(4.0)
    assert st[0]["jobs"] == 2
    assert st[0]["cpu"] == pytest.approx(2.0)
    assert st[1]["self"] == pytest.approx(2.0)


def test_overlapping_children_count_once_and_are_clipped():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 2.0, 6.0),
        span(2, 0, 5.0, 7.0),  # overlaps the first child
        span(3, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    assert self_times(spans)[0]["self"] == pytest.approx(10.0 - 5.0 - 1.0)


def test_grandchildren_do_not_reduce_the_grandparent_twice():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 0.0, 6.0), span(2, 1, 1.0, 3.0)]
    st = self_times(spans)
    assert st[0]["self"] == pytest.approx(4.0)
    assert st[1]["self"] == pytest.approx(4.0)
    assert sum(v["self"] for v in st.values()) == pytest.approx(10.0)


def test_layer_totals_and_unattributed():
    spans = [
        span(0, None, 0.0, 4.0, layer="retrieval", jobs=3),
        span(1, 0, 1.0, 2.0, layer="textindex", jobs=1),
        span(2, 0, 2.0, 3.0, layer="similarity", jobs=1),
        span(3, None, 5.0, 6.0, layer="textindex", jobs=2),
    ]
    totals = op_layer_totals(spans)[0]
    assert totals["retrieval"]["self_s"] == pytest.approx(2.0)
    assert totals["retrieval"]["jobs"] == 1
    assert totals["textindex"]["busy_s"] == pytest.approx(2.0)
    assert totals["textindex"]["calls"] == 2
    assert totals["textindex"]["jobs"] == 3
    # a 7 s operation: 5 s inside layers' own time, 2 s outside any layer
    assert unattributed(7.0, totals) == pytest.approx(2.0)


def test_layer_metrics_take_medians_over_operations_that_called_the_layer():
    spans = [span(i, None, 0.0, float(i + 1), layer="dedup", op=i, name="NearDupIndex.maintain")
             for i in range(3)]
    spans.append(span(3, None, 0.0, 1.0, layer="textindex", op=0, name="InvertedIndex.topk"))
    m = layer_metrics(spans, {0: 2.0, 1: 2.0, 2: 3.0}, {})
    assert m["dedup.busy_s"] == pytest.approx(2.0)
    assert m["dedup.maintain_s"] == pytest.approx(2.0)
    assert m["textindex.topk_s"] == pytest.approx(1.0)
    assert m["similarity.busy_s"] == 0.0
    assert m["unattributed_s"] == pytest.approx(0.0)


# -- per-kind aggregation ----------------------------------------------------------


def test_typical_op_is_the_geometric_mean_of_per_kind_medians():
    ops = [("a", 1.0), ("a", 3.0), ("a", 100.0), ("b", 4.0)]
    assert typical_op(ops) == pytest.approx((3.0 * 4.0) ** 0.5)
    assert typical_op([("x", 2.0), ("x", 9.0), ("x", 5.0)]) == 5.0
    assert typical_op([("jobs", 65)]) == 65


def test_typical_op_does_not_jump_between_kinds():
    # the plain median of this mix sits on whichever kind holds the middle
    # sample; a 10% change in one kind moves the typical op by 10% / kinds
    base = [("fast", 0.5)] * 5 + [("slow", 3.0)] * 4
    slower = [("fast", 0.55)] * 5 + [("slow", 3.0)] * 4
    assert typical_op(slower) / typical_op(base) == pytest.approx(1.1 ** 0.5)


def test_end_to_end_gates_cpu_and_jobs_and_reports_wall_beside_them():
    ops = [("a", 1.0, 3.0, 4), ("b", 2.0, 5.0, 9), ("a", 1.2, 2.0, 4)]
    values, notes = end_to_end(ops, [4.0, 1.0, 2.0], 10.0, 512.0, [0.2, 0.5, 0.25])
    assert set(GATED) <= set(values)
    assert values["setup_s"] == pytest.approx(12.0)
    assert values["op_cpu_s"] == pytest.approx((2.5 * 5.0) ** 0.5)
    assert values["op_jobs"] == pytest.approx(6.0)
    assert values["ref_cpu_s"] == pytest.approx(0.25)
    assert values["op_p50_s"] == pytest.approx((1.1 * 2.0) ** 0.5)
    assert values["ops_per_s"] == pytest.approx(2 / 3.1)
    assert values["op_tail_s"] == 2.0 and "too few" in notes["op_tail_s"]


def test_work_cpu_leaves_out_jit_threads_and_counts_an_exited_one_as_idle():
    tick = os.sysconf("SC_CLK_TCK")
    before = (10.0, {"1": 1 * tick, "2": 5 * tick})
    after = (20.0, {"1": 3 * tick, "3": 1 * tick})  # thread 2 exited, thread 3 started
    assert work_cpu_s(before, after) == pytest.approx(10.0 - 2.0 - 1.0)
