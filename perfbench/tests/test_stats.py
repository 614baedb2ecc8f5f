import statistics

import pytest

from kgbench.stats import covered, quartile_spread, self_time


def test_quartile_spread():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)
    assert quartile_spread([5.0] * 4) == 0.0


def test_self_time_without_children():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_overlapping_and_clipped_children():
    # children [1,2] and [1.5,3] overlap -> cover [1,3]; [3.5,9] is clipped to [3.5,5]
    kids = [(1.0, 2.0), (1.5, 3.0), (3.5, 9.0)]
    assert covered(kids, 0.0, 5.0) == pytest.approx(3.5)
    assert self_time(0.0, 5.0, kids) == pytest.approx(1.5)


def test_self_time_ignores_children_outside():
    assert self_time(2.0, 3.0, [(0.0, 1.0), (4.0, 5.0)]) == pytest.approx(1.0)


def test_cycle_time_uses_per_kind_medians():
    from kgbench.workloads import Op, Run

    ops = [Op("query", 3.0, True), Op("epoch", 2.0, True), Op("query", 5.0, True),
           Op("delete", 1.0, True), Op("finalize", 6.0, True), Op("query", 4.0, True)]
    run = Run(setup_s=0.0, ops=ops, checks_ok=True,
              cycle={"query": 2, "epoch": 1, "delete": 1, "finalize": 1},
              primary="query", ingest="epoch")
    assert run.kind_p50("query") == 4.0
    # one more or one fewer query in the run does not change the cycle's make-up
    assert run.cycle_s() == 2 * 4.0 + 2.0 + 1.0 + 6.0
