"""Plan-shape regression gates for the session-5 operators (same contract
as test_plan_shapes_session4: the docstrings' scale claims must be visible
in the physical plan)."""

from __future__ import annotations

from wicsmmiretl_spark.operators.graph import butterfly_stats
from wicsmmiretl_spark.operators.layout import zonemap_pruning_report


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_butterfly_wedge_join_is_keyed_not_cartesian(spark):
    edges = [(i % 7, (i * 3) % 5) for i in range(40)]
    plan = _plan(butterfly_stats(spark.createDataFrame(edges, ["l", "r"]), "l", "r"))
    # Wedges come from the centre-keyed equi self-join, never an all-pairs.
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zonemap_report_pins_the_layout_sort(spark):
    rows = [(a, b, a * 16 + b) for a in range(16) for b in range(16)]
    df = zonemap_pruning_report(
        spark.createDataFrame(rows, ["a", "b", "tb"]),
        cols=["a", "b"],
        n_files=8,
        predicates=[("a_band", {"a": (2, 5)}), ("b_band", {"b": (2, 5)})],
        tiebreak=["tb"],
    )
    nodes = [line.lstrip(" :+-") for line in _plan(df).splitlines()]
    # One aggregate (partial + final) computes every (strategy, predicate)
    # cell, directly over a Union of the two strategies' zone maps...
    strat_aggs = [i for i, n in enumerate(nodes) if n.startswith("HashAggregate(keys=[strategy")]
    assert len(strat_aggs) == 2, nodes
    assert nodes[strat_aggs[-1] + 1] == "Union", nodes
    assert sum(n == "Union" for n in nodes) == 1, nodes
    # ...and each strategy's file assignment is ONE distributed ntile: a
    # per-partition sort feeding its row_number window, never a
    # single-partition global sort.
    windows = [i for i, n in enumerate(nodes) if n.startswith("Window [row_number()")]
    assert len(windows) == 2, nodes
    assert all(nodes[i + 1].startswith("Sort [_pid") for i in windows), nodes
    assert not any("SinglePartition" in n for n in nodes), nodes
