"""tools/ab.py: equality gate, alternating arm order, per-run windows."""

from __future__ import annotations

import pytest

from tools import ab


def _arm(calls, label, mod=7):
    def fn(spark, sf_dir):
        calls.append(label)
        return spark.range(100).selectExpr("id", f"id % {mod} AS k")

    return fn


def test_gate_rejects_arms_whose_outputs_differ(spark):
    calls = []
    with pytest.raises(ab.OutputMismatch):
        ab.run(spark, _arm(calls, "a"), _arm(calls, "b", mod=5), "", reps=2)
    assert calls == ["a", "b"]  # gate only, nothing timed


def test_gate_ignores_row_order(spark):
    def reordered(spark, sf_dir):
        return spark.range(100).selectExpr("id", "id % 7 AS k").orderBy("k", "id")

    result = ab.run(spark, _arm([], "a"), reordered, "", reps=1)
    assert result["gate"][0] == 100
    assert len(result["rounds"]) == 1


def test_reps_alternate_first_arm_and_windows_are_disjoint(spark):
    calls = []
    result = ab.run(spark, _arm(calls, "a"), _arm(calls, "b"), "", reps=4)
    rounds = result["rounds"]
    assert calls == ["a", "b"] + ["a", "b", "b", "a", "a", "b", "b", "a"]
    assert [next(iter(r)) for r in rounds] == ["a", "b", "a", "b"]
    for rnd in rounds:
        sa, sb = rnd["a"]["window"].stage_ids(), rnd["b"]["window"].stage_ids()
        assert sa and sb
        assert not sa & sb
    rep = ab.report(result)
    assert rep["totals"]["a"]["spark.jobs"] >= 4
    assert {"spark.stages", "spark.executor_cpu_ms", "spark.shuffle_read_bytes"} <= rep["totals"]["b"].keys()
