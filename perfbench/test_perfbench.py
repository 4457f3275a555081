"""Tests of the benchmark's own pieces.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import gen, run
from perfbench.sparkstats import StatusStore, parse_metric
from perfbench.stats import percentile, summarize, tail_rank
from perfbench.trace import Span, Tracer, nest, self_times


def test_events_same_seed_same_rows():
    a, pa_ = gen.events_table(7, 5000, 40)
    b, pb = gen.events_table(7, 5000, 40)
    c, _ = gen.events_table(8, 5000, 40)
    assert a.equals(b) and np.array_equal(pa_, pb)
    assert not a.equals(c)


def test_events_amounts_and_planted_block():
    table, planted = gen.events_table(3, 20000, 400)
    value = table.column("value").to_numpy()
    assert set(value[planted]) == set(gen.PLANTED_AMOUNTS)
    bulk = np.delete(value, planted)
    assert 190 < np.median(bulk) < 220
    assert 380 < np.percentile(bulk, 90) < 460
    assert bulk.max() < min(gen.PLANTED_AMOUNTS)


def test_transactions_same_seed_same_records():
    a, b = gen.TransactionSource(5), gen.TransactionSource(5)
    assert a.records(300) == b.records(300)
    assert a.records(10) == b.records(10)
    assert gen.TransactionSource(6).records(300) != gen.TransactionSource(5).records(300)


def test_transactions_rejects_and_skew():
    recs = gen.TransactionSource(11).records(20000)
    bad_amount = sum(1 for r in recs if r["amount"] is None or r["amount"] < 0)
    bad_id = sum(1 for r in recs if not r["transaction_id"].isdigit())
    bad_ts = sum(1 for r in recs if r["timestamp"] == "garbage-ts")
    assert bad_amount and bad_id and bad_ts
    assert 0.005 < (bad_amount + bad_id + bad_ts) / len(recs) < 0.015
    ids = [r["transaction_id"] for r in recs]
    assert len(set(ids)) == len(ids)
    counts = sorted(np.unique([r["customer_id"] for r in recs], return_counts=True)[1], reverse=True)
    assert counts[0] > 20 * np.median(counts)


def test_json_file_is_atomic_and_complete(tmp_path):
    text = gen.to_jsonl(gen.TransactionSource(1).records(5))
    path = gen.write_json_file(str(tmp_path), "f1", text)
    assert os.listdir(tmp_path) == ["f1.json"]
    assert [json.loads(line) for line in open(path)] == gen.TransactionSource(1).records(5)


@pytest.mark.parametrize("n,expected", [(9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
                                        (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_needs_ten_samples_beyond(n, expected):
    assert tail_rank(n) == expected


def test_summary_counts_tail_in_batches_not_events():
    values = [float(v) for v in range(100)]
    s = summarize(values, weights=[50.0] * 100, tail_n=30)
    assert s["n"] == 30 and s["tail_p"] is None
    assert summarize(values)["tail_p"] == 90.0


def test_weighted_percentile():
    assert percentile([1.0, 2.0, 3.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0], 50, weights=[1, 1, 10]) == 3.0
    assert percentile([5.0, 1.0], 0) == 1.0
    assert percentile([5.0, 1.0], 100) == 5.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span(3, "c", 9.0, 12.0, parent=0),  # runs past the root: clipped to 9..10
        Span(4, "a.x", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_nest_hangs_callback_spans_under_shortest_container():
    spans = [
        Span(0, "window", 0.0, 10.0),
        Span(1, "stream.micro_batch", 2.0, 3.0),
        Span(2, "sources.sinks.foreach_batch", 2.2, 2.8),
        Span(3, "op", 4.0, 5.0, parent=0),
    ]
    nest(spans)
    assert [s.parent for s in spans] == [None, 0, 1, 0]


def test_tracer_stack_parents_and_disabled_noop():
    t = Tracer()
    with t.span("outer"):
        t.wrap("inner", lambda: 1)()
    outer, inner = t.spans
    assert inner.parent == outer.sid and inner.run_id == outer.run_id
    off = Tracer(enabled=False)
    with off.span("outer"):
        off.wrap("inner", lambda: 1)()
    off.add("x", 0.0, 1.0)
    assert off.spans == []


def test_parse_metric():
    assert parse_metric("10,000") == 10000
    assert parse_metric("0.0 B") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n78.7 KiB (19.7 KiB, 19.7 KiB, 19.7 KiB (stage 0.0: task 2))") == pytest.approx(78.7 * 1024)


def test_python_accumulators_take_each_name_once_per_python_node():
    nodes = [
        {"name": "FlatMapGroupsInPandasWithState", "metrics": [
            {"name": "number of output rows", "accumulatorId": 145},
            {"name": "data sent to Python workers", "accumulatorId": 50},
            {"name": "number of output rows", "accumulatorId": 55},
        ]},
        {"name": "Exchange", "metrics": [{"name": "number of output rows", "accumulatorId": 7}]},
        {"name": "ArrowEvalPython", "metrics": [{"name": "number of output rows", "accumulatorId": 9}]},
    ]
    store = StatusStore.__new__(StatusStore)
    store._json = lambda obj: obj
    store._sql = SimpleNamespace(planGraph=lambda eid: SimpleNamespace(allNodes=lambda: nodes))
    assert store.python_accumulators(0) == {
        145: "python.rows_returned", 50: "python.data_sent_bytes", 9: "python.rows_returned",
    }


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["train", "batch_score", "serve_stateful"]


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    yield s
    run.shutdown_spark(s)


def test_back_to_back_windows_get_disjoint_stages(spark):
    from perfbench.sparkstats import StatusStore

    store = StatusStore(spark)
    first = store.window().open()
    spark.range(1000).repartition(3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    first.close()
    second = store.window().open()
    spark.range(500).repartition(2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    second.close()
    assert first.stage_ids() and second.stage_ids()
    assert not first.stage_ids() & second.stage_ids()
    assert first.jobs and second.jobs
    assert not {j["jobId"] for j in first.jobs} & {j["jobId"] for j in second.jobs}
    totals = second.totals()
    assert totals["spark.tasks"] > 0 and totals["spark.shuffle_write_bytes"] > 0
