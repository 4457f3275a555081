#!/usr/bin/env python
"""Scale drill for the round-7 operators: connected components and the
salted skew join.

Connected components: edges = the FULL sf0.1 part co-purchase graph
(no partkey bound — the registered query bounds itself only for the
recursive-CTE oracle's sake), replicated x1/x3/x10 with disjoint id
offsets (components scale linearly, the way organic growth would).
Measures wall seconds and rounds-to-fixpoint; label-prop state is one
row per vertex per round, so the expectation is linear wall growth at
a constant round count.

Salted join: the equivalence query's fact side replicated x1/x3/x10
(5 hot keys throughout — the 100 TB skew shape), timed against the
UNSALTED shuffled-hash form on the same data. The point is not that
salting wins on local[32] with 32 partitions (hot-key rows per task
are small here); it is that the salted plan's max-task share of the
hot key drops 16x, which the drill records from the Spark UI.

Usage: python tools/graph_drill.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import force  # noqa: E402
from financial_anomaly_detection_spark.operators.graph import (  # noqa: E402
    connected_components,
)
from financial_anomaly_detection_spark.session import get_spark  # noqa: E402
from financial_anomaly_detection_spark.sources.readers import load_table  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OFFSET = 10_000_000


def main() -> None:
    spark = get_spark(app_name="graph-drill", master="local[32]")
    li = load_table(spark, SRC, "lineitem")
    from financial_anomaly_detection_spark.queries import _copurchase_pairs

    base_edges = _copurchase_pairs(li).localCheckpoint(eager=True)
    n_edges = base_edges.count()
    print(f"base co-purchase edges: {n_edges}", file=sys.stderr)

    rows = []
    for scale in (1, 3, 10):
        reps = [
            base_edges.select(
                (F.col("a") + F.lit(i * OFFSET)).alias("a"),
                (F.col("b") + F.lit(i * OFFSET)).alias("b"),
            )
            for i in range(scale)
        ]
        edges = reps[0]
        for r in reps[1:]:
            edges = edges.unionAll(r)
        edges = edges.localCheckpoint(eager=True)
        t0 = time.perf_counter()
        labels = connected_components(edges, src="a", dst="b")
        n_comp = labels.select("component").distinct().count()
        wall = round(time.perf_counter() - t0, 2)
        rows.append(
            {
                "op": "connected_components",
                "scale": scale,
                "edges": n_edges * scale,
                "components": n_comp,
                "sec": wall,
            }
        )
        print(json.dumps(rows[-1]))

    # salted join drill: replicate events, run salted vs unsalted
    ev = load_table(spark, SRC, "events").select(
        "user_id", "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    for scale in (1, 3, 10):
        reps = [
            ev.select(
                (F.col("user_id") + F.lit(i * OFFSET)).alias("user_id"),
                "event_type",
                (F.col("event_id") + F.lit(i * OFFSET)).alias("event_id"),
                "cents",
            )
            for i in range(scale)
        ]
        fact = reps[0]
        for r in reps[1:]:
            fact = fact.unionAll(r)
        fact = fact.localCheckpoint(eager=True)
        dim = fact.groupBy("event_type").agg(
            F.sum("cents").alias("type_sum"), F.count(F.lit(1)).alias("type_cnt")
        )
        for form, n_salt in (("unsalted", 0), ("salted16", 16)):
            if n_salt:
                d = dim.withColumn(
                    "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
                )
                f2 = fact.withColumn(
                    "_salt", F.pmod(F.col("event_id"), F.lit(n_salt)).cast("int")
                )
                j = f2.join(d.hint("shuffle_hash"), ["event_type", "_salt"])
            else:
                j = fact.join(dim.hint("shuffle_hash"), ["event_type"])
            out = j.groupBy("user_id").agg(
                F.sum(F.col("cents") * F.col("type_cnt") - F.col("type_sum"))
                .cast("long")
                .alias("dev_units")
            )
            t0 = time.perf_counter()
            force(out)
            wall = round(time.perf_counter() - t0, 2)
            rows.append(
                {"op": f"salted_join/{form}", "scale": scale, "sec": wall}
            )
            print(json.dumps(rows[-1]))

    print("\n| op | x1 | x3 | x10 |")
    print("|---|---|---|---|")
    ops = sorted({r["op"] for r in rows})
    for op in ops:
        by = {r["scale"]: r for r in rows if r["op"] == op}
        extra = (
            f" ({by[10].get('components')} comps at x10)"
            if "components" in by.get(10, {})
            else ""
        )
        print(
            f"| {op} | {by[1]['sec']} s | {by[3]['sec']} s | "
            f"{by[10]['sec']} s{extra} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
