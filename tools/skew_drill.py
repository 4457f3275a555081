#!/usr/bin/env python
"""Skew drill for the profile spine (SCALING.md evidence).

Builds a pathologically skewed events fixture — ONE user owns 20% of
all rows — and measures the two ways to annotate every row with its
group aggregate:

  * window form (``Window.partitionBy(user_id)``): the hot user's
    rows all land in ONE task; that task's runtime lower-bounds the
    stage. This is the shape that dies at scale.
  * agg+join form: salted/partial aggregation (bounded per-reducer
    load) + broadcast join back. Same output, parallel everywhere.

Both paths compute identical values (exact integer cents), asserted
here and in tests/test_storage.py. Run::

    python tools/skew_drill.py [n_rows]

and paste the printed row into SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F

from bench import force
from financial_anomaly_detection_spark.operators.profiles import salted_group_stats
from financial_anomaly_detection_spark.session import get_spark


def build_fixture(spark, n_rows: int):
    # every 5th row -> user "hot" (20%); the rest spread over 997 users
    return (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") % 5 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("u"), (F.col("id") % 997).cast("string")))
            .alias("user_id"),
            ((F.col("id") % 10_000) / F.lit(100.0)).alias("value"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)  # measure the aggregation, not range()
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark(app_name="skew-drill", master="local[32]")
    ev = build_fixture(spark, n_rows)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    # window form: per-row transform, hot key in one task
    w = Window.partitionBy("user_id")
    windowed = ev.select(
        "event_id",
        F.sum(cents).over(w).alias("sum_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_events"),
    )
    # agg+join form: salted partials, broadcast profile back
    prof = salted_group_stats(ev, "user_id", "value", n_salt=32, salt_src="event_id")
    joined = ev.join(F.broadcast(prof), "user_id").select(
        "event_id", "sum_cents", "n_events"
    )

    for name, df in [("window", windowed), ("agg+join", joined)]:
        force(df)  # warm
        t0 = time.perf_counter()
        for _ in range(3):
            force(df)
        print(f"{name}: {(time.perf_counter() - t0) / 3:.2f} s/run at {n_rows} rows")

    # Wall-clock on a single JVM understates skew (the in-memory
    # shuffle makes even the hot partition cheap); the scale-relevant
    # metric is per-task load. The window form puts the hot key's
    # ENTIRE group through one task; the salted agg bounds every
    # reduce group.
    hot = ev.filter(F.col("user_id") == "hot").count()
    max_salted = (
        ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(32)))
        .groupBy("user_id", "_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    print(f"window form max task rows: {hot} ({hot / n_rows:.0%} of corpus in ONE task)")
    print(f"salted form max reduce group: {max_salted} ({hot / max_salted:.1f}x smaller)")

    a = sorted(tuple(r) for r in windowed.collect())
    b = sorted(tuple(r) for r in joined.collect())
    print("identical results:", a == b)
    spark.stop()


if __name__ == "__main__":
    main()
