#!/usr/bin/env python
"""Interleaved A/B of two query arms in ONE Spark session, so host
drift hits both arms equally.

An arm is an importable ``module:callable`` with signature
``(spark, sf_dir) -> DataFrame``. Before any timing, each arm runs
once into an order-insensitive content hash (row count plus the sum
of per-row ``xxhash64`` over the columns by position); that run is
also the arm's unmeasured warm-up. Arms whose hashes differ raise
``OutputMismatch``, so the command exits non-zero. Then each rep runs
both arms, alternating which goes first, and times plan construction
(eager pins run there) plus a noop-sink write. Each timed run gets its
own Spark status-store window (jobs, stages, executor CPU/run time,
GC, shuffle bytes, spill); the report prints wall time per rep and
per-arm window totals.

Usage:
    python tools/ab.py pkg.mod:old_arm pkg.mod:new_arm SF_DIR [--reps 4]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import force, release_pins  # noqa: E402
from financial_anomaly_detection_spark.session import get_spark  # noqa: E402
from perfbench.sparkstats import StatusStore  # noqa: E402


class OutputMismatch(AssertionError):
    pass


def content_hash(df) -> tuple[int, int]:
    cols = [f"_c{i}" for i in range(len(df.columns))]
    row = (
        df.toDF(*cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h"),
        )
        .head()
    )
    return row["n"], int(row["h"] or 0)


def load_arm(spec: str):
    module, _, name = spec.partition(":")
    return getattr(importlib.import_module(module), name)


def _timed(spark, store, fn, sf_dir, label):
    spark.sparkContext.setJobDescription(f"ab {label}")
    win = store.window().open()
    t0 = time.perf_counter()
    force(fn(spark, sf_dir))
    wall = time.perf_counter() - t0
    win.close()
    release_pins(spark)
    return {"wall_s": wall, "window": win}


def run(spark, arm_a, arm_b, sf_dir: str, reps: int) -> dict:
    """Gate, then ``reps`` rounds. Returns the shared ``(rows, hash)``
    and the rounds; each round maps arm label ("a"/"b") to its
    ``{"wall_s", "window"}`` in the order the arms ran."""
    arms = {"a": arm_a, "b": arm_b}
    hashes = {}
    for label, fn in arms.items():
        hashes[label] = content_hash(fn(spark, sf_dir))
        release_pins(spark)
    if hashes["a"] != hashes["b"]:
        raise OutputMismatch(f"arms differ: (rows, hash) a={hashes['a']} b={hashes['b']}")
    store = StatusStore(spark)
    rounds = []
    for i in range(reps):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        rounds.append({k: _timed(spark, store, arms[k], sf_dir, f"{k} rep {i}") for k in order})
    return {"gate": hashes["a"], "rounds": rounds}


def report(result: dict) -> dict:
    rounds = result["rounds"]
    out = {"gate_rows_hash": result["gate"], "reps": [], "totals": {}}
    for rnd in rounds:
        out["reps"].append({"first": next(iter(rnd)), **{f"{k}_wall_s": round(r["wall_s"], 3) for k, r in rnd.items()}})
    for k in ("a", "b"):
        tot: dict[str, float] = {"wall_s": 0.0}
        for rnd in rounds:
            tot["wall_s"] += rnd[k]["wall_s"]
            for key, v in rnd[k]["window"].totals().items():
                tot[key] = tot.get(key, 0) + v
        out["totals"][k] = {key: round(v, 3) for key, v in tot.items()}
    out["b_faster"] = f"{sum(r['b']['wall_s'] < r['a']['wall_s'] for r in rounds)}/{len(rounds)}"
    return out


def main() -> None:
    p = argparse.ArgumentParser(description="Interleaved A/B of two module:callable arms.")
    p.add_argument("arm_a")
    p.add_argument("arm_b")
    p.add_argument("sf_dir")
    p.add_argument("--reps", type=int, default=4)
    args = p.parse_args()
    spark = get_spark("ab")
    try:
        result = run(spark, load_arm(args.arm_a), load_arm(args.arm_b), args.sf_dir, args.reps)
        print(json.dumps({"a": args.arm_a, "b": args.arm_b, **report(result)}, indent=1))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
