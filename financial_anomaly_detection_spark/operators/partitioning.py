"""Partition-layout helpers for Python-kernel stages.

Arrow ``pandas_udf`` / ``mapInPandas`` stages inherit the input's
partitioning, and a small parquet table arrives as ONE file partition —
which silently serializes a decode or scoring kernel onto one core
while the others idle. ``spread_narrow`` widens such inputs to the
cluster's default parallelism before the Python stage; at real scale
the scan is already wide and this is a no-op (no exchange added).

The decision is read from the physical plan and never runs it:

* A plan with no exchange (a scan and narrow operators) is not
  adaptive; its RDD reports the file-partition count without a job.
* A plan with an exchange is wrapped in ``AdaptiveSparkPlanExec``.
  Asking its RDD for a partition count makes adaptive query execution
  run every shuffle stage first — 12 jobs for the training feature
  frame, all of which ran again when the caller filled its cache. The
  adaptive node's not-yet-executed plan (after EnsureRequirements, so
  it carries the hash and range shuffles) names the root partitioning
  instead, e.g. ``hashpartitioning(user_id, 32)``.

After a shuffle, AQE's parallelism-first coalescing sets the runtime
count. It goes below ``defaultParallelism`` only for tiny shuffles,
under about ``coalescePartitions.minPartitionSize`` (1 MB) per core,
which then run narrower than this rule assumed; that costs little at
that size and is accepted.

This is the repartition the multimodal module's design notes call for
("decode as a mapInPandas stage after a repartition sized so one Arrow
batch of payloads fits executor memory") — centralized so every
Python-kernel call site applies it consistently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _planned_partitions(df: DataFrame) -> int | None:
    """Output partition count ``df``'s physical plan will have, or
    ``None`` when the plan's root partitioning is unknown. Plans a
    ``select("*")`` of ``df``: planning ``df``'s own QueryExecution
    would freeze it, and a later ``df.persist()`` would then never be
    read back by that same object."""
    probe = df.select("*")
    plan = probe._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return probe.rdd.getNumPartitions()
    partitioning = plan.executedPlan().outputPartitioning()
    if partitioning.getClass().getSimpleName() == "UnknownPartitioning":
        return None
    return partitioning.numPartitions()


def spread_narrow(df: DataFrame) -> DataFrame:
    """Repartition a batch DataFrame to ``defaultParallelism`` when its
    physical plan has fewer output partitions, or an unknown root
    partitioning; runs no Spark job to decide (module docstring). A
    ``SinglePartition`` root — a global aggregate — counts as 1 and is
    spread. Streaming frames pass through untouched (micro-batch
    partitioning is the source's concern, and a streaming plan cannot
    be probed this way)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df)
    if n is None or n < target:
        return df.repartition(target)
    return df


def sorted_group_map(df: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """``groupBy(*keys).applyInPandas(fn, schema)`` re-expressed as ONE
    sorted ``mapInPandas`` stage for the many-tiny-groups regime.

    ``applyInPandas`` pays a per-GROUP Arrow slice + python call + frame
    construction; with thousands of 2-5-row groups (LSH band buckets,
    entity blocks) that overhead IS the stage — measured on the x10
    near-dup replay drill: 8,397 buckets / 17k rows took 15.1 s as
    applyInPandas and 1.2 s as this operator (identical pair set). At
    100 TB the bucket-count/row-size ratio only grows, so the per-group
    constant is the scaling hazard, not the data.

    Semantics: hash-repartition on ``keys`` (each group lands whole in
    one partition), sort within partitions so each group is contiguous,
    then pandas-groupby INSIDE each Arrow batch. A group may straddle
    two consecutive Arrow batches (spark.sql.execution.arrow.
    maxRecordsPerBatch cuts blindly), so the last group of every batch
    is carried into the next and flushed at partition end — without
    this the straddled group is replayed as two fragments (observed:
    one missing pair at x10). ``fn`` receives exactly one whole group's
    frame per call, same contract as applyInPandas — INCLUDING null-key
    groups: groupby runs with ``dropna=False`` and the carry mask is
    null-safe (``==`` is always False against NaN/None, which would
    otherwise silently fragment a null-keyed group across a batch cut;
    Spark's groupBy().applyInPandas and DuckDB GROUP BY both keep the
    null group, so dropping it would break oracle hash parity)."""
    import pandas as pd

    def gen(batches):
        carry = None

        def flush(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.concat(
                [fn(g) for _, g in pdf.groupby(keys, sort=False, dropna=False)],
                ignore_index=True,
            )

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            last = pdf.iloc[-1]
            tail = None
            for k in keys:
                if pd.isna(last[k]):
                    m = pdf[k].isna()
                else:
                    m = pdf[k] == last[k]
                tail = m if tail is None else (tail & m)
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield flush(head)
        if carry is not None and len(carry):
            yield flush(carry)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(gen, schema=schema)
    )
