"""Structured Streaming serving path (SURVEY.md §2.6 W1-W7, §3.1).

The reference serves one transaction per HTTP request with 3 DB
round-trips each (python_scoring/app.py:239-267); ``/score/batch`` is
a sequential Python loop of singles (app.py:272-280). The engine form
is ONE declarative plan applied to a stream:

    readStream(JSON) -> validity split (W7) -> stream-static profile
    join (J1/J2) -> rule/fusion/risk columns (F7-F13) -> foreachBatch
    sink (S4)

plus two profile-state designs:

  * ``windowed_user_profiles`` — event-time sliding-window aggregation
    with a watermark (W3/W4): built-in state store, late rows beyond
    the watermark are dropped (documented divergence: the reference's
    DB query has unbounded lateness).
  * ``stateful_user_profiles`` — a streaming ``groupBy().agg()``
    keeping per-user running (sum, count) in the state store: the
    incremental form of the 90-day profile, O(keys) state, no
    recomputation per batch, and no Python worker in the plan.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, functions as F

from ..functions.scoring import (
    deviation_ratio,
    fuse_scores_orchestrator,
    high_amount_override,
    risk_level,
    rule_flags,
    rule_score,
)
from ..functions.timefn import time_features


def split_valid_invalid(tx: DataFrame) -> Tuple[DataFrame, DataFrame]:
    """W7/P4/P5: the reference rejects records via pydantic validators
    (app.py:69-79) and isolates per-record errors (app.py:272-280).
    Engine form: one predicate splits the plan; invalid rows flow to a
    rejects sink instead of raising."""
    is_valid = (
        F.col("amount").isNotNull()
        & (F.col("amount") >= 0)
        & F.col("transaction_id").cast("string").rlike("^[0-9]+$")
        & F.try_to_timestamp("timestamp").isNotNull()
    )
    tagged = tx.withColumn("_valid", is_valid)
    invalid = tagged.filter(~F.col("_valid")).withColumn(
        "error",
        F.when(F.col("amount").isNull() | (F.col("amount") < 0), "invalid_amount")
        .when(~F.col("transaction_id").cast("string").rlike("^[0-9]+$"), "invalid_id")
        .otherwise("invalid_timestamp"),
    )
    return tagged.filter(F.col("_valid")).drop("_valid"), invalid.drop("_valid")


def build_scoring_stream(
    tx_stream: DataFrame,
    cust_profile: DataFrame,
    merch_profile: DataFrame,
    model_score: F.Column | None = None,
) -> DataFrame:
    """W1: the full scoring tail on a streaming DataFrame.

    ``cust_profile``/``merch_profile`` are static (batch) DataFrames —
    Spark plans a stream-static broadcast join per micro-batch, the
    engine replacement for the per-record profile lookups (J1/J2).
    ``model_score`` defaults to the reference's 0.0 placeholder
    fallback (W6, api/utils.py:30-37); pass an ensemble column to wire
    real model scores.
    """
    tf = time_features(F.try_to_timestamp("timestamp"))
    enriched = (
        tx_stream.withColumn("ts", F.try_to_timestamp("timestamp"))
        .withColumn("hour", tf["hour"])
        .join(F.broadcast(cust_profile), "customer_id", "left")
        .join(F.broadcast(merch_profile), "merchant_id", "left")
        .na.fill(0.0, subset=["cust_avg_amount", "cust_txn_count", "merch_avg_amount"])
    )
    score = model_score if model_score is not None else F.lit(0.0)
    scored = (
        enriched.withColumn("deviation_score", deviation_ratio("amount", "cust_avg_amount"))
        .withColumn("rule_score", rule_score("amount", "channel", "location", "hour"))
        .withColumn(
            "flags", F.array_join(rule_flags("amount", "channel", "location", "hour"), ",")
        )
        .withColumn(
            "aggregated_score",
            high_amount_override(
                fuse_scores_orchestrator("rule_score", score, "deviation_score"), "amount"
            ),
        )
        .withColumn("risk_level", risk_level("aggregated_score"))
        .withColumn(
            "model_version",
            F.when(score == 0.0, F.lit("unavailable")).otherwise(F.lit("spark-ensemble-v1")),
        )
    )
    return scored.select(
        "transaction_id",
        "customer_id",
        "merchant_id",
        "amount",
        "deviation_score",
        "rule_score",
        "flags",
        "aggregated_score",
        "risk_level",
        "model_version",
    )


def windowed_user_profiles(
    tx_stream: DataFrame,
    key: str = "customer_id",
    amount: str = "amount",
    ts: str = "ts",
    window: str = "90 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """W3/W5 + W4: event-time sliding-window profile aggregation.
    Built-in state store handles window state; the watermark bounds it
    and drops later arrivals (divergence from the reference's
    unbounded-lateness DB query — documented in SURVEY.md W4)."""
    return (
        tx_stream.withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window, slide).alias("win"), F.col(key))
        .agg(
            F.avg(amount).alias("cust_avg_amount"),
            F.count(F.lit(1)).cast("double").alias("cust_txn_count"),
        )
    )


def stateful_user_profiles(tx_stream: DataFrame) -> DataFrame:
    """W3 incremental form: per-key running (sum, count) kept in the
    state store by Spark's own streaming aggregation — O(keys) state,
    each event processed once, a partial aggregate before the shuffle
    and no Python worker. Emits the updated profile per key per batch
    (outputMode=update): ``customer_id string, cust_avg_amount double,
    cust_txn_count long``.

    The reference recomputes profiles per request with a 90-day SQL
    scan (app.py:121-135); this is the engine-native incremental
    replacement. (Time-based eviction of >90d contributions belongs to
    the windowed variant above; running totals here match the
    reference's all-history fallback when no anchor is given.)

    A null, NaN or non-numeric amount adds 0 to the sum but still
    counts as a row. ``try_cast`` keeps a bad string from raising
    under ANSI mode.

    Checkpoints written by the earlier pandas group-state form of this
    operator cannot be resumed: its state operator and state schema
    differ, and Spark stops the restarted query with
    STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA. Start such
    a query from a fresh checkpoint.
    """
    amount = F.coalesce(F.nanvl(F.col("amount").try_cast("double"), F.lit(0.0)), F.lit(0.0))
    n = F.count(F.lit(1))
    return tx_stream.groupBy("customer_id").agg(
        (F.sum(amount) / n).alias("cust_avg_amount"),
        n.alias("cust_txn_count"),
    )
