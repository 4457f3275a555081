"""Streaming data-drift monitor (chi-square channel-mix screen).

The reference's scoring service applies STATIC thresholds tuned
offline (python_scoring/app.py:22-24) with nothing watching whether
the live traffic still looks like the tuning window — the standard
production companion is a drift monitor beside the scorer. This is
the streaming twin of the batch ``chisq_type_drift`` query
(queries.py): a reference channel-mix histogram is captured offline,
and the live stream maintains running per-channel counts whose
chi-square distance from the reference is re-emitted every
micro-batch.

Decomposition (the part that matters at scale):

  * per-channel running counts via a streaming ``groupBy().agg()``
    keyed on the CHANNEL — state is O(channels), each event is
    processed once, and a partial count runs map-side before the
    shuffle, so each task ships one row per channel;
  * the chi-square statistic itself touches only the O(channels)-row
    count table, composed in the ``foreachBatch`` sink — deliberately
    tiny, never a per-event computation.

The statistic uses the same fixed-shape arithmetic as the batch
query: expected = ref_share * cur_total computed in doubles over
exact integer counts, per-cell contributions quantized to 1e-6 units
before summing, so stream and batch agree bit-for-bit on the same
counts (asserted by tests/test_streaming.py).
"""

from __future__ import annotations

import math
from typing import Callable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_channel_counts(
    tx_stream: DataFrame, channel_col: str = "channel"
) -> DataFrame:
    """Running per-channel event counts over the life of the stream,
    kept by Spark's own streaming aggregation (no Python worker).

    Emits the updated ``channel string, cur_count long`` row for every
    channel seen in each micro-batch (outputMode=update); the key
    column is named ``channel`` whatever ``channel_col`` is. As with
    ``score_stream.stateful_user_profiles``, a checkpoint written by
    the earlier pandas group-state form cannot be resumed.
    """
    return tx_stream.groupBy(
        F.col(channel_col).cast("string").alias("channel")
    ).agg(F.count(F.lit(1)).alias("cur_count"))


def chisq_quantized(ref_counts: Mapping[str, int], cur_counts: Mapping[str, int]) -> int:
    """Chi-square (micro-units) between a reference histogram and the
    current counts, with expected frequencies from the reference MIX
    scaled to the current total.

    Same quantize-then-sum discipline as the batch query: each cell's
    contribution is floored to integer 1e-6 units before accumulation,
    so the result is independent of iteration order and bit-identical
    to any engine computing the same formula over the same counts.
    Channels absent from the reference are ignored (no expected
    frequency exists); channels absent from the stream contribute
    their full expected count.
    """
    ref_total = sum(ref_counts.values())
    cur_total = sum(cur_counts.get(c, 0) for c in ref_counts)
    if ref_total == 0 or cur_total == 0:
        return 0
    total_u = 0
    for ch in sorted(ref_counts):
        expected = float(ref_counts[ch]) * float(cur_total) / float(ref_total)
        dev = float(cur_counts.get(ch, 0)) - expected
        total_u += int(math.floor(dev * dev / expected * 1000000.0 + 0.5))
    return total_u


def drift_sink(
    ref_counts: Mapping[str, int],
    on_result: Callable[[int, int], None],
    state_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: fold the micro-batch's updated channel counts
    into the running table and report chisq_quantized per batch.

    ``on_result(batch_id, chisq_u)`` receives the statistic — wire it
    to a metrics sink, an alert, or a results table. State kept here is
    O(channels); the per-event work already happened upstream.

    Restart safety: the upstream streaming-aggregation counts
    survive a restart via the stream checkpoint, but outputMode=update
    only re-emits channels SEEN in each batch — so a freshly
    constructed sink would silently treat every not-yet-re-emitted
    channel as count 0 until it next appears. Pass ``state_dir`` (any
    driver-local path, e.g. beside the stream checkpoint) and the sink
    snapshots the O(channels) running table per batch (atomic
    write-then-rename) and rehydrates it on construction, making the
    statistic correct from the first post-restart batch. Folding is
    idempotent (counts REPLACE, never add), so an at-least-once batch
    replay re-snapshots the same values. Without ``state_dir`` the
    sink is single-run only: correct until the first restart.
    """
    import json
    import os

    running: dict[str, int] = {}
    snap_path = os.path.join(state_dir, "drift_counts.json") if state_dir else None
    if snap_path and os.path.exists(snap_path):
        with open(snap_path) as fh:
            running.update({k: int(v) for k, v in json.load(fh)["counts"].items()})

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():  # O(channels) rows by construction
            running[row["channel"]] = row["cur_count"]
        if snap_path:
            os.makedirs(state_dir, exist_ok=True)
            tmp = f"{snap_path}.tmp.{batch_id}"
            with open(tmp, "w") as fh:
                json.dump({"batch_id": batch_id, "counts": running}, fh)
            os.replace(tmp, snap_path)
        on_result(batch_id, chisq_quantized(ref_counts, running))

    return handle


# ---------------------------------------------------------------------------
# Streaming second-moment monitor (the Mahalanobis twin)
# ---------------------------------------------------------------------------

_MOMENT_STATE_SCHEMA = "n long, sx long, sy long, sxx long, syy long, sxy long"
_MOMENT_OUT_SCHEMA = (
    "channel string, n long, sx long, sy long, sxx long, syy long, sxy long"
)


def stateful_channel_moments(
    tx_stream: DataFrame,
    channel_col: str = "channel",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Running exact integer second moments per channel — the
    streaming twin of the batch ``mahalanobis_outliers`` screen
    (queries.py): the six sums (n, Sx, Sy, Sxx, Syy, Sxy) define the
    covariance ellipse, so a scorer join against this state prices
    d^2 for each incoming event online.

    Callers pre-project INTEGER x/y columns (cents, hour) — the same
    quantization the batch query uses, so stream state and a batch
    groupBy over the same events are equal integer-for-integer
    (asserted in tests/test_streaming.py). State is O(channels) rows
    of six int64 words; the int64 boundary (cents^2 x n approaching
    2^63) is the batch query's DECIMAL(38,0) threshold — shard the
    stream into epochs before it, exactly like the drift counts.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, sx, sy, sxx, syy, sxy = (
            state.get if state.exists else (0, 0, 0, 0, 0, 0)
        )
        for pdf in pdfs:
            # per-record error isolation (W7): a malformed record
            # (missing amount under schema-on-read) arrives as NULL ->
            # NaN here, and .astype('int64') on NaN raises — failing
            # the task, killing the query, and replaying the SAME
            # poisoned micro-batch from the checkpoint on every
            # restart. Drop incomplete rows instead of crash-looping.
            pdf = pdf.dropna(subset=[x_col, y_col])
            if len(pdf) == 0:
                continue
            x = pdf[x_col].astype("int64")
            y = pdf[y_col].astype("int64")
            n += int(len(pdf))
            sx += int(x.sum())
            sy += int(y.sum())
            sxx += int((x * x).sum())
            syy += int((y * y).sum())
            sxy += int((x * y).sum())
        state.update((n, sx, sy, sxx, syy, sxy))
        yield pd.DataFrame(
            {
                "channel": [key[0]],
                "n": [n], "sx": [sx], "sy": [sy],
                "sxx": [sxx], "syy": [syy], "sxy": [sxy],
            }
        )

    return tx_stream.groupBy(channel_col).applyInPandasWithState(
        update,
        outputStructType=_MOMENT_OUT_SCHEMA,
        stateStructType=_MOMENT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def corr_quantized(m: Mapping[str, int]) -> int | None:
    """Pearson correlation in micro-units from exact integer moments —
    the scalar drift signal of the moment monitor (a correlation flip
    between amount and hour is structure drift no marginal histogram
    sees).

    Python ints are arbitrary precision, so A/B/C are EXACT however
    large the sums; the single float division + sqrt then floor+0.5
    quantization is the chisq_quantized discipline — order-free and
    engine-reproducible. None when either variance is zero (constant
    coordinate: correlation undefined)."""
    n, sx, sy = m["n"], m["sx"], m["sy"]
    a = n * m["sxx"] - sx * sx
    b = n * m["syy"] - sy * sy
    c = n * m["sxy"] - sx * sy
    if a <= 0 or b <= 0:
        return None
    corr = float(c) / math.sqrt(float(a) * float(b))
    return int(math.floor(corr * 1000000.0 + 0.5))


def moments_sink(
    on_result: Callable[[int, dict], None],
    state_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook for the moment monitor: fold the updated
    O(channels) moment rows into the running table and report
    {channel: corr_micro_units} per batch.

    Same restart contract as drift_sink: outputMode=update only
    re-emits channels seen in the batch, so pass ``state_dir`` to
    snapshot/rehydrate the running table (atomic write-then-rename,
    idempotent REPLACE folding) — without it the sink is single-run
    only."""
    import json
    import os

    running: dict[str, dict] = {}
    snap_path = os.path.join(state_dir, "moments.json") if state_dir else None
    if snap_path and os.path.exists(snap_path):
        with open(snap_path) as fh:
            running.update(json.load(fh)["moments"])

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():  # O(channels) rows by construction
            running[row["channel"]] = {
                k: int(row[k]) for k in ("n", "sx", "sy", "sxx", "syy", "sxy")
            }
        if snap_path:
            os.makedirs(state_dir, exist_ok=True)
            tmp = f"{snap_path}.tmp.{batch_id}"
            with open(tmp, "w") as fh:
                json.dump({"batch_id": batch_id, "moments": running}, fh)
            os.replace(tmp, snap_path)
        on_result(
            batch_id, {ch: corr_quantized(m) for ch, m in running.items()}
        )

    return handle
