"""Seeded input generator: everything the program reads is made here.

Three shapes, derived from FIXTURES.md §1 and §3:

* an events-schema corpus (``event_id, ts, user_id, event_type, value,
  props``) written as one parquet file, the shape
  ``prepare_event_features`` consumes. Bulk amounts are lognormal with
  median 205 and p90 ~418; a planted block sits at exactly
  {5000, 10000, 20000, 50000}, which is what ``anomaly_recall`` ranks.
* model-input feature rows (FIXTURES.md §3) with the same amounts and
  planted block, for scoring without the feature-preparation joins;
* JSON transaction files in ``TRANSACTION_SCHEMA`` for the stream
  workloads, with Zipf-skewed customer keys and ~1% rows of the three
  reject classes ``split_valid_invalid`` knows (bad amount, bad id,
  bad timestamp).

Every function takes its seed explicitly; the same seed gives
byte-identical files.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMOUNT_MEDIAN = 205.0
# p90/median = 418/205 -> sigma = ln(418/205) / z(0.9)
AMOUNT_SIGMA = float(np.log(418.0 / 205.0) / 1.2815515655446004)
PLANTED_AMOUNTS = (5000.0, 10000.0, 20000.0, 50000.0)
CHANNELS = ("pos", "mobile_money", "bank_transfer", "card")
LOCATIONS = ("Harare", "Bulawayo", "Mutare", "Victoria Falls", "Marondera", "Gweru")
MERCHANTS = ("501", "502", "503", "504")

_EPOCH = datetime(2025, 5, 1, tzinfo=timezone.utc)
_SPAN_S = 60 * 24 * 3600  # the reference's two-month range


def _bulk_amounts(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.lognormal(np.log(AMOUNT_MEDIAN), AMOUNT_SIGMA, n), 2)


def _timestamps_s(rng: np.random.Generator, n: int) -> np.ndarray:
    """Epoch seconds over the reference range, ~21% at hour < 5."""
    day = rng.integers(0, _SPAN_S // 86400, n)
    night = rng.random(n) < 0.21
    hour = np.where(night, rng.integers(0, 5, n), rng.integers(5, 24, n))
    sec = rng.integers(0, 3600, n)
    return int(_EPOCH.timestamp()) + day * 86400 + hour * 3600 + sec


def events_table(seed: int, n_rows: int, n_planted: int, n_users: int = 200) -> tuple[pa.Table, np.ndarray]:
    """Events-schema rows and the sorted ``event_id``s of the planted block."""
    rng = np.random.default_rng(seed)
    value = _bulk_amounts(rng, n_rows)
    planted = np.sort(rng.choice(n_rows, size=n_planted, replace=False))
    value[planted] = np.resize(np.array(PLANTED_AMOUNTS), n_planted)
    ts_us = _timestamps_s(rng, n_rows) * 1_000_000
    k = rng.integers(0, 100, n_rows)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, n_users, n_rows).astype(np.int64)),
            "event_type": pa.array(np.array(CHANNELS)[rng.integers(0, len(CHANNELS), n_rows)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )
    return table, planted.astype(np.int64)


def write_events(directory: str, seed: int, n_rows: int, n_planted: int) -> np.ndarray:
    """Write ``<directory>/events.parquet`` (the layout ``load_table``
    reads) and return the planted ``event_id``s."""
    table, planted = events_table(seed, n_rows, n_planted)
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
    return planted


def write_feature_rows(directory: str, seed: int, n_rows: int, n_planted: int) -> np.ndarray:
    """Write model-input rows (FIXTURES.md §3 ``feature_row`` plus
    ``event_id``) as parquet and return the planted ``event_id``s.

    Profile columns are drawn near the bulk amount, so a planted amount
    stands out against its own customer's average the way it does in
    ``prepare_event_features`` output.
    """
    rng = np.random.default_rng(seed)
    amount = _bulk_amounts(rng, n_rows)
    planted = np.sort(rng.choice(n_rows, size=n_planted, replace=False))
    amount[planted] = np.resize(np.array(PLANTED_AMOUNTS), n_planted)
    ts = _timestamps_s(rng, n_rows).astype("datetime64[s]")
    days = ts.astype("datetime64[D]")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "amount": pa.array(amount),
            "year": pa.array((days.astype("datetime64[Y]").astype(int) + 1970).astype(np.int32)),
            "month": pa.array((days.astype("datetime64[M]").astype(int) % 12 + 1).astype(np.int32)),
            # 1970-01-01 was a Thursday: pandas day_of_week (Mon=0) is (days + 3) % 7
            "day_of_week": pa.array(((days.astype(int) + 3) % 7).astype(np.int32)),
            "hour": pa.array(((ts - days).astype(int) // 3600).astype(np.int32)),
            "cust_avg_amount": pa.array(np.round(rng.lognormal(np.log(AMOUNT_MEDIAN), 0.15, n_rows), 2)),
            "cust_txn_count": pa.array(rng.integers(0, 500, n_rows).astype(np.float64)),
            "merch_avg_amount": pa.array(np.round(rng.normal(AMOUNT_MEDIAN, 5.0, n_rows), 2)),
            "channel": pa.array(np.array(CHANNELS)[rng.integers(0, len(CHANNELS), n_rows)]),
            "location": pa.array(np.array(LOCATIONS)[rng.integers(0, len(LOCATIONS), n_rows)]),
        }
    )
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "features.parquet"))
    return planted.astype(np.int64)


class TransactionSource:
    """Seeded stream of transaction records with unique, increasing ids.

    Customer keys follow a Zipf law over ``n_customers`` keys, so a few
    customers own most rows (the stateful workload's hot keys). Each
    record is invalid with probability ``invalid_frac``, spread evenly
    over the three reject classes: bad amount, bad id, bad timestamp.
    """

    def __init__(self, seed: int, n_customers: int = 1000, zipf_a: float = 1.2, invalid_frac: float = 0.01):
        self._rng = np.random.default_rng(seed)
        self._next_id = 1_000_000
        self.n_customers = n_customers
        self.zipf_a = zipf_a
        self.invalid_frac = invalid_frac

    def _customers(self, n: int) -> np.ndarray:
        ranks = np.arange(1, self.n_customers + 1, dtype=np.float64)
        p = ranks ** -self.zipf_a
        return self._rng.choice(self.n_customers, size=n, p=p / p.sum()) + 100

    def records(self, n: int) -> list[dict]:
        rng = self._rng
        ids = np.arange(self._next_id, self._next_id + n)
        self._next_id += n
        ts = _timestamps_s(rng, n)
        amount = _bulk_amounts(rng, n)
        cust = self._customers(n)
        merch = rng.integers(0, len(MERCHANTS), n)
        chan = rng.integers(0, len(CHANNELS), n)
        loc = rng.integers(0, len(LOCATIONS), n)
        bad = np.where(rng.random(n) < self.invalid_frac, rng.integers(0, 3, n), -1)
        out = []
        for i in range(n):
            rec = {
                "timestamp": datetime.fromtimestamp(int(ts[i]), timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
                "transaction_id": str(int(ids[i])),
                "customer_id": str(int(cust[i])),
                "merchant_id": MERCHANTS[merch[i]],
                "amount": float(amount[i]),
                "channel": CHANNELS[chan[i]],
                "location": LOCATIONS[loc[i]],
            }
            if bad[i] == 0:
                rec["amount"] = None if i % 2 else -float(amount[i])
            elif bad[i] == 1:
                rec["transaction_id"] = f"tx-{int(ids[i])}"
            elif bad[i] == 2:
                rec["timestamp"] = "garbage-ts"
            out.append(rec)
        return out


def to_jsonl(records: list[dict]) -> str:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records)


def write_json_file(directory: str, name: str, text: str) -> str:
    """Write one JSON-lines file atomically: the stream source ignores
    dot-files, so the file appears complete under its final name."""
    tmp = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, f"{name}.json")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)
    return path
