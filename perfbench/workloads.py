"""The workloads, driven through the package's public API.

Each workload has ``setup`` (untimed by the end-to-end metrics, but
measured as ``setup_s``), ``window`` (the timed part, called once per
measured window) and ``check`` (output checks, outside any window).

Why these three: each loads one layer heavily and bypasses the others.

* ``train`` -- feature pipeline fit, shared pool collect and the
  driver-side numpy fits. No pandas_udf scoring, no stream.
* ``batch_score`` -- the three pandas_udf kernels over large Arrow
  batches and the parquet sink. No fit in the window.
* ``serve_stateful`` -- micro-batch engine, file source, foreachBatch
  sink and applyInPandasWithState on Zipf-skewed keys: state-store
  writes, a shuffle and pandas workers per micro-batch. No model.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

from . import gen
from .sparkstats import PYTHON_METRICS, ProgressRecorder, StatusStore
from .stats import percentile

@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    setup: dict = field(default_factory=dict)


@dataclass
class WindowResult:
    """One timed window: end-to-end samples plus what the trace needs."""

    ops: int
    what: str  # what the latency samples are, for the report
    samples_ms: list[float]
    weights: list[float] | None
    tail_n: int | None
    rows_per_s: float
    attempted: int = 0
    layer: dict = field(default_factory=dict)


def _timed(ctx: Ctx, key: str, fn):
    t = time.perf_counter()
    out = fn()
    ctx.setup[key] = ctx.setup.get(key, 0.0) + time.perf_counter() - t
    return out


def _recall(scored, planted: np.ndarray, id_col: str = "event_id") -> float:
    """Share of planted rows among the top-N by the mean of the three
    model scores, each oriented as the fusion reads it (higher = more
    anomalous). The rule score is left out on purpose."""
    from pyspark.sql import functions as F

    from financial_anomaly_detection_spark.functions.scoring import clip01, inv_sigmoid

    n = len(planted)
    key = (inv_sigmoid("anomaly_score_iforest") + inv_sigmoid("anomaly_score_lof") + clip01("anomaly_score_ae")) / 3.0
    top = scored.select(id_col, key.alias("_k")).orderBy(F.desc("_k"), id_col).limit(n)
    ids = {r[0] for r in top.collect()}
    return len(ids & set(planted.tolist())) / max(n, 1)


def _frame_hash(df) -> tuple:
    """Order-insensitive content hash of a DataFrame."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns)
    row = df.select(F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(2_147_483_647)))).first()
    return tuple(row)


def _model_hash(ens) -> str:
    h = hashlib.sha256()
    for tree in ens.iforest.trees:
        for a in tree:
            h.update(np.ascontiguousarray(a).tobytes())
    for a in (ens.lof.X_train, ens.lof.lrd_train, ens.recon.components, ens.recon.mean):
        h.update(np.ascontiguousarray(a).tobytes())
    h.update(repr(ens.recon.threshold).encode())
    return h.hexdigest()


def _features(ctx: Ctx, directory: str):
    from financial_anomaly_detection_spark.ml.features import prepare_event_features
    from financial_anomaly_detection_spark.sources.readers import load_table

    return prepare_event_features(load_table(ctx.spark, directory, "events"))


# -- train ---------------------------------------------------------------


class Train:
    name = "train"
    rows, planted_n, warm_rows = 100_000, 500, 10_000

    def setup(self, ctx: Ctx) -> None:
        from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble

        self.dir = os.path.join(ctx.work, "corpus")
        warm_dir = os.path.join(ctx.work, "warm")

        def generate():
            gen.write_events(warm_dir, ctx.seed + 1, self.warm_rows, self.planted_n // 10)
            return gen.write_events(self.dir, ctx.seed, self.rows, self.planted_n)

        self.planted = _timed(ctx, "setup.generate_s", generate)
        self.hashes: list[str] = []

        def warm_up():
            # Class loading and JIT of the fit path happen here, not in
            # the window: fit times settle only from the fifth fit on. A
            # fit is mostly per-query overhead, so the 10k-row corpus
            # warms the code path nearly as well as the full one.
            for _ in range(3):
                AnomalyEnsemble(seed=ctx.seed).fit(_features(ctx, warm_dir))
            AnomalyEnsemble(seed=ctx.seed).fit(_features(ctx, self.dir))

        _timed(ctx, "setup.pretrain_s", warm_up)

    def window(self, ctx: Ctx, tracer) -> WindowResult:
        from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble

        samples = []
        start = time.time()
        while len(samples) < 2 or time.time() - start < ctx.seconds:
            with tracer.span("op.fit"):
                t = time.perf_counter()
                self.model = AnomalyEnsemble(seed=ctx.seed).fit(_features(ctx, self.dir))
                samples.append((time.perf_counter() - t) * 1e3)
            self.hashes.append(_model_hash(self.model))
        return WindowResult(len(samples), f"{len(samples)} fits", samples, None, None,
                            self.rows / (percentile(samples, 50) / 1e3), attempted=len(samples))

    def check(self, ctx: Ctx) -> tuple[list[str], dict]:
        errors = []
        if len(set(self.hashes)) != 1:
            errors.append(f"train: {len(set(self.hashes))} distinct model hashes over {len(self.hashes)} fits")
        recall = _recall(self.model.transform(_features(ctx, self.dir)), self.planted)
        return errors, {"anomaly_recall": recall}


# -- batch_score ---------------------------------------------------------


class BatchScore:
    name = "batch_score"
    fit_rows, rows, planted_n = 20_000, 50_000, 250

    def setup(self, ctx: Ctx) -> None:
        from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
        from financial_anomaly_detection_spark.sources.sinks import write_scores_parquet

        spark = ctx.spark
        fit_dir, batch_dir = os.path.join(ctx.work, "fit"), os.path.join(ctx.work, "batch")

        def generate():
            gen.write_feature_rows(fit_dir, ctx.seed, self.fit_rows, self.fit_rows // 200)
            self.planted = gen.write_feature_rows(batch_dir, ctx.seed + 1, self.rows, self.planted_n)

        _timed(ctx, "setup.generate_s", generate)
        self.feat_path = os.path.join(batch_dir, "features.parquet")

        def pretrain():
            self.model = AnomalyEnsemble(seed=ctx.seed).fit(spark.read.parquet(os.path.join(fit_dir, "features.parquet")))
            # Pass times settle only from the third full pass on (JIT of
            # the Arrow and parquet paths), so two passes are set-up.
            for _ in range(2):
                batch = spark.read.parquet(self.feat_path)
                write_scores_parquet(self.model.transform(batch), os.path.join(ctx.work, "warm_sink"), mode="overwrite")

        _timed(ctx, "setup.pretrain_s", pretrain)
        self.passes: list[str] = []

    def window(self, ctx: Ctx, tracer) -> WindowResult:
        from financial_anomaly_detection_spark.sources import sinks

        spark = ctx.spark
        samples = []
        start = time.time()
        while len(samples) < 2 or time.time() - start < ctx.seconds:
            # Passes 0 and 1 are kept for the hash check; later ones reuse one path.
            path = os.path.join(ctx.work, f"scores_{min(len(self.passes), 2)}")
            with tracer.span("op.score_pass"):
                t = time.perf_counter()
                sinks.write_scores_parquet(self.model.transform(spark.read.parquet(self.feat_path)), path, mode="overwrite")
                samples.append((time.perf_counter() - t) * 1e3)
            self.passes.append(path)
        files = len(glob.glob(os.path.join(self.passes[-1], "*", "*.parquet")))
        return WindowResult(len(samples), f"{len(samples)} scoring passes", samples, None, None,
                            self.rows / (percentile(samples, 50) / 1e3),
                            attempted=len(samples), layer={"sources.sinks.files_written": files})

    def check(self, ctx: Ctx) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        spark = ctx.spark
        errors = []
        first = spark.read.parquet(self.passes[0]).drop("timestamp")
        second = spark.read.parquet(self.passes[1]).drop("timestamp")
        n_out = first.count()
        if n_out != self.rows:
            errors.append(f"batch_score: {self.rows} rows in, {n_out} out")
        score_cols = ["anomaly_score_iforest", "anomaly_score_lof", "anomaly_score_ae", "rule_score", "aggregated_score"]
        nulls = first.filter(" OR ".join(f"{c} IS NULL" for c in score_cols)).count()
        if nulls:
            errors.append(f"batch_score: {nulls} rows with a null score")
        a = F.col("aggregated_score")
        expected = F.when(a >= 0.7, "High").when(a >= 0.4, "Medium").otherwise("Low")
        bad = first.filter(F.col("risk_level") != expected).count()
        if bad:
            errors.append(f"batch_score: {bad} rows whose risk_level disagrees with aggregated_score")
        if _frame_hash(first) != _frame_hash(second):
            errors.append("batch_score: two passes over the same batch wrote different outputs")
        return errors, {"anomaly_recall": _recall(first, self.planted)}


# -- serve_stateful --------------------------------------------------------


class ServeStateful:
    """Open-loop file stream into ``stateful_user_profiles``.

    A window is two phases on one running query:

    1. drain: ``backlog_files`` pre-generated files, four triggers'
       worth, are moved into the source directory at once; capacity is
       the rows of the micro-batches that read a full
       ``max_files_per_trigger`` of them over the sum of those
       batches' ``batchDuration``, so a trigger that polled while the
       backlog was still being moved in (and read only part of it)
       does not set the figure;
    2. open loop: the generator (this thread) writes a file every
       ``period`` seconds on a fixed schedule that does not slow when
       the stream does. An event's latency runs from its file's
       scheduled time to the return of the sink write of the
       micro-batch that read it.

    The offered rate (``rows_per_file / period``, ~385 rows/s) is fixed
    at about half the drain rate measured when the workload was defined
    (~760 rows/s on 4 cores). Several files arrive per trigger, so the
    median latency does not hinge on how one arrival lines up with a
    trigger boundary; each file is one scan task, so more and smaller
    files would make a slow trigger slower still.
    """

    name = "serve_stateful"
    rows_per_file = 250
    period = 0.65
    max_files_per_trigger = 8
    backlog_files = 4 * max_files_per_trigger
    latency_share = 0.6

    def setup(self, ctx: Ctx) -> None:
        from financial_anomaly_detection_spark.sources.readers import read_transactions_json_stream
        from financial_anomaly_detection_spark.sources.sinks import foreach_batch_parquet
        from financial_anomaly_detection_spark.streaming.score_stream import split_valid_invalid, stateful_user_profiles

        spark = ctx.spark
        self.src_dir = os.path.join(ctx.work, "in")
        self.stage_dir = os.path.join(ctx.work, "stage")
        self.sink = os.path.join(ctx.work, "sink")
        self.ckpt = os.path.join(ctx.work, "ckpt")
        for d in (self.src_dir, self.stage_dir):
            os.makedirs(d, exist_ok=True)
        source = gen.TransactionSource(ctx.seed)
        n_live = int(ctx.seconds * self.latency_share / self.period) + 1

        def generate():
            gen.write_json_file(self.src_dir, "w0-0000", gen.to_jsonl(source.records(self.rows_per_file)))
            sizes = [self.max_files_per_trigger, self.backlog_files + n_live]
            self.pending = [[gen.to_jsonl(source.records(self.rows_per_file)) for _ in range(n)] for n in sizes]

        _timed(ctx, "setup.generate_s", generate)

        self.recorder = ProgressRecorder()
        self._log: dict[str, int] = {}
        self._log_seen: set[str] = set()
        spark.streams.addListener(self.recorder)
        self.sink_calls: dict[int, tuple[float, float]] = {}
        # Traced window only: micro-batch id -> its Python-worker metrics.
        self.python_probe = None
        self.python_by_batch: dict[int, dict[str, float]] = {}
        write = foreach_batch_parquet(self.sink)

        def timed_write(batch_df, batch_id):
            t0 = time.time()
            write(batch_df, batch_id)
            self.sink_calls[batch_id] = (t0, time.time())
            if self.python_probe is not None:
                # The micro-batch's own execution id, restored after the
                # sink's nested write.
                execution_id = int(spark.sparkContext.getLocalProperty("spark.sql.execution.id"))
                self.python_by_batch[batch_id] = self.python_probe(execution_id)

        self.files: dict[str, dict] = {}  # file name -> window, phase, due time, write time, rows
        self.window_no = 0

        def start_stream():
            stream = read_transactions_json_stream(spark, self.src_dir, max_files_per_trigger=self.max_files_per_trigger)
            self.query = (
                stateful_user_profiles(split_valid_invalid(stream)[0])
                .writeStream.foreachBatch(timed_write)
                .option("checkpointLocation", self.ckpt)
                .outputMode("update")
                .start()
            )
            # Query start, codegen and one full trigger of warm-up are set-up.
            self._wait_read(["w0-0000"])
            self._drain(self._stage(0), 0)

        _timed(ctx, "setup.pretrain_s", start_stream)

    def _stage(self, w: int) -> list[str]:
        names = [f"w{w}-{i + 1:04d}" for i in range(len(self.pending[w]))]
        for name, text in zip(names, self.pending[w]):
            gen.write_json_file(self.stage_dir, name, text)
        return names

    def _publish(self, name: str, w: int, phase: str, due: float) -> None:
        os.replace(os.path.join(self.stage_dir, f"{name}.json"), os.path.join(self.src_dir, f"{name}.json"))
        self.files[name] = {"window": w, "phase": phase, "due": due, "written": time.time(), "rows": self.rows_per_file}

    def _drain(self, names: list[str], w: int) -> None:
        due = time.time()
        for name in names:
            self._publish(name, w, "drain", due)
        self._wait_read(names)

    def window(self, ctx: Ctx, tracer) -> WindowResult:
        self.window_no += 1
        w = self.window_no
        names = self._stage(w)
        n_before = len(self.recorder.progress)
        if tracer.enabled:
            self.python_probe = StatusStore(ctx.spark).live_python_metrics
        try:
            self._drain(names[: self.backlog_files], w)
            live = names[self.backlog_files:]
            t0 = time.time()
            for i, name in enumerate(live):
                due = t0 + i * self.period
                if due > time.time():
                    time.sleep(due - time.time())
                self._publish(name, w, "live", due)
            self._wait_read(live)
        finally:
            self.python_probe = None
        return self._result(tracer, self.recorder.progress[n_before:], w)

    def _source_log(self) -> dict[str, int]:
        """File name -> the file source's log batch that listed it, read
        from the source log in the checkpoint (immutable files, so each
        is parsed once)."""
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if path in self._log_seen or os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        self._log[os.path.basename(entry["path"])[: -len(".json")]] = int(entry["batchId"])
            self._log_seen.add(path)
        return self._log

    def _wait_read(self, names: list[str], timeout: float = 120.0) -> None:
        """Block until a finished micro-batch has read every file in
        ``names``. Progress reports count rows after the JSON scan's
        pushed-down filters, so completion is tracked by file."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.recorder.terminated:
                raise RuntimeError(f"{self.name}: stream terminated: {self.recorder.terminated}")
            log = self._source_log()
            if all(n in log for n in names):
                need = max(log[n] for n in names)
                if any(int(p["sources"][0]["endOffset"]["logOffset"]) >= need for p in list(self.recorder.progress)):
                    return
            time.sleep(0.02)
        raise RuntimeError(f"{self.name}: files not read within {timeout:.0f} s")

    def _batch_files(self) -> dict[int, list[str]]:
        """Micro-batch id -> names of the files it read."""
        by_log: dict[int, list[str]] = {}
        for name, k in self._source_log().items():
            by_log.setdefault(k, []).append(name)
        out: dict[int, list[str]] = {}
        for p in self.recorder.progress:
            src = p["sources"][0]
            lo = -1 if src["startOffset"] is None else int(src["startOffset"]["logOffset"])
            hi = int(src["endOffset"]["logOffset"])
            out[p["batchId"]] = sorted(n for k in range(lo + 1, hi + 1) for n in by_log.get(k, ()))
        return out

    def _result(self, tracer, progress, w) -> WindowResult:
        batch_files = self._batch_files()
        lat, weights, lat_batches, drain, waits = [], [], set(), [], []
        read_at: dict[str, float] = {}
        for p in progress:
            b = p["batchId"]
            t_start = _iso_epoch(p["timestamp"])
            t_end = t_start + p["batchDuration"] / 1e3
            tracer.add("stream.micro_batch", t_start, t_end, progress=p)
            if b in self.sink_calls:
                tracer.add("sources.sinks.foreach_batch", *self.sink_calls[b])
            mine = [self.files[n] | {"name": n} for n in batch_files.get(b, []) if n in self.files and self.files[n]["window"] == w]
            if sum(1 for f in mine if f["phase"] == "drain") == self.max_files_per_trigger:
                drain.append((p["batchDuration"], sum(f["rows"] for f in mine)))
            live = [f for f in mine if f["phase"] == "live"]
            for f in live:
                read_at[f["name"]] = t_start
                lat.append((self.sink_calls[b][1] - f["due"]) * 1e3)
                weights.append(f["rows"])
                lat_batches.add(b)
            if live:
                waits.append(max(0.0, t_start - min(f["due"] for f in live)) * 1e3)
        if not lat or not drain:
            raise RuntimeError(f"{self.name}: window {w} has no latency samples or no full drain batch")
        drain_rows = sum(r for _, r in drain)
        drain_s = sum(d for d, _ in drain) / 1e3
        live_files = {n: f for n, f in self.files.items() if f["window"] == w and f["phase"] == "live"}
        batches = {p["batchId"] for p in progress}
        calls = [(e - s) * 1e3 for b, (s, e) in self.sink_calls.items() if b in batches]
        layer = self._stream_layer(progress)
        layer.update({
            "stream.generator_late_ms": max((f["written"] - f["due"]) * 1e3 for f in live_files.values()),
            "stream.queue_wait_ms": percentile(waits, 50),
            "sources.readers.backlog_files_max": max(
                sum(1 for n, f in live_files.items() if f["due"] <= t and read_at.get(n, float("inf")) >= t)
                for t in read_at.values()
            ),
            "sources.sinks.foreach_batch_p50_ms": percentile(calls, 50),
            "sources.sinks.foreach_batch_p90_ms": percentile(calls, 90),
            "sources.sinks.write_s": sum(calls) / 1e3 / len(progress),
            "sources.sinks.files_written": len(glob.glob(os.path.join(self.sink, "*.parquet"))) / len(self.sink_calls),
        })
        if tracer.enabled:
            probed = [m for b, m in self.python_by_batch.items() if b in batches]
            for key in PYTHON_METRICS.values():
                layer[key] = sum(m[key] for m in probed) / len(progress)
        what = f"{int(sum(weights))} events in {len(lat)} files read by {len(lat_batches)} micro-batches"
        return WindowResult(len(progress), what, lat, weights, len(lat_batches), drain_rows / drain_s,
                            attempted=sum(f["rows"] for f in self.files.values() if f["window"] == w), layer=layer)

    @staticmethod
    def _stream_layer(progress) -> dict:
        def dur(key):
            return percentile([p["durationMs"].get(key, 0) for p in progress], 50)

        trig = [p["durationMs"]["triggerExecution"] for p in progress]
        out = {
            "stream.batches": len(progress),
            "stream.trigger_p50_ms": percentile(trig, 50),
            "stream.trigger_p90_ms": percentile(trig, 90),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "sources.readers.latest_offset_ms": dur("latestOffset"),
            "sources.readers.get_batch_ms": dur("getBatch"),
            "sources.readers.rows_per_batch": percentile([p["numInputRows"] for p in progress], 50),
        }
        ops = [p["stateOperators"][0] for p in progress]
        out.update({
            "state.rows_total": ops[-1]["numRowsTotal"],
            "state.rows_updated": percentile([o["numRowsUpdated"] for o in ops], 50),
            "state.memory_bytes": ops[-1]["memoryUsedBytes"],
            "state.commit_ms": percentile([o["commitTimeMs"] for o in ops], 50),
            "state.store_instances": ops[-1]["numStateStoreInstances"],
        })
        return out

    def _inputs(self, spark):
        from financial_anomaly_detection_spark.schemas import TRANSACTION_SCHEMA
        from financial_anomaly_detection_spark.streaming.score_stream import split_valid_invalid

        return split_valid_invalid(spark.read.schema(TRANSACTION_SCHEMA).json(self.src_dir))[0]

    def check(self, ctx: Ctx) -> tuple[list[str], dict]:
        """Each customer's last emitted (sum, count) equals a batch
        groupBy of the same valid inputs."""
        from pyspark.sql import Window, functions as F

        errors = []
        sink = ctx.spark.read.parquet(self.sink)
        latest = Window.partitionBy("customer_id").orderBy(F.desc("batch_id"))
        final = sink.withColumn("_r", F.row_number().over(latest)).filter("_r = 1").select(
            "customer_id",
            (F.col("cust_avg_amount") * F.col("cust_txn_count")).alias("s_sum"),
            F.col("cust_txn_count").alias("s_cnt"),
        )
        expected = self._inputs(ctx.spark).groupBy("customer_id").agg(
            F.sum("amount").alias("e_sum"), F.count(F.lit(1)).alias("e_cnt")
        )
        joined = expected.join(final, "customer_id", "full_outer").fillna(0, ["s_cnt", "e_cnt", "s_sum", "e_sum"])
        bad = joined.filter(
            (F.col("s_cnt") != F.col("e_cnt"))
            | (F.abs(F.col("s_sum") - F.col("e_sum")) > 1e-9 * F.greatest(F.abs(F.col("e_sum")), F.lit(1.0)))
        )
        n_bad = bad.count()
        missing = bad.select(F.sum(F.greatest(F.col("e_cnt") - F.col("s_cnt"), F.lit(0)))).first()[0] or 0
        if n_bad:
            errors.append(f"serve_stateful: {n_bad} customers whose final (sum, count) differs from a batch groupBy")
        return errors, {"missing_events": missing}



def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts).timestamp()


WORKLOADS = {w.name: w for w in (Train, BatchScore, ServeStateful)}
