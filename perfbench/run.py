"""Fit -> batch-score -> stream-serve benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload train --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py`` for what each loads and bypasses):
``train``, ``batch_score``, ``serve_stateful``.

With ``--trace 0`` the run reports the end-to-end metrics:
``setup_s``; ``rows_per_s`` (fit-corpus rows per second of one fit on
``train``, scored rows per second into the sink on ``batch_score``,
backlog-drain rows per second on ``serve_stateful``); ``op_p50_ms``
(median fit, median scoring pass, median event latency). On ``train``
and ``batch_score``, ``rows_per_s`` is ``op_p50_ms`` restated as a
rate, not a second measurement. With ``--trace 1`` it measures one
traced window, with spans around the package's layers, and reports the
per-layer metrics (per operation of the workload: a fit, a scoring
pass or a micro-batch). ``trace.op_p50_ms`` is the traced window's
``op_p50_ms``: the tracing overhead is that figure against the
``op_p50_ms`` of untraced runs of the same seeds. Every metric is
printed by name with its unit and sample count; the last stdout line
is one JSON object. The exit code is non-zero when an output check
fails.

Everything the run writes stays under ``.perfbench_work/`` in the
working directory: inputs, sinks, checkpoints, Spark's local dirs and
the JVM's temp dir. Spans of a traced run are kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "pydaemon.first_python_task_s": "s",
    "setup.generate_s": "s",
    "setup.pretrain_s": "s",
    "ml.features.pipeline_fit_s": "s",
    "ml.features.pipeline_fit_jobs": "count",
    "ml.iforest.collect_pool_s": "s",
    "ml.iforest.pool_rows": "count",
    "ml.iforest.fit_pool_s": "s",
    "ml.lof.fit_pool_s": "s",
    "ml.reconstruction.fit_s": "s",
    "ml.ensemble.fit_self_s": "s",
    "ml.ensemble.transform_call_s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "sources.sinks.foreach_batch_p50_ms": "ms",
    "sources.sinks.foreach_batch_p90_ms": "ms",
    "sources.readers.latest_offset_ms": "ms",
    "sources.readers.get_batch_ms": "ms",
    "sources.readers.rows_per_batch": "count",
    "sources.readers.backlog_files_max": "count",
    "stream.batches": "count",
    "stream.trigger_p50_ms": "ms",
    "stream.trigger_p90_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.queue_wait_ms": "ms",
    "stream.generator_late_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.store_instances": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes",
    "python.rows_returned": "count",
    "proc.peak_rss_mb": "MB",
    "trace.ops": "count",
    "trace.window_s": "s",
    "trace.window_self_s": "s",
    "trace.op_p50_ms": "ms",
}

# Per-layer span totals: metric -> span name recorded by trace.install.
SPAN_TOTALS = {
    "ml.features.pipeline_fit_s": "ml.features.pipeline_fit",
    "ml.iforest.collect_pool_s": "ml.iforest.collect_pool",
    "ml.iforest.fit_pool_s": "ml.iforest.fit_pool",
    "ml.lof.fit_pool_s": "ml.lof.fit_pool",
    "ml.reconstruction.fit_s": "ml.reconstruction.fit",
    "ml.ensemble.transform_call_s": "ml.ensemble.transform_call",
    "sources.sinks.write_s": "sources.sinks.write",
}


# -- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(10)


def shutdown_spark(spark) -> None:
    """Stop the streams, the session, the py4j gateway and the JVM, and
    wait until every process the run started has exited. The session is
    stopped while the gateway is still up, so listener callbacks still
    in flight can complete."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(30)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
            time.sleep(0.1)
        for p in procs:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# -- reporting -----------------------------------------------------------------


def attach_stages(spans, stages) -> None:
    """Add each stage's status-store figures to the innermost span that
    was open when the stage was submitted."""
    for st in stages:
        t = st.get("submissionTime")
        hosts = [s for s in spans if t is not None and s.start * 1e3 <= t <= s.end * 1e3]
        if hosts:
            attrs = min(hosts, key=lambda s: s.duration).attrs
            attrs["stages"] = attrs.get("stages", 0) + 1
            attrs["executor_run_ms"] = attrs.get("executor_run_ms", 0) + st["executorRunTime"]
            attrs["executor_cpu_ms"] = attrs.get("executor_cpu_ms", 0) + st["executorCpuTime"] / 1e6


def layer_metrics(ctx, res, tracer, win, peak_rss) -> dict[str, float]:
    from perfbench.stats import percentile
    from perfbench.trace import nest, self_times

    nest(tracer.spans)
    attach_stages(tracer.spans, win.stages)
    st = self_times(tracer.spans)
    ops = max(res.ops, 1)

    def named(name):
        return [s for s in tracer.spans if s.name == name]

    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({k: v for k, v in ctx.setup.items() if k in PER_LAYER})
    for metric, span in SPAN_TOTALS.items():
        out[metric] = sum(s.duration for s in named(span)) / ops
    out["ml.features.pipeline_fit_jobs"] = sum(win.jobs_between(s.start, s.end) for s in named("ml.features.pipeline_fit")) / ops
    out["ml.iforest.pool_rows"] = sum(s.attrs.get("rows", 0) for s in named("ml.iforest.collect_pool")) / ops
    out["ml.ensemble.fit_self_s"] = sum(st[s.sid] for s in named("ml.ensemble.fit")) / ops
    totals = win.totals()
    out["sources.sinks.bytes_written"] = totals.pop("spark.output_bytes") / ops
    out.update({k: v / ops for k, v in totals.items()})
    out.update(res.layer)
    out["proc.peak_rss_mb"] = peak_rss / 2**20
    root = named("window")[0]
    out["trace.ops"] = res.ops
    out["trace.window_s"] = root.duration
    out["trace.window_self_s"] = st[root.sid]
    out["trace.op_p50_ms"] = percentile(res.samples_ms, 50, res.weights)
    return out


def span_report(tracer) -> list[str]:
    from perfbench.trace import self_times

    st = self_times(tracer.spans)
    agg: dict[str, list[float]] = {}
    for s in tracer.spans:
        a = agg.setdefault(s.name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s.duration
        a[2] += st[s.sid]
    return [f"  span {name:<34} n={n:<4} total={tot:9.3f}s self={slf:9.3f}s" for name, (n, tot, slf) in sorted(agg.items())]


def write_spans(path: str, tracer) -> None:
    from perfbench.trace import self_times

    st = self_times(tracer.spans)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = []
    for s in tracer.spans:
        attrs = {k: v for k, v in s.attrs.items() if k != "progress"}
        if "progress" in s.attrs:
            attrs["batchId"] = s.attrs["progress"]["batchId"]
            attrs["durationMs"] = s.attrs["progress"]["durationMs"]
        rows.append({"id": s.sid, "run_id": s.run_id, "name": s.name, "parent": s.parent,
                     "start": s.start, "end": s.end, "self_s": st[s.sid], "attrs": attrs})
    with open(path, "w") as f:
        json.dump(rows, f)


# -- main ------------------------------------------------------------------------


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        from financial_anomaly_detection_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.sparkstats import StatusStore
    from perfbench.stats import MIN_BEYOND, summarize
    from perfbench.trace import Tracer, install
    from perfbench.workloads import WORKLOADS, Ctx

    base_dir = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"

    wl = WORKLOADS[args.workload]()
    ctx = Ctx(None, work, args.seed, float(args.seconds))
    spark = None
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = ctx.spark = get_spark()
            spark.sparkContext.setLogLevel("ERROR")
            ctx.setup["session.start_s"] = time.perf_counter() - t
            t = time.perf_counter()
            spark.sparkContext.parallelize(range(4), 4).map(lambda x: x + 1).collect()
            ctx.setup["pydaemon.first_python_task_s"] = time.perf_counter() - t
            wl.setup(ctx)
            setup_s = sum(ctx.setup.values())
            tracer = Tracer(enabled=bool(args.trace))
            win = None
            if args.trace:
                win = StatusStore(spark).window().open()
                restore = install(tracer)
                try:
                    with tracer.span("window"):
                        res = wl.window(ctx, tracer)
                finally:
                    restore()
                win.close()
            else:
                res = wl.window(ctx, tracer)
        t = time.perf_counter()
        errors, extra = wl.check(ctx)
        phases = {"check_s": time.perf_counter() - t}
        if args.trace:
            layer = layer_metrics(ctx, res, tracer, win, rss.peak)
            write_spans(os.path.join(base_dir, "traces", f"{args.workload}-s{args.seed}.json"), tracer)
    finally:
        t = time.perf_counter()
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["teardown_s"] = time.perf_counter() - t

    lat = summarize(res.samples_ms, res.weights, res.tail_n)
    failed = int(extra.get("missing_events", 0)) + len(errors)
    attempted = max(res.attempted, 1)
    tail = f"p{lat['tail_p']:g}={lat['tail']:.1f} ms" if lat["tail_p"] else f"no percentile has >={MIN_BEYOND} samples beyond it"
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  setup_s      {setup_s:.3f} s  ({', '.join(f'{k}={v:.3f}' for k, v in ctx.setup.items())})")
    print(f"  rows_per_s   {res.rows_per_s:.1f} rows/s")
    print(f"  op_p50_ms    {lat['median']:.1f} ms  (median over {res.what}; tail counted over n={lat['n']}: {tail})")
    print(f"               samples: {' '.join(f'{v:.0f}' for v in res.samples_ms)}")
    print(f"  peak_rss_mb  {rss.peak / 2**20:.1f} MB  (driver, JVM and Python workers)")
    print(f"  outside the measurement: {', '.join(f'{k}={v:.2f}' for k, v in phases.items())}")
    for k, v in extra.items():
        print(f"  {k:<12} {v:.4f}")
    print(f"  failed_frac  {failed / attempted:.6f}  ({failed} of {attempted})")
    for e in errors:
        print(f"  CHECK FAILED: {e}")
    if args.trace:
        print("\n".join(span_report(tracer)))
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        for k, m in metrics.items():
            print(f"  {k:<40} {m['value']:.4f} {m['unit']}")
    else:
        values = {"setup_s": setup_s, "rows_per_s": res.rows_per_s, "op_p50_ms": lat["median"]}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if not errors and failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["train", "batch_score", "serve_stateful"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
