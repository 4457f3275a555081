"""In-memory spans recorded around calls into the package's layers.

The benchmark never edits the package: in a traced run, ``install``
replaces the listed public callables with wrappers that open a span
and restores the originals afterwards. A span has a name, start, end,
parent and the run-shared id; spans opened on another thread (the
foreachBatch callback) get their parent by time containment in
``nest``. A layer's self time is its duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a no-op so the
    untraced path pays nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=stack[-1].sid if stack else None, run_id=self.run_id)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def add(self, name: str, start: float, end: float, **attrs) -> Span | None:
        """Record a finished span measured elsewhere (a micro-batch from
        its progress report); its parent is assigned by ``nest``."""
        if not self.enabled:
            return None
        with self._lock:
            sp = Span(len(self.spans), name, start, end, None, self.run_id, attrs)
            self.spans.append(sp)
        return sp

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if sp is not None and on_result is not None:
                    sp.attrs.update(on_result(out))
                return out
            finally:
                self.close(sp)

        return wrapper


def nest(spans: list[Span]) -> None:
    """Give each parentless span the shortest longer span that contains
    its interval, so callback-thread spans hang under the micro-batch
    or window they ran in. Spans opened on a stack keep their parent."""
    for s in spans:
        if s.parent is not None:
            continue
        hosts = [o for o in spans if o.start <= s.start and s.end <= o.end and o.duration > s.duration]
        if hosts:
            s.parent = min(hosts, key=lambda o: o.duration).sid


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its children
    cover (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(p.sid, []).append((lo, hi))
    return {s.sid: s.duration - _union_length(children.get(s.sid, [])) for s in spans}


def install(tracer: Tracer) -> callable:
    """Wrap the layer entry points the benchmark drives; returns an
    undo callable that restores every original."""
    from financial_anomaly_detection_spark.ml import ensemble, iforest, lof, reconstruction
    from financial_anomaly_detection_spark.sources import sinks

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, name, on_result=None):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig, on_result))

    orig_build = ensemble.build_feature_pipeline

    def build_feature_pipeline(*args, **kwargs):
        pipeline = orig_build(*args, **kwargs)
        pipeline.fit = tracer.wrap("ml.features.pipeline_fit", pipeline.fit)
        return pipeline

    undo.append((ensemble, "build_feature_pipeline", orig_build))
    ensemble.build_feature_pipeline = build_feature_pipeline
    patch(iforest.IsolationForestModel, "_collect_pool", "ml.iforest.collect_pool",
          lambda pool: {"rows": len(pool)})
    patch(iforest.IsolationForestModel, "fit_pool", "ml.iforest.fit_pool")
    patch(lof.LOFNoveltyModel, "fit_pool", "ml.lof.fit_pool")
    patch(reconstruction.ReconstructionScorer, "fit", "ml.reconstruction.fit")
    patch(ensemble.AnomalyEnsemble, "fit", "ml.ensemble.fit")
    patch(ensemble.AnomalyEnsemble, "transform", "ml.ensemble.transform_call")
    patch(sinks, "write_scores_parquet", "sources.sinks.write")

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
