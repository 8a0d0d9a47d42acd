"""Spans around the engine's public entry points, recorded from outside.

A span is (name, start, end, parent, run id). Spans nest per thread — the
foreachBatch body runs on a py4j callback thread, so each thread keeps its
own stack. They stay in memory and are written once, when the run ends.
A layer's self time is its spans' durations minus the time their child
spans cover.

``install()`` wraps class attributes, so calls the engine makes through
``self`` (e.g. ``LsmStateStore.merge`` calling ``self.compact``) are seen
too; ``uninstall()`` restores the originals. Structured Streaming's own
phases come from a ``StreamingQueryListener`` (progress ``durationMs``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []  # (name, start, end, parent index or -1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict:
        """name -> (calls, self seconds)."""
        child = defaultdict(float)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out = defaultdict(lambda: [0, 0.0])
        for i, (name, start, end, _parent) in enumerate(self.spans):
            out[name][0] += 1
            out[name][1] += (end - start) - child[i]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "run_id": self.run_id,
                "fields": ["name", "start", "end", "parent"],
                "spans": self.spans,
            }, f)


class _Span:
    __slots__ = ("tracer", "name", "start", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        st = self.tracer._stack()
        with self.tracer._lock:
            self.idx = len(self.tracer.spans)
            self.tracer.spans.append(None)  # reserve; filled on exit
        self.start = time.perf_counter()
        st.append((self.idx, self.name))
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        st = self.tracer._stack()
        st.pop()
        parent = st[-1][0] if st else -1
        self.tracer.spans[self.idx] = (self.name, self.start, end, parent)


# public entry points wrapped in a traced run: (module, class, method) -> span
WRAPPED = {
    ("flink_cdc_spark.pipeline.composer", "BatchPipelineComposer", "compose"):
        "pipeline.compose",
    # the transform operator renders parsed expressions without compile();
    # nested and recursive calls of these fold into the outermost span
    **{("flink_cdc_spark.expressions.compiler", "ExpressionCompiler", m): "expressions.compile"
       for m in ("compile", "compile_stored", "render", "render_stored")},
    ("flink_cdc_spark.core.router", "TableIdRouter", "route"): "core.route",
    ("flink_cdc_spark.sinks.lsm_store", "LsmStateStore", "merge"):
        "sinks.lsm_merge",
    ("flink_cdc_spark.sinks.lsm_store", "LsmStateStore", "compact"):
        "sinks.lsm_compact",
    ("flink_cdc_spark.sinks.lsm_store", "LsmStateStore", "read"):
        "sinks.lsm_read",
}


def _wrap(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        st = tracer._stack()
        if st and st[-1][1] == name:  # a recursive or nested call of the same entry
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    traced.__cdcbench_original__ = fn
    return traced


def install(tracer: Tracer) -> None:
    import importlib

    for (mod, cls, meth), name in WRAPPED.items():
        klass = getattr(importlib.import_module(mod), cls)
        setattr(klass, meth, _wrap(klass.__dict__[meth], tracer, name))


def uninstall() -> None:
    import importlib

    for mod, cls, meth in WRAPPED:
        klass = getattr(importlib.import_module(mod), cls)
        original = getattr(klass.__dict__[meth], "__cdcbench_original__", None)
        if original is not None:
            setattr(klass, meth, original)


@contextlib.contextmanager
def installed(tracer):
    """Spans recorded inside the block when ``tracer`` is not None."""
    if tracer is None:
        yield
        return
    install(tracer)
    try:
        yield
    finally:
        uninstall()


# -- Structured Streaming progress ------------------------------------------------

PHASES = {
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.get_batch_s": "getBatch",
    "streaming.query_planning_s": "queryPlanning",
}


def progress_listener(spark):
    """Registers a listener collecting every query's progress events;
    returns (progress list, remove callback)."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress = []

    class _Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append((dict(p.durationMs), int(p.numInputRows)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Collect()
    spark.streams.addListener(listener)
    return progress, lambda: spark.streams.removeListener(listener)


def streaming_metrics(progress, per: float = 1.0) -> dict:
    """Per-epoch phase means from progress events; epochs counted per
    ``per`` (passes). Progress events of idle triggers (no
    addBatch) are skipped."""
    epochs = [(d, n) for d, n in progress if "addBatch" in d]
    k = len(epochs)

    def mean(key_fn):
        return sum(key_fn(d) for d, _ in epochs) / k / 1000.0 if k else 0.0

    out = {
        "streaming.epochs": k / per,
        "streaming.rows_per_epoch": (sum(n for _, n in epochs) / k) if k else 0.0,
        "streaming.epoch_s": mean(lambda d: d.get("triggerExecution", 0)),
        "streaming.body_s": mean(lambda d: d.get("addBatch", 0)),
        "streaming.framework_s": mean(
            lambda d: d.get("triggerExecution", 0) - d.get("addBatch", 0)
        ),
    }
    for metric, phase in PHASES.items():
        out[metric] = mean(lambda d, ph=phase: d.get(ph, 0))
    return out


def wait_for_progress(progress, expected: int, timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously: wait until ``expected``
    epochs have been reported (or the timeout passes)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if sum(1 for d, _ in progress if "addBatch" in d) >= expected:
            return
        time.sleep(0.05)


def state_footprint(root: str) -> tuple:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files
