"""Spans around the benchmark's calls into library layers, with Spark's own
per-stage counters attributed to the layer that ran them.

Tracing is off in the runs that produce end-to-end metrics.  When it is
on, every ``Tracer.call`` opens a span, times the driver-side call
(plan construction plus any eager actions inside it: ``build_s``), then
materializes the returned frames under the job group ``<layer>`` and
caches them (``exec_s``), so the next layer reads a materialized input
and each layer's execution time is its own.

Stage counters come from the status store (executor CPU, GC, shuffle and
spill bytes, task counts).  Every workload is one closed-loop client, so
at most one span is innermost at any time and the stages created while
it is innermost are its own: the tracer reads the stage-id counter on
every span entry and exit and charges the stages in between to the
innermost span's layer.  Nested spans are subtracted from their parent,
so every number is self time.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict

from pyspark.sql import DataFrame

LAYERS = (
    "sources", "datasets", "plans", "operators", "backtesting", "functions",
    "streaming",
)
LAYER_METRICS = {
    "build_s": "s", "exec_s": "s", "cpu_s": "s", "shuffle_mb": "MB",
    "stages": "count", "tasks": "count", "spill_mb": "MB", "gc_s": "s",
}
MB = 1e6


class Tracer:
    """Per-pass layer counters plus the span log of the whole run.

    ``enabled=False`` makes ``call`` a plain function call; ``trace_pass``
    and ``end_pass`` switch it per pass so one run can alternate traced
    and untraced passes.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self.totals: dict[str, float] = defaultdict(float)
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._next_stage = self._dag.nextStageId()

    # ------------------------------------------------------------ passes
    def trace_pass(self) -> None:
        self.enabled = True
        self.totals = defaultdict(float)
        self._next_stage = self._dag.nextStageId()

    def end_pass(self) -> dict[str, float]:
        """Stop tracing, drop the pass's cached layer outputs, and return
        the pass's per-layer totals."""
        self.enabled = False
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        return dict(self.totals)

    # ------------------------------------------------------------- spans
    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` as the benchmark's entry into ``layer``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._push(layer, fn.__name__)
        try:
            out = fn(*args, **kwargs)
            span["built"] = time.perf_counter()
            out = self._materialize(layer, out)
        finally:
            self._pop(span)
        return out

    def nested(self, layer: str, fn):
        """Wrap ``fn`` so calls made to it from inside the library open a
        build-only child span (its output is not materialized)."""
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self._push(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                span["built"] = time.perf_counter()
                self._pop(span)
        wrapper.__name__ = fn.__name__
        return wrapper

    def _push(self, layer: str, name: str) -> dict:
        if self._stack:
            self._flush_stages(self._stack[-1]["layer"])
        else:  # stages the benchmark's own code ran between layer calls
            self._next_stage = self._dag.nextStageId()
        span = {
            "run_id": self.run_id, "id": len(self.spans), "layer": layer,
            "name": name, "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "built": None, "end": None,
            "child_s": 0.0,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _pop(self, span: dict) -> None:
        self._flush_stages(span["layer"])
        span["end"] = time.perf_counter()
        if span["built"] is None:  # the call raised
            span["built"] = span["end"]
        self._stack.pop()
        build = span["built"] - span["start"]
        self.totals[f"{span['layer']}.build_s"] += build - span["child_s"]
        self.totals[f"{span['layer']}.exec_s"] += span["end"] - span["built"]
        if self._stack:
            self._stack[-1]["child_s"] += span["end"] - span["start"]

    def _materialize(self, layer: str, out):
        frames = _frames(out)
        if not frames:
            return out
        self.sc.setJobGroup(layer, f"perfbench {layer} output", False)
        try:
            for df in frames:
                df.cache()
                df.write.format("noop").mode("overwrite").save()
                self._cached.append(df)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out

    def _flush_stages(self, layer: str) -> None:
        """Charge every stage created since the last flush to ``layer``."""
        end = self._dag.nextStageId()
        if end == self._next_stage:
            return
        self._bus.waitUntilEmpty()
        t = self.totals
        for sid in range(self._next_stage, end):
            try:
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            except Exception:  # py4j: a stage the store no longer holds
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                t[f"{layer}.stages"] += 1
                t[f"{layer}.tasks"] += s.numTasks()
                t[f"{layer}.cpu_s"] += s.executorCpuTime() / 1e9
                t[f"{layer}.gc_s"] += s.jvmGcTime() / 1e3
                t[f"{layer}.shuffle_mb"] += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / MB
                t[f"{layer}.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        self._next_stage = end

    def span_log(self) -> list[dict]:
        return [
            {k: s[k] for k in ("run_id", "id", "parent", "layer", "name", "start", "end")}
            for s in self.spans
        ]


def _frames(out) -> list[DataFrame]:
    """The DataFrames inside a layer call's return value."""
    if isinstance(out, DataFrame):
        return [] if out.isStreaming else [out]
    if isinstance(out, (tuple, list)):
        frames = list(out)
    elif isinstance(out, dict):
        frames = list(out.values())
    else:
        return []
    return [x for x in frames if isinstance(x, DataFrame) and not x.isStreaming]
